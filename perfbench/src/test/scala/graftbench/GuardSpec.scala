package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the benchmark's own sources and its declared metrics. */
class GuardSpec extends AnyFunSuite {

  private val main = Paths.get("src", "main")

  private def sources: Seq[(String, String)] = {
    val s = Files.walk(main)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p.toString -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    finally s.close()
  }

  test("the benchmark uses none of the hook vars, retired write paths or tools mains") {
    // names a later change deletes; the benchmark must not depend on them
    val forbidden = Seq(
      "onChainDrift", "onChangesPath", "onExtremaRecompute", "onDirtyRoute", "onBeforeHeadPublish",
      "onForceStep", "onAfterStreamFold", "onTableRoute", "onSinkCommit",
      "upsertBatch", "upsertBucketed", "upsertBucketedAtomic", "upsertBucketedOptimistic",
      "graft.tools")
    assert(sources.nonEmpty)
    val hits = for {
      (file, text) <- sources
      name <- forbidden
      if ("""(?<![\w.])""" + java.util.regex.Pattern.quote(name) + """(?![\w])""").r.findFirstIn(text).isDefined
    } yield s"$file: $name"
    assert(hits.isEmpty, s"forbidden references: ${hits.mkString(", ")}")
  }

  test("BENCHMARK.json declares exactly the metrics the benchmark prints") {
    val json = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), StandardCharsets.UTF_8)
    def names(section: String): Seq[(String, String)] = {
      val body = json.split("\"" + section + "\"", 2)(1).split("]", 2)(0)
      """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2)).toSeq
    }
    assert(names("per_layer") == Layers.all)
    assert(names("end_to_end") == Seq("setup_s" -> "s", "op_p50_ms" -> "ms", "items_per_s" -> "1/s"))
    assert(Layers.all.map(_._1).distinct.size == Layers.all.size)
    assert(Layers.all.size <= 128)
  }

  test("every per-layer span metric resolves to a span attribute") {
    val resolvable = Layers.all.map(_._1).filter(Layers.split(_).isDefined)
    val fixed = (Layers.gauges ++ Layers.user).map(_._1)
    assert((resolvable ++ fixed).sorted == Layers.all.map(_._1).sorted)
  }
}
