package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One timed operation as the client saw it. */
final case class Sample(kind: String, ms: Double, items: Long)

/** The single client's closed loop: each operation starts after the
  * previous one returned. Only the operation bodies are timed; checks and
  * bookkeeping between operations are not.
  */
final class Recorder(val probe: Probe) {
  val samples: ArrayBuffer[Sample] = ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L
  val errors: ArrayBuffer[String] = ArrayBuffer.empty
  private var index = 0
  def opIndex: Int = index

  /** Time `body` as one operation of `kind` that handles `items` items.
    * A thrown exception counts the operation as failed and returns None.
    */
  def op[T](kind: String, items: Long)(body: => T): Option[T] = {
    attempted += 1
    index += 1
    val t0 = System.nanoTime()
    try {
      val r = probe.span(s"op.$kind")(body)
      samples += Sample(kind, (System.nanoTime() - t0) / 1e6, items)
      Some(r)
    } catch {
      case NonFatal(e) =>
        fail(s"$kind #$index threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** A reference mismatch on an operation already counted as attempted. */
  def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 50) errors += msg
    System.err.println(s"[perfbench] FAILED CHECK: $msg")
  }

  /** A check that is its own attempt (end-of-run state comparisons). */
  def verify(ok: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!ok) fail(msg)
  }

  def wallMs(kinds: String => Boolean = _ => true): Double =
    samples.filter(s => kinds(s.kind)).map(_.ms).sum

  def items(kinds: String => Boolean = _ => true): Long =
    samples.filter(s => kinds(s.kind)).map(_.items).sum

  def latencies(kinds: String => Boolean): Seq[Double] =
    samples.filter(s => kinds(s.kind)).map(_.ms).toSeq
}

/** One benchmark workload. `setup` builds a fresh, complete state from
  * the seed under `dir` (it runs several times; the last one is used);
  * `warm` runs every operation kind once untimed; `cycle` runs one whole
  * period of the operation schedule, so a run always measures whole
  * periods; `check` compares the program's state with the reference.
  */
trait Workload {
  def setup(dir: Path): Unit
  def warm(rec: Recorder): Unit
  def cycle(rec: Recorder): Unit
  def check(rec: Recorder): Unit
  /** The operation kinds whose latency is the workload's `op_p50_ms`. */
  def primary(kind: String): Boolean
  /** The workload's own user-facing numbers, from the untraced loop. */
  def userMetrics(rec: Recorder): Map[String, Double]
  /** End-of-run gauges of the layers this workload stresses. */
  def gauges(): Map[String, Double] = Map.empty
  /** For the out-of-process DuckDB oracle check: the directory of input
    * tables, and per query its name, oracle SQL and result directory.
    */
  def oracle: (String, Seq[(String, String, String)]) = ("", Nil)
}

object Dirs {
  def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def bytes(root: Path): Long = files(root).map(p => Files.size(p)).sum

  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
