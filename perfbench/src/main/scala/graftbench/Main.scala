package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one seed, one client thread in
  * a closed loop on local[4].
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <dir> --out <result.json> [--spans <spans.json>]
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics. Traced it
  * runs the same untraced loop, then the loop again with the tracer
  * attached, and reports the per-layer metrics; the two loops' throughput
  * difference is `trace.overhead_pct`.
  */
object Main {

  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    require(Workloads.contains(name), s"unknown workload '$name' (one of ${Workloads.mkString(", ")})")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = name match {
      case "etl_ingest" => new Ingest(spark, seed)
      case "etl_serve" => new Serve(spark, seed)
      case "corpus_curate" => new Curate(spark, seed)
    }
    // set up several times, each from scratch, and keep the last. The warm
    // pass runs on the first set-up's state, so the JIT compiles what it
    // queued there while the later set-ups run, before timing starts.
    val warmRec = new Recorder(NoTrace)
    var warmS = 0.0
    val setupS = (0 until SetupReps).map { i =>
      val t = System.nanoTime()
      w.setup(work.resolve(s"setup-$i"))
      val s = (System.nanoTime() - t) / 1e9
      if (i > 0) Dirs.delete(work.resolve(s"setup-${i - 1}"))
      if (i == 0) {
        val tw = System.nanoTime()
        w.warm(warmRec)
        warmS = (System.nanoTime() - tw) / 1e9
      }
      s
    }

    def loop(rec: Recorder): Unit = {
      val start = System.nanoTime()
      do w.cycle(rec) while (System.nanoTime() - start < seconds * 1e9)
    }
    val rec = new Recorder(NoTrace)
    loop(rec)
    val tracer = if (traced) {
      val tr = new Tracer(spark, name)
      val trRec = new Recorder(tr)
      tr.opIndex = () => trRec.opIndex
      tr.start()
      loop(trRec)
      tr.stop()
      Some((tr, trRec))
    } else None

    val checks = new Recorder(NoTrace)
    w.check(checks)
    val all = Seq(warmRec, rec, checks) ++ tracer.map(_._2)
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum

    def itemsPerS(r: Recorder) = r.items() / (r.wallMs() / 1000.0)
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", sessionS + Stats.median(setupS) + warmS, "s"),
        ("op_p50_ms", Stats.median(rec.latencies(w.primary)), "ms"),
        ("items_per_s", itemsPerS(rec), "1/s"))
      case Some((tr, trRec)) =>
        val user = w.userMetrics(rec)
        val gauges = w.gauges()
        val jvm = Map("jvm.gc_ms" -> tr.gcMs, "jvm.jit_ms" -> tr.jitMs, "jvm.heap_used_peak_mb" -> tr.heapPeakMb,
          "trace.overhead_pct" -> 100.0 * (itemsPerS(rec) - itemsPerS(trRec)) / itemsPerS(rec))
        Layers.all.map { case (metric, unit) =>
          val v = user.get(metric).orElse(gauges.get(metric)).orElse(jvm.get(metric)).getOrElse {
            Layers.split(metric) match {
              case Some((span, attr)) => tr.attr(span, attr)
              case None => 0.0
            }
          }
          (metric, v, unit)
        }
    }
    tracer.foreach { case (tr, trRec) =>
      opts.get("spans").foreach { f =>
        Files.write(Paths.get(f), tr.toJson.getBytes(StandardCharsets.UTF_8))
      }
      val loopMs = trRec.wallMs()
      val covered = tr.spans.filter(s => s.parent < 0).map(_.wallMs).sum
      System.err.println(f"[perfbench] traced loop: ${trRec.samples.size} ops, $loopMs%.0f ms in operations, " +
        f"$covered%.0f ms in top-level spans, ${tr.drainNs / 1e6}%.0f ms listener-bus drains (bookkeeping)")
    }

    val (oracleDir, oracleQueries) = w.oracle
    val json = new StringBuilder
    json.append(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{""")
    json.append(metrics.map { case (k, v, u) => s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }.mkString(","))
    json.append("""},"errors":[""")
    json.append(all.flatMap(_.errors).map(e => "\"" + esc(e) + "\"").mkString(","))
    json.append(s"""],"oracle":{"dir":"${esc(oracleDir)}","queries":[""")
    json.append(oracleQueries.map { case (q, sql, res) =>
      s"""{"name":"${esc(q)}","sql":"${esc(sql)}","result":"${esc(res)}"}"""
    }.mkString(","))
    json.append("]}}\n")
    Files.write(Paths.get(opt("out")), json.toString.getBytes(StandardCharsets.UTF_8))
    System.err.println(f"[perfbench] $name seed=$seed: session ${sessionS}%.2f s, set-up reps " +
      setupS.map(s => f"$s%.2f").mkString("/") + f" s, warm $warmS%.2f s, ${rec.samples.size} timed ops: " +
      rec.samples.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
        val ms = ss.map(_.ms).toSeq
        val p90 = Stats.tailPercentile(ms, 0.9).fold("")(v => f" p90 $v%.0f")
        f"$k ${ss.size}x min/median/max ${ms.min}%.0f/${Stats.median(ms)}%.0f/${ms.max}%.0f$p90 ms"
      }.mkString(", "))
    spark.stop()
  }

  val Workloads: Seq[String] = Seq("etl_ingest", "etl_serve", "corpus_curate")

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
