package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ingest.CsvExtract
import graft.route.Rules
import graft.sink.MaterializedAggView
import graft.sink.MaterializedAggView.AggCol
import graft.xform.Transform

/** etl_ingest: the paper's write path. CSV waves land one at a time by
  * atomic rename; each wave is one AvailableNow trigger on the resumed
  * checkpoint (CsvExtract.stream -> toEvents -> Rules.matches ->
  * Transform.toRecord -> graft-upsert), then one maintainStream drain
  * folds it into a per-event_type view. One cycle is three waves; after
  * the second come a tombstone write for 1k keys and a DELETE WHERE, after
  * the third a vacuum. Five commits per cycle against compactAfter = 5
  * make the table fold its chains once per cycle.
  */
final class Ingest(spark: SparkSession, seed: Long) extends Workload {
  import Ingest._

  private var root: Path = _
  private def sub(name: String): String = root.resolve(name).toString
  private def table = sub("table")
  private def view = sub("view")
  private def ingestCkpt = sub("ckpt-ingest")
  private def viewCkpt = sub("ckpt-view")

  private var waves: IndexedSeq[Array[Gen.Event]] = _
  private var tombs: IndexedSeq[Seq[(Long, Long)]] = _
  private var next = 0
  private var model = new KeyedModel

  // write amplification: bytes of every file that appeared under the
  // table, view and checkpoints while the loops ran, per CSV byte landed
  private val seen = mutable.HashMap.empty[String, Long]
  private var bytesWritten = 0L
  private var bytesLanded = 0L
  private var tracking = false

  private def waveFile(w: Int) = f"wave-$w%05d.csv"

  def setup(dir: Path): Unit = {
    root = dir
    Seq("staging", "landing").foreach(d => Files.createDirectories(root.resolve(d)))
    val r = Gen.rng(seed, "waves")
    val zipf = new Gen.Zipf(Keys, ZipfS)
    waves = (0 until MaxWaves).map(w => Gen.events(r, zipf, WaveEvents, w.toLong * SeqStride + 1))
    tombs = (0 until MaxWaves).map { w =>
      val rt = Gen.rng(seed, s"tombstones-$w")
      (0 until TombstoneKeys).map(i => (zipf.draw(rt).toLong, w.toLong * SeqStride + WaveEvents + i + 1))
    }
    waves.indices.foreach(w => Files.write(root.resolve("staging").resolve(waveFile(w)), Gen.csv(waves(w))))
    next = 0
    model = new KeyedModel
    seen.clear(); bytesWritten = 0; bytesLanded = 0; tracking = false
    // the table is created by the first wave through the stream, and the
    // view is bootstrapped on it
    land()
    trigger()
    MaterializedAggView.bootstrap(spark, table, view, Seq("user_id"), Seq(col("seq")),
      Seq("event_type"), ViewAggs)
  }

  def warm(rec: Recorder): Unit = {
    wave(rec)
    deletes(rec)
    vacuum(rec)
  }

  def cycle(rec: Recorder): Unit = {
    if (!tracking) {
      // write amplification counts from the first timed cycle on
      tracking = true
      track()
      bytesWritten = 0
    }
    (1 to CycleWaves).foreach { k =>
      wave(rec)
      if (k == 2) deletes(rec)
      if (k == CycleWaves) vacuum(rec)
    }
  }

  def primary(kind: String): Boolean = kind == "wave"

  private def nextWave: Array[Gen.Event] = {
    require(next < waves.size, s"all $MaxWaves pre-generated waves are used; run fewer seconds or raise MaxWaves")
    waves(next)
  }

  /** Move the next staged wave into the landing directory (atomic rename). */
  private def land(): Unit = {
    val w = next
    next += 1
    val f = waveFile(w)
    Files.move(root.resolve("staging").resolve(f), root.resolve("landing").resolve(f),
      StandardCopyOption.ATOMIC_MOVE)
    if (tracking) bytesLanded += Files.size(root.resolve("landing").resolve(f))
    model.upsert(waves(w).filter(e => Gen.Routed(e.eventType)), 0L)
  }

  private def trigger(): Unit =
    CsvExtract.stream(spark, sub("landing"), Gen.CsvHeader)
      .transform(CsvExtract.toEvents)
      .filter(Rules.matches(Map("detail.data.event_type" -> Seq(Rules.Match.AnythingBut("heartbeat")))))
      .transform(Transform.toRecord(_, Gen.CsvHeader.map(h => h -> h)))
      .select(col("user_id").cast("long").as("user_id"), col("seq").cast("long").as("seq"),
        col("event_type"), col("value"))
      .writeStream.format("graft-upsert").queryName(Tracer.IngestQuery)
      .option("path", table).option("streamId", "ingest")
      .option("keys", "user_id").option("orderBy", "seq")
      .option("numBuckets", Buckets.toString).option("compactAfter", CompactAfter.toString)
      .option("checkpointLocation", ingestCkpt)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  private def drainView(): Unit =
    MaterializedAggView.maintainStream(spark, table, view, Seq("user_id"), Seq(col("seq")),
      Seq("event_type"), ViewAggs, checkpointDir = viewCkpt).awaitTermination()

  private def maxChain(): Long =
    spark.read.format("graft-table").option("path", table).option("stats", "true").load()
      .agg(max("chain_len")).head().getLong(0)

  /** One wave: freshness runs from the rename into the landing directory
    * until the wave is committed to the table and folded into the view.
    */
  private def wave(rec: Recorder): Unit = {
    val p = rec.probe
    val traced = p ne NoTrace
    val chainBefore = if (traced) maxChain() else 0L
    rec.op("wave", nextWave.count(e => Gen.Routed(e.eventType)).toLong) {
      land()
      p.span("ingest.trigger")(trigger())
      p.span("sink.view_drain")(drainView())
    }
    // a fold shows from outside as the chain length dropping
    if (traced && maxChain() < chainBefore) p.alias("ingest.trigger", "ingest.trigger_fold")
    track()
  }

  private def deletes(rec: Recorder): Unit = {
    val p = rec.probe
    val batch = tombs(next - 1)
    rec.op("delete", 0) {
      p.span("sink.delete") {
        spark.createDataFrame(batch).toDF("user_id", "seq")
          .write.format("graft-table").option("path", table).option("delete", "true")
          .option("compactAfter", CompactAfter.toString).mode("append").save()
      }
    }
    model.delete(batch, 0L)
    track()
    rec.op("delete_where", 0) {
      p.span("sink.delete_where") {
        spark.emptyDataFrame.write.format("graft-table").option("path", table)
          .option("deleteWhere", "event_type = 'churn'")
          .option("compactAfter", CompactAfter.toString).mode("append").save()
      }
    }
    model.deleteWhere("churn", 0L)
    track()
  }

  private def vacuum(rec: Recorder): Unit = {
    val p = rec.probe
    rec.op("vacuum", 0) {
      p.span("sink.vacuum") {
        val before = if (p ne NoTrace) Dirs.files(root.resolve("table")).size else 0
        spark.emptyDataFrame.write.format("graft-table").option("path", table)
          .option("maintain", "vacuum").option("graceManifests", "2").option("quiesceMs", "0")
          .mode("append").save()
        if (p ne NoTrace) p.note("files_removed", (before - Dirs.files(root.resolve("table")).size).toDouble)
      }
    }
    track()
  }

  private def track(): Unit = if (tracking) {
    Seq("table", "view", "ckpt-ingest", "ckpt-view").foreach { d =>
      Dirs.files(root.resolve(d)).foreach { f =>
        val k = f.toString
        val size = Files.size(f)
        if (!seen.get(k).contains(size)) {
          bytesWritten += size
          seen(k) = size
        }
      }
    }
  }

  def check(rec: Recorder): Unit = {
    val got = Digest.of(spark.read.format("graft-table").option("path", table).load())
    rec.verify(got == model.digest, s"etl_ingest resolved table $got != reference ${model.digest}")
    val viewRows = MaterializedAggView.read(spark, view).collect()
      .map(r => r.getAs[String]("event_type") -> (r.getAs[Long]("n"), r.getAs[Long]("sum_seq")))
      .filter(_._2._1 != 0).toMap
    val want = model.byType.map { case (t, d) => t -> (d.rows, d.seqSum) }
    rec.verify(viewRows == want, s"etl_ingest view $viewRows != reference $want")
  }

  def userMetrics(rec: Recorder): Map[String, Double] = {
    val plain = root.resolve("resolved-plain").toString
    spark.read.format("graft-table").option("path", table).load().write.parquet(plain)
    val liveBytes = Dirs.bytes(root.resolve("resolved-plain")).toDouble
    Map(
      "freshness_p50_ms" -> Stats.median(rec.latencies(primary)),
      "ingest_events_per_s" -> rec.items() / (rec.wallMs() / 1000.0),
      "write_amp" -> bytesWritten.toDouble / math.max(1L, bytesLanded),
      "space_amp" -> Dirs.bytes(root.resolve("table")) / math.max(1.0, liveBytes))
  }

  override def gauges(): Map[String, Double] = {
    val stats = spark.read.format("graft-table").option("path", table).option("stats", "true").load()
      .agg(avg("chain_len"), max("chain_len"), sum("files")).head()
    val versions = spark.read.format("graft-table").option("path", table).option("history", "true").load().count()
    Map(
      "sink.chain_len_mean" -> stats.getDouble(0),
      "sink.chain_len_max" -> stats.getLong(1).toDouble,
      "sink.versions" -> versions.toDouble,
      "sink.table_files" -> stats.getLong(2).toDouble,
      "sink.table_bytes" -> Dirs.bytes(root.resolve("table")).toDouble,
      "sink.checkpoint_bytes" -> (Dirs.bytes(root.resolve("ckpt-ingest")) + Dirs.bytes(root.resolve("ckpt-view"))).toDouble)
  }
}

object Ingest {
  val WaveEvents = 10000
  val Keys = 1000000
  val ZipfS = 1.05
  val TombstoneKeys = 1000
  val SeqStride: Long = WaveEvents + TombstoneKeys
  val MaxWaves = 24
  val Buckets = 16
  val CompactAfter = 5
  val CycleWaves = 3
  val ViewAggs: Seq[AggCol] = Seq(AggCol("n", lit(1L)), AggCol("sum_seq", col("seq")))
}
