package graftbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.analytics.Queries
import graft.events.EventAnalytics
import graft.sink.KeyedUpsertSink

/** etl_serve: the keyed tier as a read path beside the analytic
  * operators. Set-up builds the table from a few large batch upserts and
  * writes a star schema and an events table; one cycle is a seeded
  * shuffle of 17 operations: 10 lookups of 64 Zipf-drawn keys through the
  * graft-table IN filter, 1 resolved snapshot aggregate, 1 graft-changes
  * read since head-3, 1 versionAsOf read at head-2, 3 analytic operators
  * (rotating through seven, so a traced run's two cycles reach both the
  * star-schema and the event operators) and 1 small upsert of 1k rows.
  * The upserts move the head, so reads never serve a frozen table.
  */
final class Serve(spark: SparkSession, seed: Long) extends Workload {
  import Serve._

  private var root: Path = _
  private def table = root.resolve("table").toString
  private def star = root.resolve("star").toString
  // beside the set-up directories: the warm pass that writes it runs on the
  // first set-up, which a later one replaces (the inputs are the same)
  private def oracleDir = root.resolveSibling("oracle")

  private var builds: IndexedSeq[Array[Gen.Event]] = _
  private var upserts: IndexedSeq[Array[Gen.Event]] = _
  private var lookups: IndexedSeq[Seq[Long]] = _
  private var nextUpsert = 0
  private var nextLookup = 0
  private var nextAnalytic = 0
  private var cycles = 0
  private var head = 0L
  private var model = new KeyedModel
  private var expected = Map.empty[String, (Long, Long)]

  private val schema = StructType(Seq(
    StructField("user_id", LongType, nullable = false), StructField("seq", LongType, nullable = false),
    StructField("event_type", StringType), StructField("value", StringType)))

  private def frame(events: Array[Gen.Event]): DataFrame =
    spark.createDataFrame(events.toSeq.map(e => Row(e.userId, e.seq, e.eventType, e.value)).asJava, schema)

  private def versions(): Long = KeyedUpsertSink.tableVersions(table).lastOption.getOrElse(0L)

  /** One batch upsert commit; the reference learns the rows at the data
    * commit's version, and every version the write created resolves to the
    * new state (an automatic fold commits content-identical versions).
    */
  private def upsert(events: Array[Gen.Event]): Unit =
    frame(events).write.format("graft-table").mode("append").option("path", table)
      .option("keys", "user_id").option("orderBy", "seq")
      .option("numBuckets", Buckets.toString).option("compactAfter", CompactAfter.toString)
      .save()

  private def recordUpsert(events: Array[Gen.Event]): Unit = {
    val before = head
    head = versions()
    model.upsert(events.toSeq, before + 1)
    (before + 1 to head).foreach(model.commit)
  }

  def setup(dir: Path): Unit = {
    root = dir
    val r = Gen.rng(seed, "serve")
    val zipf = new Gen.Zipf(Keys, ZipfS)
    builds = (0 until BuildBatches).map(b => Gen.events(r, zipf, BuildRows, b.toLong * BuildRows + 1))
    val upFirst = BuildBatches.toLong * BuildRows + 1
    upserts = (0 until MaxUpserts).map(u => Gen.events(r, zipf, UpsertRows, upFirst + u.toLong * UpsertRows))
    lookups = (0 until MaxLookups).map(_ => Seq.fill(LookupKeys)(zipf.draw(r).toLong))
    nextUpsert = 0; nextLookup = 0; nextAnalytic = 0; cycles = 0; head = 0L
    model = new KeyedModel
    writeStar()
    builds.foreach { b => upsert(b); recordUpsert(b) }
  }

  private def writeStar(): Unit = {
    val s = Gen.star(seed, Customers)
    def save(name: String, df: DataFrame): Unit = df.coalesce(1).write.parquet(s"$star/$name.parquet")
    import spark.implicits._
    save("region", s.region.toDF("r_regionkey", "r_name"))
    save("nation", s.nation.toDF("n_nationkey", "n_name", "n_regionkey"))
    save("customer", s.customer.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    save("supplier", s.supplier.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    save("orders", s.orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"))
    save("lineitem", s.lineitem.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate"))
    save("events", Gen.eventTable(seed, EventRows, EventUsers)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
  }

  def warm(rec: Recorder): Unit = {
    Seq("lookup", "snapshot", "changes", "time_travel", "upsert").foreach(run(rec, _))
    // every analytic operator once: its result hash becomes the value each
    // later repetition must reproduce, and its rows go to the DuckDB oracle
    Analytics.foreach { case (name, _, f) =>
      val out = oracleDir.resolve(name).toString
      f(spark, star).write.parquet(out)
      expected += name -> Digest.ofAny(spark.read.parquet(out))
    }
  }

  def cycle(rec: Recorder): Unit = {
    val r = Gen.rng(seed, s"cycle-$cycles")
    cycles += 1
    val schedule = Schedule.toArray
    for (i <- schedule.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = schedule(i); schedule(i) = schedule(j); schedule(j) = t
    }
    schedule.foreach(run(rec, _))
  }

  def primary(kind: String): Boolean = true

  private def read: DataFrame = spark.read.format("graft-table").option("path", table).load()

  private def run(rec: Recorder, kind: String): Unit = {
    val p = rec.probe
    kind match {
      case "lookup" =>
        val keys = lookups(nextLookup % lookups.size)
        nextLookup += 1
        rec.op(kind, 1) {
          p.span("sources.lookup") {
            val rows = read.filter(col("user_id").isin(keys: _*)).collect()
            p.note("rows_returned", rows.length.toDouble)
            rows
          }
        }.foreach { rows =>
          val got = rows.foldLeft(Digest.Zero)((acc, r) =>
            acc + Digest.row(r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
          val want = model.lookup(keys)
          if (got != want) rec.fail(s"etl_serve lookup at v$head: $got != reference $want")
        }
      case "snapshot" =>
        rec.op(kind, 1)(p.span("sources.snapshot")(Digest.byType(read))).foreach { got =>
          if (got != model.byType) rec.fail(s"etl_serve snapshot at v$head: $got != reference ${model.byType}")
        }
      case "changes" =>
        // the table has at least two versions; a young one reads from v0
        val from = math.max(0L, head - 3)
        rec.op(kind, 1)(p.span("sources.changes")(Digest.of(spark.read.format("graft-changes")
          .option("path", table).option("fromVersion", from.toString).load()))).foreach { got =>
          val want = model.changedSince(from)
          if (got != want) rec.fail(s"etl_serve changes ($from, $head]: $got != reference $want")
        }
      case "time_travel" =>
        val v = math.max(1L, head - 2)
        rec.op(kind, 1)(p.span("sources.time_travel")(Digest.of(spark.read.format("graft-table")
          .option("path", table).option("versionAsOf", v.toString).load()))).foreach { got =>
          val want = model.digestAt(v)
          if (!want.contains(got)) rec.fail(s"etl_serve versionAsOf $v: $got != reference $want")
        }
      case "upsert" =>
        require(nextUpsert < upserts.size, s"all $MaxUpserts pre-generated upserts are used")
        val batch = upserts(nextUpsert)
        nextUpsert += 1
        val ok = rec.op(kind, 1)(p.span("sink.upsert")(upsert(batch)))
        // the reference follows the table even when the write threw:
        // whatever committed is what later reads are checked against
        if (ok.isDefined || versions() != head) recordUpsert(batch)
      case "analytic" =>
        val (name, span, f) = Analytics(nextAnalytic % Analytics.size)
        nextAnalytic += 1
        rec.op(kind, 1)(p.span(span)(Digest.ofAny(f(spark, star)))).foreach { got =>
          if (!expected.get(name).contains(got))
            rec.fail(s"etl_serve $name: result hash $got != set-up hash ${expected.get(name)}")
        }
    }
  }

  def check(rec: Recorder): Unit = {
    val got = Digest.of(read)
    rec.verify(got == model.digest, s"etl_serve resolved table $got != reference ${model.digest}")
  }

  def userMetrics(rec: Recorder): Map[String, Double] = {
    val sql = rec.samples.filter(_.kind == "analytic").map(_.ms).toSeq
    Map(
      "lookup_p50_ms" -> Stats.median(rec.latencies(_ == "lookup")),
      "snapshot_p50_ms" -> Stats.median(rec.latencies(_ == "snapshot")),
      "sql_p50_ms" -> Stats.median(sql),
      "queries_per_s" -> rec.samples.size / (rec.wallMs() / 1000.0))
  }


  override def oracle: (String, Seq[(String, String, String)]) =
    (star, Analytics.map { case (name, _, _) =>
      (name, SparkEntry.oracleSql(name), oracleDir.resolve(name).toString)
    })
}

object Serve {
  val Keys = 200000
  val ZipfS = 1.05
  val BuildBatches = 2
  val BuildRows = 25000
  val UpsertRows = 1000
  val MaxUpserts = 40
  val LookupKeys = 64
  val MaxLookups = 500
  val Buckets = 16
  val CompactAfter = 8
  val Customers = 800
  val EventRows = 20000
  val EventUsers = 2000

  val Schedule: Seq[String] =
    Seq.fill(10)("lookup") ++ Seq("snapshot", "changes", "time_travel") ++
      Seq.fill(3)("analytic") ++ Seq("upsert")

  /** The driver queries behind the analytic operations: (name, span, plan). */
  val Analytics: IndexedSeq[(String, String, (SparkSession, String) => DataFrame)] = IndexedSeq(
    ("q1_agg", "analytics.query", Queries.q1PricingSummary),
    ("q5_join", "analytics.query", Queries.q5RevenueByNation),
    ("q_window_rank", "analytics.query", (s, d) => Queries.topOrdersPerCustomer(s, d)),
    ("q_rollup", "analytics.query", Queries.rollupCounts),
    ("events_sessionize", "events.query", (s, d) => EventAnalytics.sessionize(Tables.events(s, d))),
    ("events_asof_join", "events.query", (s, d) => EventAnalytics.asofJoin(Tables.events(s, d), "purchase", "click")),
    ("events_tumbling", "events.query", (s, d) => EventAnalytics.tumblingDaily(Tables.events(s, d))))
}
