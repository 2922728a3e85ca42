package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Where a workload marks its layer boundaries. Untraced runs use
  * [[NoTrace]], which only runs the body, so the end-to-end numbers carry
  * no tracing cost.
  */
trait Probe {
  def span[T](name: String)(body: => T): T
  /** Add `v` to attribute `key` of the innermost open span. */
  def note(key: String, v: Double): Unit
  /** File the most recent finished span named `name` also under `alias`. */
  def alias(name: String, alias: String): Unit
}

object NoTrace extends Probe {
  def span[T](name: String)(body: => T): T = body
  def note(key: String, v: Double): Unit = ()
  def alias(name: String, alias: String): Unit = ()
}

final class Span(val id: Int, val name: String, val workload: String, val opIndex: Int,
    val parent: Int, val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  var aliases: List[String] = Nil
  val jobIntervals: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty
  val attrs: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  // listener threads and the client thread both add to a span's attributes
  def add(key: String, v: Double): Unit = synchronized { attrs(key) += v }
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory, with Spark's own events attributed to them:
  *  - a SparkListener for job intervals and TaskEnd metrics;
  *  - a QueryExecutionListener for the planning phases;
  *  - a StreamingQueryListener for the ingest query's trigger split.
  * The listener bus is drained at every span boundary, so an event always
  * lands on the span that was innermost when it was posted.
  */
final class Tracer(spark: SparkSession, workload: String) extends Probe {
  /** The client's current operation number, stamped on each span. */
  var opIndex: () => Int = () => 0
  private val sc = spark.sparkContext
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Span] = Nil
  @volatile private var owner: Span = _
  private val jobSpan = mutable.HashMap.empty[Int, (Span, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  var drainNs: Long = 0L

  private def drain(): Unit = {
    val t = System.nanoTime()
    Bus.drain(sc)
    drainNs += System.nanoTime() - t
  }

  def span[T](name: String)(body: => T): T = {
    drain()
    val s = new Span(spans.size, name, workload, opIndex(),
      stack.headOption.map(_.id).getOrElse(-1), System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    owner = s
    sc.setJobDescription(s"perfbench:$name")
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      drain()
      stack = stack.tail
      owner = stack.headOption.orNull
      sc.setJobDescription(stack.headOption.map(p => s"perfbench:${p.name}").orNull)
    }
  }

  def note(key: String, v: Double): Unit = stack.headOption.foreach(_.add(key, v))

  def alias(name: String, alias: String): Unit =
    spans.reverseIterator.find(_.name == name).foreach(s => s.aliases = alias :: s.aliases)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = owner
      if (s != null) {
        s.add("jobs", 1)
        jobSpan(e.jobId) = (s, e.time)
        e.stageIds.foreach(st => stageSpan(st) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpan.remove(e.jobId).foreach { case (s, start) => s.jobIntervals += ((start, e.time)) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      stageSpan.get(e.stageId).filter(_ => m != null).foreach { s =>
        s.add("task_cpu_ms", m.executorCpuTime / 1e6)
        s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("input_records", m.inputMetrics.recordsRead.toDouble)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val s = owner
      if (s != null) {
        val p = qe.tracker.phases
        s.add("plan_ms", Seq("analysis", "optimization", "planning")
          .flatMap(p.get).map(_.durationMs.toDouble).sum)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val s = owner
      if (s != null && e.progress.name == Tracer.IngestQuery)
        e.progress.durationMs.asScala.foreach { case (k, v) => s.add(s"stream.$k", v.doubleValue) }
    }
  }

  // JVM counters over the traced interval
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private var gc0 = 0L
  private var jit0 = 0L
  var gcMs = 0.0
  var jitMs = 0.0
  var heapPeakMb = 0.0

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    gc0 = gcBeans.map(_.getCollectionTime).sum
    jit0 = jit.getTotalCompilationTime
    heapPools.foreach(_.resetPeakUsage())
  }

  def stop(): Unit = {
    drain()
    gcMs = (gcBeans.map(_.getCollectionTime).sum - gc0).toDouble
    jitMs = (jit.getTotalCompilationTime - jit0).toDouble
    heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Span `s`'s time not covered by its Spark jobs. */
  def driverGapMs(s: Span): Double =
    Stats.uncovered(s.startMs, s.endMs, s.jobIntervals.toSeq).toDouble

  /** Span `s`'s duration minus the part its child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).toSeq
    Stats.uncovered(s.startNs, s.endNs, kids) / 1e6
  }

  def instances(name: String): Seq[Span] =
    spans.filter(s => s.name == name || s.aliases.contains(name)).toSeq

  /** `<span>.<attr>`: the median over the span's instances of the
    * per-instance value (0 when the span never ran in this workload).
    */
  def attr(span: String, attr: String): Double = {
    val xs = instances(span).map { s =>
      attr match {
        case "wall_ms" => s.wallMs
        case "driver_gap_ms" => driverGapMs(s)
        case "rows_read_per_row" => s.attrs("input_records") / math.max(1.0, s.attrs("rows_returned"))
        case a => s.attrs(a)
      }
    }
    Stats.median(xs)
  }

  def toJson: String = {
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    spans.map { s =>
      val a = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"name":"${esc(s.name)}","aliases":[${s.aliases.map(x => "\"" + esc(x) + "\"").mkString(",")}],""" +
        s""""workload":"${esc(s.workload)}","op":${s.opIndex},"parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_ms":${s.wallMs},""" +
        s""""self_ms":${selfMs(s)},"driver_gap_ms":${driverGapMs(s)},"attrs":{$a}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  val IngestQuery = "perfbench-ingest"
}
