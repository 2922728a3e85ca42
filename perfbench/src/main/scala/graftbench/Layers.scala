package graftbench

/** The per-layer metric names (`<span>.<attr>`), with units. Spans
  * record where a workload's calls into graft's public functions spent
  * their time; a span that never runs on a workload reports 0 there.
  */
object Layers {
  private val units = Map(
    "wall_ms" -> "ms", "jobs" -> "count", "driver_gap_ms" -> "ms", "plan_ms" -> "ms",
    "task_cpu_ms" -> "ms", "input_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes", "output_bytes" -> "bytes",
    "rows_read_per_row" -> "ratio", "pairs" -> "count", "files_removed" -> "count")

  private val W = "wall_ms"; private val J = "jobs"; private val G = "driver_gap_ms"
  private val P = "plan_ms"; private val C = "task_cpu_ms"; private val I = "input_bytes"
  private val SR = "shuffle_read_bytes"; private val SW = "shuffle_write_bytes"
  private val SP = "spill_bytes"; private val O = "output_bytes"

  val spans: Seq[(String, Seq[String])] = Seq(
    // etl_ingest
    "ingest.trigger" -> Seq(W, J, G, P, C, I, SW, O),
    "ingest.trigger_fold" -> Seq(W, O),
    "sink.view_drain" -> Seq(W, J, G, P, C, SR),
    "sink.delete" -> Seq(W, J, G, O),
    "sink.delete_where" -> Seq(W, J, G, SR, O),
    "sink.vacuum" -> Seq(W, "files_removed"),
    // etl_serve
    "sources.lookup" -> Seq(W, J, G, P, C, I, "rows_read_per_row"),
    "sources.snapshot" -> Seq(W, J, G, P, C, I, SR, SW),
    "sources.changes" -> Seq(W, J, G, C, SR),
    "sources.time_travel" -> Seq(W, G, P, SR),
    "sink.upsert" -> Seq(W, J, G, O),
    "analytics.query" -> Seq(W, J, G, P, C, SR),
    "events.query" -> Seq(W, J, G, P, C, SR),
    // corpus_curate
    "pipeline.curate" -> Seq(W, J, G, P, C, SW, SP),
    "dedup.minhash" -> Seq(W, J, G, C, SW, "pairs"),
    "sim.semdedup" -> Seq(W, J, G, C, SW),
    "sim.ann" -> Seq(W, J, G, C, SW))

  /** The ingest query's own trigger split (StreamingQueryProgress.durationMs). */
  val stream: Seq[(String, String)] = Seq(
    "stream.latest_offset_ms" -> "latestOffset", "stream.query_planning_ms" -> "queryPlanning",
    "stream.add_batch_ms" -> "addBatch", "stream.wal_commit_ms" -> "walCommit",
    "stream.commit_offsets_ms" -> "commitOffsets")

  val gauges: Seq[(String, String)] = Seq(
    "sink.chain_len_mean" -> "count", "sink.chain_len_max" -> "count", "sink.versions" -> "count",
    "sink.table_files" -> "count", "sink.table_bytes" -> "bytes", "sink.checkpoint_bytes" -> "bytes",
    "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms", "jvm.heap_used_peak_mb" -> "MB", "trace.overhead_pct" -> "%")

  /** Each workload's own user-facing numbers. They exist on one workload
    * only, so they cannot be end-to-end metrics (every workload reports
    * every end-to-end metric); they ride in the traced run instead.
    */
  val user: Seq[(String, String)] = Seq(
    "freshness_p50_ms" -> "ms", "ingest_events_per_s" -> "1/s", "write_amp" -> "ratio", "space_amp" -> "ratio",
    "lookup_p50_ms" -> "ms", "snapshot_p50_ms" -> "ms", "sql_p50_ms" -> "ms", "queries_per_s" -> "1/s",
    "docs_per_s" -> "1/s", "vectors_per_s" -> "1/s", "dedup_recall" -> "ratio", "ann_recall" -> "ratio")

  val all: Seq[(String, String)] =
    spans.flatMap { case (s, attrs) => attrs.map(a => s"$s.$a" -> units(a)) } ++
      stream.map { case (m, _) => m -> "ms" } ++ gauges ++ user

  /** `<span>.<attr>` for the span metrics; stream metrics map to the
    * ingest trigger span's progress attributes.
    */
  def split(metric: String): Option[(String, String)] =
    stream.collectFirst { case (m, k) if m == metric => ("ingest.trigger", s"stream.$k") }
      .orElse(spans.collectFirst {
        case (s, attrs) if metric.startsWith(s + ".") && attrs.contains(metric.drop(s.length + 1)) =>
          (s, metric.drop(s.length + 1))
      })
}
