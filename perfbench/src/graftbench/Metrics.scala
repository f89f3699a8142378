package graftbench

/** The benchmark's metric table: every name it may print, with its unit.
  * `BENCHMARK.json` at the repository root lists the same names; `run.py`
  * refuses a result whose metric set differs from it, and
  * `test_perfbench.py` checks this table against the file.
  *
  * End-to-end metrics are printed by every workload (each workload gives
  * them its own meaning, see README.md). Per-layer metrics are printed by
  * every traced run; a layer the workload does not touch reads 0.
  */
object Metrics {

  /** (name, unit) of the end-to-end metrics, printed with `--trace 0`. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms",
    "peak_rss_mb" -> "MB")

  /** The per-request Spark counters reported for every request kind. */
  val sparkKeys: Seq[(String, String)] = Seq(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "executor_run_ms" -> "ms", "executor_cpu_ms" -> "ms",
    "input_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "gc_ms" -> "ms", "overhead_frac" -> "ratio")

  /** Request kinds whose Spark jobs are grouped and counted. */
  val sparkOps: Seq[String] =
    Seq("ship_batch", "curate_build", "bm25_query", "ann_query", "bm25_append")

  /** Span names whose self time is reported (`self_ms.<name>`). */
  val spanNames: Seq[String] = Seq(
    "ship.batch", "ship.batch.job",
    "curate.build", "curate.build.plan", "curate.build.exec",
    "search.step", "bm25_query", "bm25_query.plan", "bm25_query.exec",
    "ann_query", "ann_query.plan", "ann_query.exec",
    "search.write", "bm25_append", "bm25_maintain")

  /** (name, unit) of the per-layer metrics, printed with `--trace 1`. */
  val perLayer: Seq[(String, String)] = Seq(
    "gen.late_ms_max" -> "ms",
    "streaming.batches" -> "count",
    "streaming.rows_per_batch" -> "count",
    "streaming.trigger_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms",
    "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.commit_offsets_ms_p50" -> "ms",
    "streaming.query_planning_ms_p50" -> "ms",
    "streaming.latest_offset_ms_p50" -> "ms",
    "streaming.backlog_files_end" -> "count",
    "ship_lag_p90_ms" -> "ms",
    "logpipeline.decode_ms_per_krec" -> "ms",
    "logpipeline.parse_ms_per_kevent" -> "ms",
    "logpipeline.docs_per_event" -> "ratio",
    "bulksink.ship_ms_per_kdoc" -> "ms",
    "bulksink.bytes_per_doc" -> "bytes",
    "curate.keep_ms" -> "ms",
    "curate.pack_ms" -> "ms",
    "curate.dup_recall" -> "ratio",
    "curate.kept_frac" -> "ratio",
    "bm25_p50_ms" -> "ms",
    "bm25_query.plan_ms" -> "ms",
    "bm25_query.exec_ms" -> "ms",
    "bm25_query.pre_action_jobs" -> "count",
    "bm25_query.rows_scanned_per_result" -> "count",
    "ann_p50_ms" -> "ms",
    "ann_query.plan_ms" -> "ms",
    "ann_query.exec_ms" -> "ms",
    "ann_query.pre_action_jobs" -> "count",
    "ann_query.probed_fraction" -> "ratio",
    "ann_query.recall_at_10" -> "ratio",
    "append_ms" -> "ms",
    "bm25_maintain.ms" -> "ms",
    "bm25_maintain.units" -> "count",
    "index.bm25.files" -> "count",
    "index.bm25.bytes_per_doc" -> "bytes",
    "index.ivf.bytes_per_vec" -> "bytes",
    "caches.hits" -> "count",
    "caches.misses" -> "count",
    "caches.cross_request_hits" -> "count",
    "jvm.gc_ms" -> "ms",
    "jvm.gc_count" -> "count",
    "trace_overhead.latency_p50_ms" -> "ms",
    "trace_overhead.throughput_per_s" -> "1/s") ++
    sparkOps.flatMap(op => sparkKeys.map { case (k, u) => s"$op.spark.$k" -> u }) ++
    spanNames.map(n => s"self_ms.$n" -> "ms")

  /** Prints the table as `<kind> <name> <unit>` lines (`--list-metrics`). */
  def list(): Unit = {
    endToEnd.foreach { case (n, u) => println(s"end_to_end $n $u") }
    perLayer.foreach { case (n, u) => println(s"per_layer $n $u") }
  }
}
