package perfbench

/** Metric names and units (mirrored in BENCHMARK.json) and the output
  * formats: the one-line result and the traced run's JSON file.
  */
object Report {
  /** Printed by every untimed-trace run of every workload. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms")

  /** Printed by every traced run; a layer a workload does not exercise
    * reads 0.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "rss_peak_mb" -> "MB",
    "latency.p90_ms" -> "ms",
    "topology.run_ms" -> "ms",
    "topology.startstop_ms" -> "ms",
    "stream.addBatch_ms" -> "ms",
    "stream.latestOffset_ms" -> "ms",
    "stream.queryPlanning_ms" -> "ms",
    "stream.walCommit_ms" -> "ms",
    "stream.commitOffsets_ms" -> "ms",
    "stream.rows_per_batch" -> "count",
    "sink.jobs_per_batch" -> "count",
    "sink.tasks_per_batch" -> "count",
    "sink.task_ms_per_batch" -> "ms",
    "sink.no_task_ms_per_batch" -> "ms",
    "sink.bytes_written_per_batch" -> "B",
    "sink.files_written_per_batch" -> "count",
    "sink.bytes_read_per_batch" -> "B",
    "sink.write_amp" -> "ratio",
    "sink.buckets_rewritten_per_batch" -> "count",
    "state.bytes" -> "B",
    "state.files" -> "count",
    "ckpt.files" -> "count",
    "log.files" -> "count",
    "pipeline.decode_ms_per_10k" -> "ms",
    "pipeline.merge_ms_per_10k" -> "ms",
    "lookup.p50_ms" -> "ms",
    "lookup.p95_ms" -> "ms",
    "lookup.scan_bytes" -> "B",
    "lookup.files_opened" -> "count",
    "gen.late_ms_max" -> "ms",
    "backlog.files_max" -> "count",
    "query.jobs" -> "count",
    "query.tasks" -> "count",
    "query.task_ms" -> "ms",
    "query.no_task_ms" -> "ms",
    "sources.scan_bytes" -> "B",
    "sources.parquet_scans" -> "count",
    "cachepool.inmem_scans" -> "count",
    "cachepool.rdds_cached" -> "count",
    "cachepool.storage_peak_mb" -> "MB",
    "exchange.shuffle_bytes" -> "B",
    "exchange.spill_bytes" -> "B",
    "scaling.backfill" -> "ratio",
    "scaling.join" -> "ratio",
    "scaling.dedup" -> "ratio") ++
    Suite.Families.flatMap(f => Seq(
      s"family.$f.s" -> "s",
      s"family.$f.tasks" -> "count",
      s"family.$f.shuffle_bytes" -> "B"))

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def resultJson(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": """ +
      metrics.map { case (n, v, u) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
        .mkString("{", ", ", "}") + "}"

  def traceJson(a: Main.Args, e2e: Map[String, Double],
      layers: Map[String, Double], trace: Trace): String = {
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    val spans = trace.spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${str(s.name)}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "thread": ${str(s.thread)}}"""
    }.mkString("[\n  ", ",\n  ", "\n]")
    s"""{"workload": ${str(a.workload)}, "seed": ${a.seed}, "seconds": ${a.seconds}, """ +
      s""""cores": ${Session.Cores},\n"end_to_end": ${obj(e2e)},\n"per_layer": ${obj(layers)},\n""" +
      s""""spans": $spans}\n"""
  }
}
