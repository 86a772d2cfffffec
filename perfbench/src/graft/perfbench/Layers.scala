package graft.perfbench

/** The per-layer metrics of a traced run. Times are means per traced
  * operation, per replayed statement or per call; counts are totals over
  * cycle 1, the first traced cycle, a seeded operation sequence every run
  * with that seed repeats. A layer that does no work in a workload reports 0.
  */
object Layers {
  private val means: Seq[(String, String)] = Seq(
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms",
    "spark.planning_ms" -> "ms", "spark.execution_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms", "spark.executor_run_ms" -> "ms",
    "pushdown.rule_ms" -> "ms", "catalog.load_table_ms" -> "ms",
    "client.embedded.translate_us" -> "us", "client.embedded.plan_query_ms" -> "ms",
    "client.embedded.spill_read_ms" -> "ms", "client.embedded.describe_cold_ms" -> "ms",
    "client.embedded.describe_warm_ms" -> "ms", "client.embedded.insert_ms_per_block" -> "ms",
    "connector.pack_ms" -> "ms", "client.http.plan_query_ms" -> "ms",
    "client.http.drain_rows_per_s" -> "rows/s", "client.http.drain_columnar_rows_per_s" -> "rows/s",
    "client.http.insert_ms_per_block" -> "ms", "client.rowbinary.decode_ns_per_row" -> "ns",
    "client.rowbinary.encode_ns_per_row" -> "ns", "client.http.lz4_ns_per_byte" -> "ns",
    "trace.op_self_ms" -> "ms")

  private val counts: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_bytes" -> "bytes", "pushdown.rule_calls" -> "count",
    "pushdown.remote_statements" -> "count", "client.embedded.spill_bytes" -> "bytes",
    "client.embedded.parts" -> "count", "client.embedded.stored_bytes_per_user_byte" -> "B/B",
    "client.http.insert_wire_bytes_per_row" -> "B")

  private val derived: Seq[(String, String)] = Seq(
    "pushdown.rule_effective_ratio" -> "ratio", "spark.cpu_run_ratio" -> "ratio",
    "connector.write_task_ms" -> "ms", "host.steal_pct" -> "%",
    "trace.overhead_ms" -> "ms", "trace.overhead_pct" -> "%")

  /** Every per-layer metric with its unit (the BENCHMARK.json list). */
  val all: Seq[(String, String)] = means ++ counts ++ derived

  /** `ops` excludes the untraced warm-up cycle 0. */
  def metrics(tr: Tracer, ops: Seq[Op], readKind: String, steal: Double): Map[String, Metric] = {
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val reads = ops.filter(_.kind == readKind)
    val (traced, plain) = reads.partition(_.traced)
    val base = if (plain.isEmpty) 0.0 else Stats.shapeP50(plain)
    val overhead = if (traced.isEmpty || plain.isEmpty) 0.0 else Stats.shapeP50(traced) - base
    val values: Map[String, Double] =
      means.map { case (n, _) => n -> tr.mean(n) }.toMap ++
        counts.map { case (n, _) => n -> tr.countedValue(n) } ++ Map(
          "pushdown.rule_effective_ratio" ->
            ratio(tr.total("pushdown.rule_effective"), tr.total("pushdown.rule_invocations")),
          "spark.cpu_run_ratio" ->
            ratio(tr.total("spark.executor_cpu_ms"), tr.total("spark.executor_run_ms")),
          "connector.write_task_ms" -> tr.mean("append.executor_run_ms"),
          "host.steal_pct" -> steal,
          "trace.overhead_ms" -> overhead,
          "trace.overhead_pct" -> 100 * ratio(overhead, base))
    all.map { case (n, u) => n -> Metric(values(n), u) }.toMap
  }
}
