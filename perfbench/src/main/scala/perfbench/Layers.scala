package perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run.
  *
  * Counters cover the timed phase only: [[begin]] drains the listener bus
  * and zeroes them, [[end]] drains again and freezes them. Counters of
  * work (time, bytes, jobs) are reported per timed operation — a query for
  * hits and micro, a request for rest_mixed, an append for wal_ingest — so
  * runs of different length compare. Operation spans are named `op:<name>`.
  */
object Layers {
  /** Every per-layer metric, in BENCHMARK.json order. */
  val names: Seq[String] = Seq(
    "planning.analysis_ms", "planning.optimization_ms", "planning.physical_ms",
    "planning.codegen_compile_ms",
    "plans.graft_rule_ms", "plans.graft_rule_effective_ratio", "plans.spark_rule_ms",
    "plans.routed_queries",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.scheduler_delay_ms", "exec.driver_ms",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.shuffle_fetch_wait_ms", "exec.spill_bytes",
    "exec.gc_ms", "exec.failed_tasks",
    "scan.files_read", "scan.files_total", "scan.files_read_ratio", "scan.metadata_ms",
    "scan.input_bytes",
    "functions.like_cpu_ms",
    "rest.server_ms", "rest.transport_ms", "rest.register_views_ms",
    "rest.generator_late_ms", "core.query_cache_hit_ratio",
    "catalog.ingest_ms", "catalog.parts", "catalog.bytes_per_row",
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.get_batch_ms",
    "streaming.query_planning_ms", "streaming.offset_log_ms", "streaming.append_ms",
    "streaming.pump_ms", "streaming.backlog_max", "streaming.state_rows",
    "streaming.state_commit_ms", "streaming.rows_per_trigger", "streaming.dedup_dropped")

  private val perOp = Seq(
    "planning.analysis_ms", "planning.optimization_ms", "planning.physical_ms",
    "plans.graft_rule_ms", "plans.spark_rule_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.scheduler_delay_ms",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.shuffle_fetch_wait_ms", "exec.spill_bytes",
    "exec.gc_ms", "scan.files_read", "scan.files_total", "scan.metadata_ms",
    "scan.input_bytes")

  @volatile private var frozen: Map[String, Double] = Map.empty
  @volatile private var codegenNs0 = 0L
  @volatile private var codegenNs = 0L
  @volatile private var phaseStart = 0L
  @volatile private var phaseEnd = Long.MaxValue

  def begin(spark: SparkSession): Unit = if (Trace.enabled) {
    Trace.drain(spark)
    Trace.resetCounters()
    codegenNs0 = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime
    phaseStart = System.nanoTime()
  }

  def end(spark: SparkSession): Unit = if (Trace.enabled) {
    phaseEnd = System.nanoTime()
    Trace.drain(spark)
    codegenNs = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime - codegenNs0
    frozen = (perOp ++ Seq("exec.failed_tasks", "plans.graft_rule_runs",
      "plans.graft_rule_effective", "scan.scans", "qe.count"))
      .map(k => k -> Trace.get(k)).toMap
  }

  /** Operation spans inside the timed phase. */
  def opSpans: Seq[Span] = Trace.spansNamed(_.startsWith("op:"))
    .filter(s => s.startNs >= phaseStart && s.endNs <= phaseEnd)

  /** Mean executor CPU ms of the operation spans selected by `p`. */
  def cpuMsOf(p: String => Boolean): Double = {
    val sel = opSpans.filter(s => p(s.name.stripPrefix("op:")))
    if (sel.isEmpty) 0.0
    else sel.map(s => Option(Trace.spanCpuNs.get(s.id)).map(_.sum()).getOrElse(0.0))
      .sum / 1e6 / sel.size
  }

  def collect(out: Outcome): Map[String, Double] = {
    val own = out.layers.toMap
    val ops = math.max(1.0, own.getOrElse("ops", out.attempted.toDouble))
    val norm = perOp.map(k => k -> frozen.getOrElse(k, 0.0) / ops).toMap
    val runs = frozen.getOrElse("plans.graft_rule_runs", 0.0)
    val filesTotal = frozen.getOrElse("scan.files_total", 0.0)
    val children = Trace.allSpans.groupBy(_.parent)
    val driverMs = opSpans.map(s => Trace.selfNs(s, children)).sum / 1e6 / ops
    val derived = Map(
      "planning.codegen_compile_ms" -> codegenNs / 1e6 / ops,
      "plans.graft_rule_effective_ratio" ->
        (if (runs > 0) frozen.getOrElse("plans.graft_rule_effective", 0.0) / runs else 0.0),
      "exec.driver_ms" -> driverMs,
      "exec.failed_tasks" -> frozen.getOrElse("exec.failed_tasks", 0.0),
      "scan.files_read_ratio" ->
        (if (filesTotal > 0) frozen.getOrElse("scan.files_read", 0.0) / filesTotal else 0.0))
    names.map(n => n -> own.getOrElse(n, derived.getOrElse(n, norm.getOrElse(n, 0.0)))).toMap
  }
}
