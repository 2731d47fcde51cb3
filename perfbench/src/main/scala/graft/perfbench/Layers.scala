package graft.perfbench

/** Per-layer metric sets shared by the workloads. */
object Layers {

  /** `p` quantile of `xs`, reported only when at least ten samples lie
    * beyond it. */
  def tail(name: String, xs: Seq[Double], p: Double): Seq[Metric] =
    if (xs.size * (1 - p) >= 10) Seq(Metric(name, Stats.quantile(xs, p), "ms", xs.size))
    else Nil

  /** Query planning and execution, per query, from the
    * `QueryExecutionListener` (`QueryPlanningTracker` phases). */
  def sql(l: Listeners): Seq[Metric] = {
    val q = l.queries.get
    def per(x: Double) = if (q == 0) 0.0 else x / q
    Seq(
      Metric("sql.analysis_ms", per(l.analysisMs.sum), "ms", q.toInt),
      Metric("sql.optimize_ms", per(l.optimizeMs.sum), "ms", q.toInt),
      Metric("sql.plan_ms", per(l.planMs.sum), "ms", q.toInt),
      Metric("sql.exec_ms", per(l.execMs.sum), "ms", q.toInt))
  }

  /** Spark execution per workload operation, from the `SparkListener`
    * task and job events and the executed plans. */
  def spark(l: Listeners, ops: Int): Seq[Metric] = {
    val n = math.max(1, ops).toDouble
    Seq(
      Metric("spark.jobs_per_op", l.jobs.get / n, "count", ops),
      Metric("spark.tasks_per_op", l.tasks.get / n, "count", ops),
      Metric("spark.task_busy_ms", l.taskBusyMs.get / n, "ms", ops),
      Metric("spark.task_cpu_ms", l.taskCpuNs.get / 1e6 / n, "ms", ops),
      Metric("spark.sched_delay_ms", l.schedDelayMs.get / n, "ms", ops),
      Metric("spark.gc_ms", l.gcMs.get / n, "ms", ops),
      Metric("spark.input_bytes", l.inputBytes.get / n, "bytes", ops),
      Metric("spark.shuffle_write_bytes", l.shuffleWriteBytes.get / n, "bytes", ops),
      Metric("spark.shuffle_read_bytes", l.shuffleReadBytes.get / n, "bytes", ops),
      Metric("spark.spill_bytes", l.spillBytes.get / n, "bytes", ops),
      Metric("spark.skew_ratio", l.skewRatio, "ratio", ops),
      Metric("spark.codegen_frac",
        if (l.physicalOps.get == 0) 0.0 else l.codegenOps.get.toDouble / l.physicalOps.get,
        "fraction", l.physicalOps.get.toInt))
  }
}
