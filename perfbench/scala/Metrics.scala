package perfbench

/** The benchmark's metric names and units. `BENCHMARK.json` lists the same
  * names; `run.py` refuses a run whose printed names differ from it.
  */
object Metrics {

  /** Printed by untraced runs, on every workload. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "round_s" -> "s",
    "op_p50_ms" -> "ms",
    "peak_mem_mb" -> "MB")

  /** Top-level spans that also get per-span Spark counts. */
  val topSpans: Seq[String] = Seq(
    "io.land", "graph.run", "models.json_doc", "quality.report",
    "serve.browse", "serve.page", "serve.sql", "serve.doc",
    "serve.lineage", "serve.widget", "serve.catalog") ++
    Gates.Slice.map(e => s"operators.$e")

  /** Printed by traced runs, on every workload; a layer the workload does
    * not reach reports 0.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "setup.cold_s" -> "s",
    "io.land_s" -> "s",
    "io.rows_read" -> "count",
    "io.rows_landed" -> "count",
    "io.rows_dropped" -> "count",
    "io.land_bytes_written" -> "bytes",
    "io.materialize_bytes_written" -> "bytes",
    "io.storage_bytes_per_input_byte" -> "ratio",
    "graph.run_s" -> "s",
    "graph.self_s" -> "s",
    "graph.overlap_ratio" -> "ratio",
    "models.stg_num_s" -> "s",
    "models.fct_balanceSheet_s" -> "s",
    "models.fct_IncomeStatement_s" -> "s",
    "models.fct_Cashflows_s" -> "s",
    "models.json_doc_s" -> "s",
    "models.fct_rows_out" -> "count",
    "models.fct_rows_per_source_row" -> "ratio",
    "quality.report_s" -> "s",
    "quality.checks" -> "count",
    "quality.violations" -> "count",
    "serve.warmup_s" -> "s",
    "serve.samples" -> "count",
    "serve.qps" -> "1/s",
    "serve.p50_ms" -> "ms",
    "serve.tail_ms" -> "ms",
    "serve.tail_pct" -> "pct",
    "serve.browse_p50_ms" -> "ms",
    "serve.page_p50_ms" -> "ms",
    "serve.sql_p50_ms" -> "ms",
    "serve.doc_p50_ms" -> "ms",
    "serve.plan_ms_p50" -> "ms",
    "serve.exec_ms_p50" -> "ms",
    "serve.widget_ms_p50" -> "ms",
    "serve.lineage_ms_p50" -> "ms",
    "serve.catalog_ms_p50" -> "ms",
    "serve.cache_hit_ratio" -> "ratio",
    "serve.cache_evictions" -> "count",
    "serve.rows_per_request" -> "count") ++
    Gates.Slice.map(e => s"operators.${e}_s" -> "s") ++ Seq(
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.scheduler_delay_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes") ++
    topSpans.flatMap(s => Seq(s"$s.jobs" -> "count", s"$s.tasks" -> "count",
      s"$s.task_cpu_s" -> "s")) ++ Seq(
    "trace.round_s" -> "s",
    "trace.overhead_ratio" -> "ratio",
    "trace.spans_per_round" -> "count",
    "trace.unattributed_jobs" -> "count",
    "ops_failed_ratio" -> "ratio")

  /** Spark counters of one round: everything the listener saw, and the
    * subtree of each top-level span.
    */
  def sparkCounters(t: RoundTrace): Map[String, Double] = {
    val all = t.total
    val perSpan = topSpans.flatMap { name =>
      val c = t.named(name).filter(_.parent == 0L).map(t.subtree)
        .foldLeft(new Counts)(_ add _)
      Seq(s"$name.jobs" -> c.jobs.toDouble, s"$name.tasks" -> c.tasks.toDouble,
        s"$name.task_cpu_s" -> c.taskCpuNs / 1e9)
    }
    Map(
      "spark.jobs" -> all.jobs.toDouble,
      "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.task_run_s" -> all.taskRunMs / 1e3,
      "spark.task_cpu_s" -> all.taskCpuNs / 1e9,
      "spark.gc_s" -> all.gcMs / 1e3,
      "spark.scheduler_delay_s" -> all.schedulerDelayMs / 1e3,
      "spark.shuffle_write_bytes" -> all.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> all.spillBytes.toDouble,
      "spark.input_bytes" -> all.inputBytes.toDouble,
      "trace.spans_per_round" -> t.spans.size.toDouble,
      "trace.unattributed_jobs" -> t.counts.get(0L).fold(0.0)(_.jobs.toDouble)
    ) ++ perSpan
  }
}
