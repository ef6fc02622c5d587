package perfbench

import org.apache.spark.sql.SparkSession

/** The per-layer metrics a traced run prints, in order, with units.
  * Every workload prints all of them; a layer the workload does not
  * reach reads 0. Times and counts are per pass of the workload: the
  * query sample once, or one ingest cycle. */
object Layers {
  val registries: Seq[String] = Sampler.registries.map(_._1)

  /** runFull's 16 persist stages, in the order they run. */
  val stages: Seq[String] = Seq("activity_click", "activity_view", "activity_signup",
    "activity_purchase", "activity_error", "contacts", "activities", "orders",
    "orders_enriched", "deal_notes", "deal_tasks", "deal_activities", "contact_tags",
    "contact_scores", "dim_nation", "dim_region")

  val streams: Seq[String] = Seq("curated", "funnel")

  val all: Seq[(String, String)] =
    Seq("queries.build_s" -> "s", "queries.build_jobs" -> "count", "queries.release_s" -> "s",
      "queries.analyze_s" -> "s", "queries.optimize_s" -> "s", "queries.plan_s" -> "s",
      "queries.exec_s" -> "s") ++
      registries.map(r => s"queries.${r}_s" -> "s") ++
      Seq("tables.t_call_ms" -> "ms",
        "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.slot_busy_frac" -> "fraction",
        "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
        "spark.spill_bytes" -> "bytes", "spark.peak_exec_mem_bytes" -> "bytes",
        "plan.parquet_scans" -> "count", "plan.exchanges" -> "count",
        "plan.reused_exchanges" -> "count", "plan.broadcasts" -> "count",
        "pipeline.initial_run_s" -> "s", "pipeline.incr_run_s" -> "s",
        "pipeline.initial.pre_stage_s" -> "s", "pipeline.initial.mart_s" -> "s",
        "pipeline.incr.pre_stage_s" -> "s", "pipeline.incr.mart_s" -> "s") ++
      Seq("initial", "incr").flatMap(r => stages.map(s => s"pipeline.$r.stage_s.$s" -> "s")) ++
      Seq("pipeline.incr.delta_rows" -> "rows", "pipeline.incr.dedup_absorbed_rows" -> "rows",
        "pipeline.incr.read_amplification" -> "ratio", "pipeline.incr.write_amplification" -> "ratio",
        "pipeline.lake_bytes" -> "bytes", "pipeline.scoped_merge_s" -> "s",
        "pipeline.scoped_input_over_delta" -> "ratio",
        "sources.paged_slice_s" -> "s",
        "streaming.curated_rows_per_s" -> "rows/s", "streaming.funnel_rows_per_s" -> "rows/s",
        "streaming.curated_batch_p50_ms" -> "ms") ++
      streams.flatMap(q => Seq(s"streaming.$q.add_batch_ms_p50" -> "ms",
        s"streaming.$q.query_planning_ms_p50" -> "ms", s"streaming.$q.wal_commit_ms_p50" -> "ms",
        s"streaming.$q.state_commit_ms_p50" -> "ms", s"streaming.$q.state_rows_max" -> "rows",
        s"streaming.$q.state_memory_bytes_max" -> "bytes", s"streaming.$q.batches" -> "count")) ++
      Seq("trace.sweep_s" -> "s", "trace.unaccounted_frac" -> "fraction")

  /** Largest share of a root span's wall time that its child spans may
    * leave unexplained. */
  val UnaccountedTolerance = 0.05

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median wall time of one Tables.t call over the lake's tables. */
  def tablesCallMs(spark: SparkSession, lake: String): Double = {
    val names = new java.io.File(lake).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    median(for (n <- names; _ <- 1 to 5) yield {
      val t0 = System.nanoTime()
      graft.pipeline.Tables.t(spark, lake, n)
      (System.nanoTime() - t0) / 1e6
    })
  }

  /** Scheduler and executor counts charged to the spans they ended in,
    * for the root spans `roots` selects. */
  def sparkCounts(tr: Tracer, tap: SparkTap, roots: Span => Boolean,
                  slots: Int): Map[String, Double] = {
    def inRoot(ms: Long): Option[Span] =
      tr.innermost(ms * 1000000L).filter(s => roots(tr.ancestors(s).last))
    val tasks = tap.tasks.toSeq.filter(t => inRoot(t.endMs).isDefined)
    val rootTime = tr.spans.filter(s => s.parent < 0 && roots(s)).map(_.dur).sum / 1e9
    val runS = tasks.map(_.runMs).sum / 1e3
    Map(
      "spark.jobs" -> tap.jobEnds.count(t => inRoot(t).isDefined).toDouble,
      "spark.stages" -> tap.stageEnds.count(t => inRoot(t).isDefined).toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.slot_busy_frac" -> (if (rootTime > 0) runS / (rootTime * slots) else 0.0),
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "spark.peak_exec_mem_bytes" -> tasks.map(_.peakMem).foldLeft(0L)(math.max).toDouble)
  }

  /** Share of the selected root spans' wall time not covered by a child. */
  def unaccounted(tr: Tracer, roots: Span => Boolean): Double = {
    val rs = tr.spans.filter(s => s.parent < 0 && roots(s))
    val total = rs.map(_.dur).sum
    if (total == 0) 0.0 else rs.map(s => tr.selfTime(s.id)).sum.toDouble / total
  }
}

/** Per-layer metrics of a traced query run. */
object QueryLayers {
  def apply(tr: Tracer, tap: SparkTap, ops: Seq[QueryOp],
            facts: Map[String, Long], passSize: Int, spark: SparkSession,
            lake: String): Map[String, Double] = {
    val perPass = passSize.toDouble / math.max(1, ops.size)
    val isQuery = (s: Span) => s.name.startsWith("query/")
    def phaseS(p: String) =
      tr.spans.filter(s => s.name == p && s.parent >= 0).map(_.dur).sum / 1e9 * perPass
    val buildJobs = tap.jobEnds.count(t =>
      tr.innermost(t * 1000000L).exists(s => s.name == "build" && isQuery(tr.ancestors(s).last)))
    val byRegistry = ops.groupBy(_.registry).map { case (r, os) => r -> os.map(_.wallS).sum }
    Seq("build", "analyze", "optimize", "plan", "exec", "release")
      .map(p => s"queries.${p}_s" -> phaseS(p)).toMap ++
      Map("queries.build_jobs" -> buildJobs * perPass) ++
      Layers.registries.map(r => s"queries.${r}_s" -> byRegistry.getOrElse(r, 0.0) * perPass) ++
      Map("tables.t_call_ms" -> Layers.tablesCallMs(spark, lake)) ++
      Layers.sparkCounts(tr, tap, isQuery, spark.sparkContext.defaultParallelism)
        .map { case (k, v) => k -> (if (k.endsWith("frac") || k.contains("peak")) v else v * perPass) } ++
      facts.map { case (k, v) => k -> v * perPass } ++
      Map("trace.unaccounted_frac" -> Layers.unaccounted(tr, isQuery))
  }
}
