package perfbench

import org.apache.spark.sql.SparkSession

/** The per-layer metrics of a traced run. Every traced run reports every
  * one of them; a layer the workload does not call reads 0.
  */
object Layers {

  private val pipelineStages =
    Seq("ingest", "freshness", "knowledge_base", "train_export", "register")

  val all: Seq[(String, String)] =
    pipelineStages.flatMap { st =>
      val n = s"pipeline.$st"
      // the freshness gate and the registration never shuffle the fact,
      // so they cannot spill
      Seq(s"${n}_s" -> "s", s"$n.jobs" -> "count", s"$n.shuffle_mb" -> "MB") ++
        (if (st == "freshness" || st == "register") Nil else Seq(s"$n.spill_mb" -> "MB"))
    } ++ Seq(
      "registry.train_s" -> "s", "registry.write_s" -> "s",
      "als.fit_jobs" -> "count", "als.driver_gap_s" -> "s", "cooc.shuffle_mb" -> "MB",
      "watcher.poll_ms" -> "ms", "watcher.reload_latency_s" -> "s",
      "state.rows_total" -> "count", "state.memory_mb" -> "MB", "state.commit_ms" -> "ms",
      "state.update_ms" -> "ms", "parse.dropped" -> "count",
      "stream.input_rows_per_batch" -> "count", "stream.batch_ms_p50" -> "ms",
      "stream.batch_ms_max" -> "ms", "stream.add_batch_ms" -> "ms", "stream.planning_ms" -> "ms",
      "stream.wal_commit_ms" -> "ms", "stream.jobs_per_batch" -> "count",
      "stream.shuffle_mb_per_batch" -> "MB",
      "gen.late_s" -> "s", "live.backlog_end_events" -> "count", "live.events" -> "count",
      "live.batches" -> "count",
    ) ++ Analytics.Suite.flatMap { case (_, q) =>
      Seq(s"q.$q.s" -> "s", s"q.$q.jobs" -> "count", s"q.$q.driver_gap_s" -> "s",
        s"q.$q.shuffle_mb" -> "MB")
    } ++ Seq(
      "analytics.graph_loops_s" -> "s", "analytics.kernels_s" -> "s",
      "analytics.dashboard_s" -> "s", "analytics.spill_mb" -> "MB",
      "jvm.gc_ms" -> "ms", "jvm.codegen_compiles" -> "count", "tables.scan_s" -> "s",
      "traced.batch_s" -> "s", "traced.latency_p50_s" -> "s")

  def fill(ctx: Ctx): Unit = all.foreach { case (name, unit) =>
    if (!ctx.has(name)) ctx.metric(name, 0.0, unit, 0)
  }

  /** Scans every fixture table through `graft.Tables` into the noop sink:
    * the fixture-read layer, timed after the workload so it never
    * perturbs the measured phases.
    */
  def scanTables(ctx: Ctx): Unit = {
    val s: SparkSession = ctx.spark
    val f = ctx.fixture
    val t0 = System.nanoTime()
    ctx.tracer.span("tables.scan", "Tables") {
      Seq(graft.Tables.region _, graft.Tables.nation _, graft.Tables.customer _,
        graft.Tables.supplier _, graft.Tables.part _, graft.Tables.orders _,
        graft.Tables.lineitem _, graft.Tables.events _, graft.Tables.documents _,
        graft.Tables.embeddings _)
        .foreach(t => t(s, f).write.format("noop").mode("overwrite").save())
    }
    ctx.metric("tables.scan_s", (System.nanoTime() - t0) / 1e9, "s")
  }
}
