package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.Pipeline
import graft.streaming.ModelRegistry

/** The first half of the `product` workload: the reference's daily DAG.
  * One pass = ingest the seeded delta into the interactions fact →
  * freshness gate → knowledge base → ALS train + export → stream scorer
  * train + registry write → run registration. The pass is measured
  * (`batch_s`) as the first pass of the application, partly warmed: the
  * only Spark work before it is the harness's reads of the fixture for
  * its inputs (scans, a sort, small aggregates, collects), so the
  * pipeline's own plans, ALS and writes still pay class loading, code
  * generation and JIT, as the daily DAG does. Its artifacts feed the
  * consumer loop ([[Stream]]).
  */
object Retrain {

  val Artifacts = Seq("als_model", "als_user_factors", "kb_pairs", "kb_popular",
    "kb_profile", "linear_model", "registry_active")

  /** The run id the pass registers; `registry_active` must end on it. */
  val RunId = 100L

  val Stages = Seq("pipeline.ingest", "pipeline.freshness", "pipeline.knowledge_base",
    "pipeline.train_export", "registry.train", "registry.write", "pipeline.register")

  /** Copies every fixture table except the interactions fact, which each
    * pass rewrites from its own ingest.
    */
  private def stageFixture(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    Files.list(Paths.get(from)).forEach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".parquet") && name != "lineitem.parquet")
        Files.copy(p, Paths.get(to, name), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Returns (the fact directory after ingest, the artifact directory). */
  def run(ctx: Ctx, src: Inputs.Sources, delta: Inputs.Delta): (String, String) = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val work = ctx.work("fixture")
    val out = ctx.work("artifacts")

    val s0 = System.nanoTime()
    stageFixture(ctx.fixture, work)
    ctx.input("stage_fixture", (System.nanoTime() - s0) / 1e9)
    val deltaDf = Inputs.deltaFrame(spark, src, delta)
    val factRows = src.base.length + delta.fresh

    // earlier registry rows: one per model, so `registry_active` must
    // hold exactly one row per model after every registration
    val history = Seq(("als", 1L, 0.91), ("linear_scorer", 2L, 0.88))
      .toDF("model_name", "created_at", "metric")

    def pass(): Double = {
      val t0 = System.nanoTime()
      tr.span("retrain.pass", "retrain", 1) {
        tr.span("pipeline.ingest", "etl.Pipeline") {
          Pipeline.ingest(Tables.lineitem(spark, ctx.fixture), deltaDf, Inputs.LineitemPk)
            .write.mode("overwrite").parquet(s"$work/lineitem.parquet")
        }
        tr.span("pipeline.freshness", "etl.Pipeline") {
          Pipeline.checkDataFreshness(Tables.events(spark, work))
        }
        tr.span("pipeline.knowledge_base", "etl.Pipeline") {
          Pipeline.knowledgeBase(spark, work, out)
        }
        tr.span("pipeline.train_export", "etl.Pipeline") {
          Pipeline.trainAndExport(spark, work, out)
        }
        val model = tr.span("registry.train", "streaming.ModelRegistry") {
          ModelRegistry.trainFromEvents(spark, work)
        }
        tr.span("registry.write", "streaming.ModelRegistry") {
          ModelRegistry.write(spark, s"$out/linear_model", model)
        }
        tr.span("pipeline.register", "etl.Pipeline") {
          Pipeline.registerRun(spark, history, out, "als", 0.93, RunId)
        }
      }
      (System.nanoTime() - t0) / 1e9
    }

    def verify(): Unit = {
      val listing = Option(new java.io.File(out).listFiles()).toSeq.flatten.map(_.getName).sorted
      ctx.check("retrain.artifacts", listing == Artifacts, s"listing $listing")
      val active = spark.read.parquet(s"$out/registry_active")
        .select("model_name", "created_at").as[(String, Long)].collect().toSeq
      ctx.check("retrain.registry_active",
        active.map(_._1).sorted == Seq("als", "linear_scorer") &&
          active.contains(("als", RunId)), s"registry_active $active")
      val (n, maxQty) = spark.read.parquet(s"$work/lineitem.parquet")
        .agg(count(lit(1)), max("l_quantity")).as[(Long, Double)].head()
      ctx.check("retrain.ingest_first_writer_wins",
        n == factRows && maxQty < Inputs.RedeliveryMark,
        s"rows $n (want $factRows), max l_quantity $maxQty")
    }

    ctx.startMeasuring()
    ctx.log("retrain pass")
    val times = ctx.attempt("retrain pass")(pass()).toSeq
    ctx.log("retrain checks")
    verify()
    ctx.check("retrain.als_save_reload",
      graft.ml.MlCatalog.saveAndReloadAls(spark, work, ctx.work("als_reload_check")))
    ctx.metric("batch_s", Stats.median(times), "s", times.size)

    if (tr.enabled) {
      def per(name: String) = tr.spans.filter(_.name == name)
      def med(xs: Seq[Double]) = Stats.median(xs)
      Stages.foreach { st =>
        val ss = per(st)
        ctx.metric(s"${st}_s", med(ss.map(_.seconds)), "s", ss.size)
        ctx.metric(s"$st.jobs", med(ss.map(tr.inclusive(_).jobs.toDouble)), "count", ss.size)
        ctx.metric(s"$st.shuffle_mb", med(ss.map(tr.inclusive(_).shuffleMb)), "MB", ss.size)
        ctx.metric(s"$st.spill_mb", med(ss.map(tr.inclusive(_).spillMb)), "MB", ss.size)
      }
      val als = per("pipeline.train_export")
      ctx.metric("als.fit_jobs", med(als.map(tr.inclusive(_).jobs.toDouble)), "count", als.size)
      ctx.metric("als.driver_gap_s",
        med(als.map(s => s.seconds - tr.inclusive(s).jobMs / 1e3)), "s", als.size)
      val kb = per("pipeline.knowledge_base")
      ctx.metric("cooc.shuffle_mb", med(kb.map(tr.inclusive(_).shuffleMb)), "MB", kb.size)
      ctx.metric("traced.batch_s", Stats.median(times), "s", times.size)
    }
    (work, out)
  }
}
