package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.queries.Catalog

/** `analytics`: a warm, payer-first pass over a fixed query list, the
  * dashboard and offline-analysis side of the product. The only workload
  * that runs the shared session kernels and the bounded-round graph
  * loops. Caches are cleared before each pass, so each pass rebuilds
  * every kernel in its canonical payer (first of its group). Input is
  * the fixed fixture: the seed is recorded and changes nothing.
  */
object Analytics {

  /** (group, query) in run order; each group's kernel payer leads it. */
  val Suite: Seq[(String, String)] = Seq(
    "graph_loops" -> Seq("q14_part_pairs", "q85_pagerank", "q95_item_similarity",
      "q284_grid_dbscan", "q290_greedy_matching", "q294_katz_centrality",
      "q300_two_sweep_diameter"),
    "kernels" -> Seq("q35_ngram_jaccard_neardup", "q40_embedding_lsh_ann",
      "q36_minhash_lsh_neardup", "q149_minhash_estimate_audit", "q57_embedding_neardup_ann"),
    "dashboard" -> Seq("q01_pricing_summary", "q05_customer_order_stats", "q06_user_activity",
      "q08_success_profile", "q09_top_users", "q10_events_per_min", "q47_user_sessions"),
  ).flatMap { case (g, qs) => qs.map(g -> _) }

  /** The warm-up pass's concurrent lanes: the co-pair kernel's payer
    * and consumers in one lane (they share its session cache), the rest
    * spread over two more, roughly balanced by cold cost.
    */
  val WarmupLanes: Seq[Seq[String]] = Seq(
    Seq("q14_part_pairs", "q85_pagerank", "q95_item_similarity", "q290_greedy_matching",
      "q294_katz_centrality", "q300_two_sweep_diameter"),
    Seq("q284_grid_dbscan", "q01_pricing_summary", "q05_customer_order_stats",
      "q06_user_activity", "q08_success_profile", "q09_top_users", "q10_events_per_min",
      "q47_user_sessions"),
    Seq("q35_ngram_jaccard_neardup", "q40_embedding_lsh_ann", "q36_minhash_lsh_neardup",
      "q149_minhash_estimate_audit", "q57_embedding_neardup_ann"))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val digests = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[DigestSink.Digest]]

    /** Runs one query into the digest sink; its wall time if it succeeded. */
    def query(i: Int, group: String, name: String): Option[Double] = {
      val key = s"$i/$name"
      val q0 = System.nanoTime()
      ctx.attempt(s"pass $i $name") {
        tr.span(s"q.$name", s"queries.$group", i) {
          Catalog.all(name).fn(spark, ctx.fixture).write
            .format(classOf[DigestSink].getName).option("key", key)
            .mode("append").save()
        }
      }.map { _ =>
        Option(DigestSink.results.remove(key)).foreach { d =>
          digests.synchronized(digests.getOrElseUpdate(name, mutable.LinkedHashSet()) += d)
        }
        (System.nanoTime() - q0) / 1e9
      }
    }

    def pass(i: Int): Double = {
      Catalog.clearCaches(spark)
      System.gc()
      val t0 = System.nanoTime()
      tr.span("analytics.pass", "analytics", i) {
        Suite.foreach { case (group, name) =>
          query(i, group, name).foreach(perQuery.getOrElseUpdate(name, mutable.ArrayBuffer()) += _)
        }
      }
      (System.nanoTime() - t0) / 1e9
    }

    // set-up: one untimed pass with the lanes running side by side, so
    // code generation and JIT land before the measured passes
    val w0 = System.nanoTime()
    val group = Suite.map(_.swap).toMap
    val lanes = WarmupLanes.map { qs =>
      val t = new Thread(() => qs.foreach(q => query(0, group(q), q)), "perfbench-warmup")
      t.start()
      t
    }
    lanes.foreach(_.join())
    ctx.setup("warmup", (System.nanoTime() - w0) / 1e9)

    val traced0 = tr.spans.size
    ctx.startMeasuring()
    // measured passes: at least one, then more until `--seconds` have passed
    val m0 = System.nanoTime()
    val passes = Iterator.from(1)
      .takeWhile(i => i == 1 || (System.nanoTime() - m0) / 1e9 < ctx.seconds)
      .map(pass).toList
    val all = perQuery.values.flatten.toSeq
    ctx.metric("latency_p50_s", Stats.median(all), "s", all.size)
    ctx.metric("latency_p90_s", Stats.quantile(all, 0.9), "s", all.size)
    ctx.metric("throughput_per_s", all.size / passes.sum, "1/s", passes.size)
    ctx.metric("batch_s", Stats.median(passes), "s", passes.size)

    // checks: one digest per query across all passes, equal to the reference
    val reference = Reference.load(ctx.args.reference, Paths.get(ctx.fixture).getFileName.toString)
    Suite.foreach { case (_, name) =>
      val seen = digests.getOrElse(name, mutable.LinkedHashSet()).toSeq
      ctx.check(s"$name.stable_across_passes", seen.size == 1, s"digests $seen")
      reference match {
        case Some(ref) =>
          ctx.check(s"$name.matches_reference",
            seen.headOption.exists(d => ref.get(name).contains((d.rows, d.hex))),
            s"got ${seen.headOption}, reference ${ref.get(name)}")
        case None =>
          ctx.check(s"$name.matches_reference", ok = false, "no reference for this fixture")
      }
    }
    Files.write(ctx.args.out.resolve("digests.json"), Json.render(
      Suite.flatMap { case (_, n) => digests.get(n).flatMap(_.headOption).map(d =>
        n -> Json.Raw(Json.obj("rows" -> d.rows, "digest" -> d.hex))) }.toMap).getBytes("UTF-8"))

    if (tr.enabled) {
      val spans = tr.spans.drop(traced0)
      val groupTotals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      Suite.foreach { case (group, name) =>
        val ss = spans.filter(_.name == s"q.$name")
        def med(f: Span => Double) = Stats.median(ss.map(f))
        val s = med(_.seconds)
        groupTotals(group) += s
        ctx.metric(s"q.$name.s", s, "s", ss.size)
        ctx.metric(s"q.$name.jobs", med(x => tr.inclusive(x).jobs.toDouble), "count", ss.size)
        ctx.metric(s"q.$name.driver_gap_s", med(x => x.seconds - tr.inclusive(x).jobMs / 1e3), "s", ss.size)
        ctx.metric(s"q.$name.shuffle_mb", med(x => tr.inclusive(x).shuffleMb), "MB", ss.size)
      }
      Seq("graph_loops", "kernels", "dashboard").foreach { g =>
        ctx.metric(s"analytics.${g}_s", groupTotals(g), "s", passes.size)
      }
      val passSpans = spans.filter(_.name == "analytics.pass")
      ctx.metric("analytics.spill_mb", Stats.median(passSpans.map(tr.inclusive(_).spillMb)), "MB", passSpans.size)
      ctx.metric("traced.batch_s", Stats.median(passes), "s", passes.size)
      ctx.metric("traced.latency_p50_s", Stats.median(all), "s", all.size)
    }
  }
}

/** Recorded analytics digests: fixture name → query → (rows, digest). */
object Reference {
  def load(path: String, fixture: String): Option[Map[String, (Long, String)]] = {
    val f = new java.io.File(path)
    if (!f.isFile) None
    else Option(new com.fasterxml.jackson.databind.ObjectMapper().readTree(f).get(fixture))
      .map { node =>
        import scala.jdk.CollectionConverters._
        node.properties().asScala.map { e =>
          e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("digest").asText())
        }.toMap
      }
  }
}
