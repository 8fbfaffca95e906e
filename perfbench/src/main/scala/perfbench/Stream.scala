package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.Tables
import graft.streaming.{LinearModel, ModelRegistry, ModelWatcher, Recommender, ScoringStream}
import graft.streaming.ScoringStream.EventState

/** The second half of the `product` workload: the consumer loop, fed by
  * the retrain pass's artifacts. JSON strings → `ScoringStream.parseEvents`
  * → the stateful scorer (bootstrapped from the KB history) →
  * `Recommender.recommendSink` with a `ModelWatcher` on the registry the
  * retrain wrote, which the harness rewrites every [[SwapEveryS]] seconds.
  *
  * Live phase: an open-loop generator thread adds events on a fixed
  * schedule of [[LiveRate]] events/s for `--seconds`; each event is
  * timed from its due time to the commit of the micro-batch that emitted
  * its recommendations. Backlog phase: one block of [[BlockSize]] events
  * (about a hundred live batches' worth), added at once after the live
  * phase has committed; events per second over its drain. The block is
  * large enough that its time is mostly per-event work (state update,
  * scoring), not the micro-batch's fixed cost. The source has four
  * partitions, like a four-partition topic.
  *
  * The query uses the default trigger and is never waited on with
  * `processAllAvailable`: every wait polls the harness's own progress
  * log against a deadline, a wait that hits its deadline counts as a
  * failed operation, and the query is stopped in a `finally`.
  */
object Stream {

  val LiveRate = 200
  /** Backlog block size. On 4 vCPUs a 5000-event block took 3.3–3.7 s,
    * 20000 took 4.1–5.2 s and 50000 took 6.9–7.9 s: about 2.9 s of
    * fixed cost plus 80–130 µs per event, so at 40000 over half the
    * block is per-event work.
    */
  val BlockSize = 40000
  val WarmupSize = 500
  val SwapEveryS = 6.0
  val WaitDeadlineS = 60.0

  /** The consumer's knowledge base: pairs and popularity from the
    * retrain's KB artifacts, and a per-(customer, part) history from the
    * ingested orders × lineitem whose return flags play the outcome: any
    * `R` line = failed (truth 1), else any `A` = passed (truth 0), else
    * unresolved.
    */
  def buildKb(spark: SparkSession, fixture: String, kbDir: String): Recommender.Kb = {
    val li = Tables.lineitem(spark, fixture)
    val o = Tables.orders(spark, fixture)
    def flag(f: String) = sum(when(col("l_returnflag") === f, 1L).otherwise(0L))
    val history = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("user"), col("l_partkey").cast("string").as("item"))
      .agg(count(lit(1)).as("nClick"), sum("l_quantity").cast("long").as("nView"),
        flag("A").as("nPurchase"), flag("N").as("nSignup"), flag("R").as("nError"))
      .withColumn("total",
        col("nClick") + col("nView") + col("nPurchase") + col("nSignup") + col("nError"))
      .withColumn("truth", when(col("nError") > 0, 1).when(col("nPurchase") > 0, 0))
      .cache()
    val pairs = spark.read.parquet(s"$kbDir/kb_pairs")
      .select(col("i1").cast("string").as("i1"), col("i2").cast("string").as("i2"), col("cnt"))
      .cache()
    val popular = spark.read.parquet(s"$kbDir/kb_popular")
      .select(col("l_partkey").cast("string").as("item"),
        row_number().over(Window.orderBy(col("n").desc, col("l_partkey"))).as("popRank"))
      .cache()
    val counters = Seq("nClick", "nView", "nPurchase", "nSignup", "nError", "total")
    val profile = history.filter(col("truth") === 0)
      .agg(avg(counters.head).as(counters.head), counters.tail.map(c => avg(c).as(c)): _*)
      .cache()
    Seq(history, pairs, popular, profile).foreach(_.count())
    Recommender.Kb(history, pairs, popular, profile)
  }

  /** Streaming progress as the harness sees it: committed batches by id. */
  final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentHashMap[Long, StreamingQueryProgress]()
    @volatile var committedOffset: Long = -1L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.durationMs.containsKey("addBatch")) {
        batches.put(p.batchId, p)
        committedOffset = math.max(committedOffset, endOffset(p))
      }
    }
    def all: Seq[StreamingQueryProgress] = batches.values.asScala.toSeq.sortBy(_.batchId)
  }

  def endOffset(p: StreamingQueryProgress): Long = p.sources.head.endOffset.trim.toLong
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def commitMs(p: StreamingQueryProgress): Long = startMs(p) + p.durationMs.get("triggerExecution")

  /** One `addData` call: its source offset, tape range and wall time. */
  final case class Added(offset: Long, from: Int, until: Int, atMs: Long)

  /** Tape length for a live phase of `seconds`: bootstrap batch, live
    * phase, backlog block.
    */
  def tapeSize(seconds: Int): Int = WarmupSize + LiveRate * seconds + BlockSize

  def run(ctx: Ctx, tape: Inputs.Tape, fact: String, artifacts: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tr = ctx.tracer

    val liveN = LiveRate * ctx.seconds
    val liveFrom = WarmupSize
    val backlogFrom = liveFrom + liveN

    val k0 = System.nanoTime()
    val kb = tr.span("kb.load", "streaming.Recommender")(buildKb(spark, fact, artifacts))
    ctx.setup("kb_load", (System.nanoTime() - k0) / 1e9)

    val t0 = System.nanoTime()
    val initial: Dataset[((Long, String), EventState)] = kb.history
      .select("user", "item", "nClick", "nView", "nPurchase", "nSignup", "nError", "total")
      .as[(Long, String, Long, Long, Long, Long, Long, Long)]
      .map { case (u, i, c, v, p, s, e, t) => ((u, i), EventState(c, v, p, s, e, t)) }
    val bootstrap: Map[(Long, String), Array[Long]] = kb.history
      .select("user", "item", "nClick", "nView", "nPurchase", "nSignup", "nError", "total")
      .as[(Long, String, Long, Long, Long, Long, Long, Long)].collect()
      .map { case (u, i, c, v, p, s, e, t) => (u, i) -> Array(c, v, p, s, e, t) }.toMap

    val registry = s"$artifacts/linear_model"
    val outDir = ctx.work("recs")
    val ckpt = ctx.work("checkpoint")
    val watcher = new ModelWatcher(spark, registry)
    val probeWatcher = new ModelWatcher(spark, registry)
    val progress = new Progress
    spark.streams.addListener(progress)

    val source = MemoryStream[String](4)
    val added = mutable.ArrayBuffer.empty[Added]
    def add(from: Int, until: Int): Added = {
      val off = source.addData(tape.events.slice(from, until)).toString.trim.toLong
      val a = Added(off, from, until, System.currentTimeMillis())
      added.synchronized(added += a)
      a
    }
    /** Waits for `offset` to commit; false (and a failed operation) on the deadline. */
    def await(offset: Long, q: StreamingQuery): Boolean = {
      val deadline = System.nanoTime() + (WaitDeadlineS * 1e9).toLong
      while (progress.committedOffset < offset && System.nanoTime() < deadline && q.isActive)
        Thread.sleep(2)
      val ok = progress.committedOffset >= offset
      if (!ok) {
        ctx.operation(ok = false)
        System.err.println(s"[perfbench] stream: offset $offset not committed " +
          s"(active=${q.isActive}, exception=${q.exception})")
      }
      ok
    }
    var swapCount = 0
    val swaps = mutable.ArrayBuffer.empty[Long]
    def swap(): LinearModel = {
      swapCount += 1
      val rnd = new java.util.Random(ctx.seed * 31 + swapCount)
      def w(base: Double) = base + (rnd.nextDouble() - 0.5) * 0.2
      val d = LinearModel.default
      val m = LinearModel(w(d.wClick), w(d.wView), w(d.wPurchase), w(d.wSignup),
        w(d.wError), w(d.wTotal), w(0.0))
      tr.span("registry.write", "streaming.ModelRegistry")(ModelRegistry.write(spark, registry, m))
      swaps += System.currentTimeMillis()
      m
    }

    val scored = ScoringStream.scoredStream(spark,
      ScoringStream.parseEvents(spark, source.toDF()), initial)
    val q = Recommender.recommendSink(scored.toDF(), kb, watcher, outDir, ckpt)
      .queryName("perfbench_stream").start()
    var finalModel: LinearModel = null
    var live = Seq.empty[StreamingQueryProgress]
    var eventLatencies = Seq.empty[Double]
    var lateMs = 0L
    var backlogEndEvents = 0
    var backlogS = Double.NaN
    val pollMs = mutable.ArrayBuffer.empty[Double]
    try {
      // warm-up (set-up): one swap, then the bootstrap batch, which also
      // reloads the model and generates the batch path's code
      swap()
      await(add(0, WarmupSize).offset, q)
      ctx.setup("stream_warmup", (System.nanoTime() - t0) / 1e9)
      swaps.clear()

      // live phase: open loop at LiveRate; model swaps from this thread
      ctx.log("live phase")
      val firstLiveOffset = added.last.offset + 1
      val t0Ms = System.currentTimeMillis() + 20
      val t0Ns = System.nanoTime() + 20000000L
      val stepNs = 1000000000L / LiveRate
      @volatile var genError: Throwable = null
      val gen = new Thread(() => {
        try {
          var next = 0
          while (next < liveN && q.isActive) {
            val due = math.min(liveN, ((System.nanoTime() - t0Ns) / stepNs + 1).toInt)
            if (due > next) {
              val a = add(liveFrom + next, liveFrom + due)
              lateMs = math.max(lateMs, a.atMs - (t0Ms + next * 1000L / LiveRate))
              next = due
            }
            Thread.sleep(5)
          }
        } catch { case e: Throwable => genError = e }
      }, "perfbench-generator")
      gen.setDaemon(true)
      gen.start()
      var nextSwap = System.nanoTime() + (SwapEveryS * 1e9).toLong
      while (gen.isAlive) {
        if (System.nanoTime() >= nextSwap) {
          swap()
          nextSwap += (SwapEveryS * 1e9).toLong
        }
        if (tr.enabled) {
          val p0 = System.nanoTime(); probeWatcher.poll()
          pollMs += (System.nanoTime() - p0) / 1e6
        }
        Thread.sleep(20)
      }
      gen.join()
      if (genError != null) throw genError
      val lastLive = added.last.offset
      backlogEndEvents = added.filter(a => a.offset > progress.committedOffset &&
        a.from >= liveFrom).map(a => a.until - a.from).sum
      await(lastLive, q)

      live = progress.all.filter(p => endOffset(p) >= firstLiveOffset &&
        endOffset(p) <= lastLive)
      val commits = progress.all.map(p => (endOffset(p), commitMs(p)))
      eventLatencies = added.filter(a => a.offset >= firstLiveOffset && a.offset <= lastLive)
        .flatMap { a =>
          commits.find(_._1 >= a.offset).toSeq.flatMap { case (_, c) =>
            (a.from until a.until).filterNot(tape.malformed).map { i =>
              (c - (t0Ms + (i - liveFrom) * 1000L / LiveRate)) / 1e3
            }
          }
        }.toSeq
      val reloads = swaps.toSeq.flatMap { w =>
        live.find(p => startMs(p) > w).map(p => (commitMs(p) - w) / 1e3)
      }
      if (reloads.nonEmpty)
        ctx.metric("watcher.reload_latency_s", Stats.median(reloads), "s", reloads.size)

      // backlog phase: a final swap, then the block, whose snapshot
      // must score with the swapped model
      ctx.log("backlog phase")
      finalModel = swap()
      val a = add(backlogFrom, backlogFrom + BlockSize)
      if (await(a.offset, q)) {
        val p = progress.all.filter(p => endOffset(p) >= a.offset).head
        backlogS = (commitMs(p) - a.atMs) / 1e3
        ctx.log(f"backlog block of $BlockSize events: $backlogS%.3fs")
      }
    } finally {
      q.stop()
      spark.streams.removeListener(progress)
    }
    if (q.exception.nonEmpty) ctx.operation(ok = false)

    // --- metrics -------------------------------------------------------
    val batches = progress.all
    batches.foreach(_ => ctx.operation(ok = true))
    java.nio.file.Files.write(ctx.args.out.resolve("stream_progress.jsonl"),
      batches.map(_.json.replace("\n", " ")).mkString("", "\n", "\n").getBytes("UTF-8"))
    ctx.metric("latency_p50_s", Stats.median(eventLatencies), "s", eventLatencies.size)
    ctx.metric("latency_p90_s", Stats.quantile(eventLatencies, 0.9), "s", eventLatencies.size)
    ctx.metric("throughput_per_s", BlockSize / backlogS, "1/s")

    // --- checks --------------------------------------------------------
    ctx.log("stream checks")
    val sent = added.map(a => a.until - a.from).sum
    val inputRows = batches.map(_.numInputRows).sum
    ctx.check("stream.input_rows_equal_sent", inputRows == sent, s"numInputRows $inputRows, sent $sent")
    val sentIdx = added.flatMap(a => a.from until a.until)
    val malformedSent = sentIdx.count(tape.malformed)
    val tally = mutable.Map.empty[(Long, String), Array[Long]]
    val actionIdx = Map("click" -> 0, "view" -> 1, "purchase" -> 2, "signup" -> 3, "error" -> 4)
    val rx = """\{"user":(\d+),"item":"([^"]*)","action":"([a-z]+)","ts":"[^"]*"\}""".r
    sentIdx.filterNot(tape.malformed).foreach { i =>
      tape.events(i) match {
        case rx(u, it, act) =>
          val c = tally.getOrElseUpdate((u.toLong, it), new Array[Long](6))
          c(actionIdx(act)) += 1; c(5) += 1
        case other => sys.error(s"unparseable valid event $other")
      }
    }
    val state = spark.read.format("statestore").load(ckpt)
      .select(col("key._1").as("user"), col("key._2").as("item"), col("value.*"))
    val stateCols = state.columns.toSet
    val valueStruct =
      if (stateCols.contains("nClick")) state
      else state.select(col("user"), col("item"), col(s"${state.columns(2)}.*"))
    val finalState = valueStruct
      .select("user", "item", "nClick", "nView", "nPurchase", "nSignup", "nError", "total")
      .as[(Long, String, Long, Long, Long, Long, Long, Long)].collect()
      .map { case (u, i, c, v, p, s, e, t) => (u, i) -> Array(c, v, p, s, e, t) }.toMap
    val zero = new Array[Long](6)
    val mismatched = tally.toSeq.filter { case (k, d) =>
      val b0 = bootstrap.getOrElse(k, zero)
      !finalState.get(k).exists(f => f.indices.forall(j => f(j) == b0(j) + d(j)))
    }
    ctx.check("stream.state_counters_match_tally", mismatched.isEmpty,
      s"${mismatched.size} of ${tally.size} keys differ, e.g. ${mismatched.take(3).map(_._1)}")
    val scoredEvents = finalState.iterator.map { case (k, f) =>
      f(5) - bootstrap.getOrElse(k, zero)(5) }.sum
    val dropped = inputRows - scoredEvents
    ctx.check("stream.dropped_equal_malformed", dropped == malformedSent,
      s"dropped $dropped, malformed sent $malformedSent")

    val snap = spark.read.json(s"$outDir/latest")
      .select("user", "cur", "rank", "cand", "failProb", "isRetake")
      .as[(Long, String, Long, String, Double, Boolean)].collect().toSeq
    val badRanks = snap.groupBy(r => (r._1, r._2)).filter { case (_, rs) =>
      val ranks = rs.map(_._3).sorted
      ranks != (1L to ranks.size.toLong) || ranks.size > 5
    }
    ctx.check("stream.snapshot_ranks_1_to_n_max_5", snap.nonEmpty && badRanks.isEmpty,
      s"${snap.size} rows, bad keys ${badRanks.keys.take(3)}")
    val m = finalModel
    ctx.check("stream.watcher_holds_final_model", watcher.current == m, s"${watcher.current} vs $m")
    val prof = kb.avgProfile.as[(Double, Double, Double, Double, Double, Double)].head()
    val p = Array(prof._1, prof._2, prof._3, prof._4, prof._5, prof._6)
    val wrongProb = snap.filter { case (u, _, _, cand, fp, retake) =>
      val f = if (retake) {
        val h = bootstrap((u, cand))
        p.indices.map(j => 0.3 * h(j) + 0.7 * p(j))
      } else p.toSeq
      val z = m.wClick * f(0) + m.wView * f(1) + m.wPurchase * f(2) + m.wSignup * f(3) +
        m.wError * f(4) + m.wTotal * f(5) + m.bias
      math.abs(fp - 1.0 / (1.0 + math.exp(-z))) > 1e-9
    }
    ctx.check("stream.fail_prob_under_final_model", snap.nonEmpty && wrongProb.isEmpty,
      s"${wrongProb.size} rows off, e.g. ${wrongProb.take(2)}")

    // --- per-layer (traced) ---------------------------------------------
    ctx.log("stream checks done")
    if (tr.enabled) {
      def dur(p: StreamingQueryProgress, k: String) = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      def med(f: StreamingQueryProgress => Double) = Stats.median(live.map(f))
      val n = live.size
      val so = (p: StreamingQueryProgress) => p.stateOperators.head
      ctx.metric("state.rows_total", live.lastOption.map(so(_).numRowsTotal.toDouble).getOrElse(0.0), "count", n)
      ctx.metric("state.memory_mb", live.lastOption.map(so(_).memoryUsedBytes / 1048576.0).getOrElse(0.0), "MB", n)
      ctx.metric("state.commit_ms", med(so(_).commitTimeMs.toDouble), "ms", n)
      ctx.metric("state.update_ms", med(so(_).allUpdatesTimeMs.toDouble), "ms", n)
      ctx.metric("parse.dropped", dropped.toDouble, "count")
      ctx.metric("stream.input_rows_per_batch", med(_.numInputRows.toDouble), "count", n)
      ctx.metric("stream.batch_ms_p50", med(dur(_, "triggerExecution")), "ms", n)
      ctx.metric("stream.batch_ms_max", live.map(dur(_, "triggerExecution")).maxOption.getOrElse(0.0), "ms", n)
      ctx.metric("stream.add_batch_ms", med(dur(_, "addBatch")), "ms", n)
      ctx.metric("stream.planning_ms", med(dur(_, "queryPlanning")), "ms", n)
      ctx.metric("stream.wal_commit_ms", med(dur(_, "walCommit")), "ms", n)
      ctx.metric("stream.jobs_per_batch", med(b => tr.jobs.get(s"sb:${b.batchId}").jobs.toDouble), "count", n)
      ctx.metric("stream.shuffle_mb_per_batch", med(b => tr.jobs.get(s"sb:${b.batchId}").shuffleMb), "MB", n)
      ctx.metric("gen.late_s", lateMs / 1e3, "s")
      ctx.metric("live.backlog_end_events", backlogEndEvents.toDouble, "count")
      ctx.metric("live.events", eventLatencies.size.toDouble, "count")
      ctx.metric("live.batches", n.toDouble, "count")
      ctx.metric("watcher.poll_ms", Stats.median(pollMs.toSeq), "ms", pollMs.size)
      val writes = tr.spans.filter(_.name == "registry.write")
      ctx.metric("registry.write_s", Stats.median(writes.map(_.seconds)), "s", writes.size)
      ctx.metric("traced.latency_p50_s", Stats.median(eventLatencies), "s", eventLatencies.size)
      // one span per micro-batch, so the trace shows the batch cadence
      batches.foreach { b =>
        tr.record("stream.batch", "streaming.Recommender", b.batchId,
          ctx.nanosAt(startMs(b)), ctx.nanosAt(commitMs(b)), tr.jobs.get(s"sb:${b.batchId}"))
      }
    }
    System.err.println(s"[perfbench] stream: sent $sent, batches ${batches.size}, " +
      s"live batches ${live.size}, backlog ${backlogS}s")
  }
}
