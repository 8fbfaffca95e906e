package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One measured run of one workload: `perfbench.Main --workload <name>
  * --seed <n> --seconds <s> --trace <0|1> --fixture <dir> --out <dir>`.
  * Writes `result.json` (and, traced, `spans.jsonl`) under `--out`;
  * `run.py` turns that into the benchmark's output line.
  *
  * `--gen-only 1` writes the seeded inputs (`ingest_delta.csv`,
  * `event_tape.jsonl`) and stops: the same-seed identity test.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      fixture: String, out: Path, reference: String, genOnly: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("fixture"), Paths.get(need("out")).toAbsolutePath,
      m.getOrElse("reference", ""), m.get("gen-only").contains("1"))
  }

  val workloads: Map[String, Ctx => Unit] = Map(
    "product" -> { ctx =>
      // every seeded input exists before the retrain pass starts; its
      // generation is harness work, recorded apart from `setup_s`
      val t0 = System.nanoTime()
      val src = Inputs.sources(ctx.spark, ctx.fixture)
      val delta = Inputs.ingestDelta(src, ctx.seed)
      val tape = Inputs.eventTape(src, ctx.seed, Stream.tapeSize(ctx.seconds))
      ctx.input("generate", (System.nanoTime() - t0) / 1e9)
      val (fact, artifacts) = Retrain.run(ctx, src, delta)
      Stream.run(ctx, tape, fact, artifacts)
    },
    "analytics" -> Analytics.run)

  def session(out: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val body = workloads.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; known: ${workloads.keys.mkString(", ")}"))
    Files.createDirectories(args.out.resolve("tmp"))
    val context0 = RunContext.atStart()
    val spark = session(args.out)
    try {
      if (args.genOnly) {
        val src = Inputs.sources(spark, args.fixture)
        Files.write(args.out.resolve("ingest_delta.csv"),
          Inputs.canonical(Inputs.ingestDelta(src, args.seed)))
        Files.write(args.out.resolve("event_tape.jsonl"),
          Inputs.canonical(Inputs.eventTape(src, args.seed, 20000)))
      } else {
        val ctx = new Ctx(spark, args, new Tracer(spark.sparkContext, args.trace))
        ctx.setup("session", RunContext.sinceJvmStart())
        val status =
          try { body(ctx); None }
          catch { case e: Throwable =>
            e.printStackTrace()
            Some(e.toString)
          }
        ctx.writeResult(status, context0, RunContext.atEnd(spark))
        ctx.log("stopping")
      }
    } finally spark.stop()
  }
}

/** What one run records: metrics, checks, attempted/failed operations. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val tracer: Tracer) {
  val originNs: Long = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()
  /** An epoch-millisecond instant on this run's nanoTime axis. */
  def nanosAt(epochMs: Long): Long = originNs + (epochMs - originEpochMs) * 1000000L
  def fixture: String = args.fixture
  def seed: Long = args.seed
  def seconds: Int = args.seconds
  def work(name: String): String = {
    val p = args.out.resolve("work").resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  private val setups = mutable.LinkedHashMap.empty[String, Double]
  private val inputs = mutable.LinkedHashMap.empty[String, Double]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private var attempted = 0
  private var failed = 0

  def metric(name: String, value: Double, unit: String, samples: Int = 1): Unit =
    metrics(name) = (value, unit, samples)

  /** One set-up component in seconds; `setup_s` is their sum. */
  def setup(name: String, seconds: Double): Unit = {
    setups(name) = seconds
    log(f"set-up $name ${seconds}%.2fs")
  }

  /** Time the harness spent making its seeded inputs: recorded, but not
    * part of `setup_s`, which counts only what the product pays.
    */
  def input(name: String, seconds: Double): Unit = {
    inputs(name) = seconds
    log(f"inputs $name ${seconds}%.2fs")
  }

  /** A timestamped progress line in the run's log. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - originNs) / 1e9}%7.2fs] $msg")

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  /** One product operation (pass, micro-batch, query) and whether it
    * failed; `error_rate` is failed over attempted.
    */
  def operation(ok: Boolean): Unit = synchronized { attempted += 1; if (!ok) failed += 1 }

  /** Runs `body` as one counted operation; a throw counts as failed. */
  def attempt[A](what: String)(body: => A): Option[A] =
    try { val r = body; operation(ok = true); Some(r) }
    catch { case e: Exception =>
      operation(ok = false)
      System.err.println(s"[perfbench] $what FAILED: $e")
      None
    }

  def writeResult(crash: Option[String], start: Map[String, Any], end: Map[String, Any]): Unit = {
    log("writing result")
    if (crash.nonEmpty) { attempted += 1; failed += 1 }
    metric("setup_s", setups.values.sum, "s")
    metric("error_rate", if (attempted == 0) 1.0 else failed.toDouble / attempted, "ratio", attempted)
    metric("peak_rss_mb", RunContext.peakRssMb(), "MB")
    metric("heap_retained_mb", RunContext.retainedHeapMb(), "MB")
    if (tracer.enabled) {
      jvmAtStart.foreach { case (gc, cg) =>
        metric("jvm.gc_ms", (Jvm.gcMillis() - gc).toDouble, "ms")
        metric("jvm.codegen_compiles", (Jvm.codegenCompiles() - cg).toDouble, "count")
      }
      if (crash.isEmpty) Layers.scanTables(this)
      tracer.writeSpans(args.out.resolve("spans.jsonl"), originNs)
      Layers.fill(this)
    }
    val correct = crash.isEmpty && checks.nonEmpty && checks.forall(_._2)
    val json = Json.obj(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> tracer.enabled, "correct" -> correct,
      "attempted" -> math.max(1, attempted), "failed" -> failed, "crash" -> crash,
      "metrics" -> metrics.map { case (k, (v, u, n)) =>
        k -> Json.Raw(Json.obj("value" -> v, "unit" -> u, "samples" -> n)) },
      "setup_parts_s" -> setups, "inputs_s" -> inputs,
      "checks" -> checks.map { case (n, ok, d) =>
        Json.Raw(Json.obj("name" -> n, "ok" -> ok, "detail" -> d)) },
      "layer_self_s" -> (if (tracer.enabled) tracer.selfByLayer else Map.empty),
      "context_start" -> start, "context_end" -> end)
    Files.write(args.out.resolve("result.json"), json.getBytes("UTF-8"))
    log("result written")
  }

  def has(name: String): Boolean = metrics.contains(name)

  private var jvmAtStart: Option[(Long, Long)] = None
  /** Marks the start of the measured phase (JVM counters baseline). */
  def startMeasuring(): Unit = jvmAtStart = Some((Jvm.gcMillis(), Jvm.codegenCompiles()))
}

object Stats {
  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else if (s.size == 1) s.head
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
