package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Spark work attributed to one key: a span's job group, or one
  * streaming micro-batch.
  */
final case class Work(jobs: Int = 0, jobMs: Long = 0L, shuffleBytes: Long = 0L,
    spillBytes: Long = 0L) {
  def +(o: Work): Work = Work(jobs + o.jobs, jobMs + o.jobMs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  def shuffleMb: Double = shuffleBytes / 1048576.0
  def spillMb: Double = spillBytes / 1048576.0
}

/** Counts jobs, job time, shuffle-write and spill bytes per attribution
  * key. A job's key is its micro-batch (`sb:<batchId>`, set by the
  * streaming engine) or else its job group (set by [[Tracer.span]]);
  * stages inherit the key of the job that submitted them.
  */
final class JobListener extends SparkListener {
  private val byKey = mutable.Map.empty[String, Work]
  private val jobKey = mutable.Map.empty[Int, (String, Long)]
  private val stageKey = mutable.Map.empty[Int, String]

  private def keyOf(p: Properties): String =
    if (p == null) "none"
    else Option(p.getProperty("streaming.sql.batchId")).map("sb:" + _)
      .orElse(Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")

  private def add(key: String, w: Work): Unit = synchronized {
    byKey(key) = byKey.getOrElse(key, Work()) + w
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    jobKey(e.jobId) = (k, e.time)
    e.stageIds.foreach(stageKey(_) = k)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val started = synchronized(jobKey.remove(e.jobId))
    started.foreach { case (k, t0) => add(k, Work(jobs = 1, jobMs = e.time - t0)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val k = synchronized(stageKey.remove(e.stageInfo.stageId)).getOrElse("none")
    val m = e.stageInfo.taskMetrics
    if (m != null)
      add(k, Work(shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.diskBytesSpilled + m.memoryBytesSpilled))
  }

  def get(key: String): Work = synchronized(byKey.getOrElse(key, Work()))
}

/** One call into a layer, as seen from the harness. `work` holds the
  * jobs submitted under this span's own job group (children excluded).
  */
final case class Span(id: Int, parent: Int, traceId: Long, name: String,
    layer: String, startNs: Long, endNs: Long, work: Work, gcMs: Long,
    codegen: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Jvm {
  import scala.jdk.CollectionConverters._
  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Spans around the harness's calls into the engine. Disabled, a span is
  * just its body: no job group, no listener drain, nothing recorded —
  * the end-to-end run measures the engine without tracing cost.
  * Enabled, each span sets a job group so the [[JobListener]] attributes
  * the span's Spark jobs to it, and drains the listener bus at its end.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val jobs = new JobListener
  if (enabled) sc.addSparkListener(jobs)
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[(Int, Long)]] {
    override def initialValue(): List[(Int, Long)] = Nil
  }

  def drain(): Unit = org.apache.spark.graft.SparkShims.drainListenerBus(sc)

  /** Runs `body` as span `name` of `layer`. The trace id is the caller's
    * unit of work (pass or batch); a nested span inherits its parent's.
    */
  def span[A](name: String, layer: String, traceId: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val outer = stack.get
      val tid = if (traceId >= 0) traceId else outer.headOption.map(_._2).getOrElse(0L)
      val group = s"pb-$id"
      stack.set((id, tid) :: outer)
      sc.setJobGroup(group, name)
      val gc0 = Jvm.gcMillis(); val cg0 = Jvm.codegenCompiles()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val gc = Jvm.gcMillis() - gc0; val cg = Jvm.codegenCompiles() - cg0
        drain()
        stack.set(outer)
        outer.headOption match {
          case Some((pid, _)) => sc.setJobGroup(s"pb-$pid", "")
          case None => sc.clearJobGroup()
        }
        synchronized {
          recorded += Span(id, outer.headOption.map(_._1).getOrElse(0), tid,
            name, layer, t0, t1, jobs.get(group), gc, cg)
        }
      }
    }

  /** Records a span measured elsewhere (a streaming micro-batch). */
  def record(name: String, layer: String, traceId: Long, startNs: Long,
      endNs: Long, work: Work): Unit = synchronized {
    nextId += 1
    recorded += Span(nextId, 0, traceId, name, layer, startNs, endNs, work, 0L, 0L)
  }

  def spans: Seq[Span] = synchronized(recorded.toList)

  /** Work of a span including every descendant. */
  def inclusive(s: Span): Work = {
    val kids = spans.groupBy(_.parent)
    def go(x: Span): Work = kids.getOrElse(x.id, Nil).foldLeft(x.work)((w, c) => w + go(c))
    go(s)
  }

  /** Self time: the span's duration minus the part its children cover. */
  def selfSeconds(s: Span, all: Seq[Span]): Double = {
    val covered = all.filter(_.parent == s.id).map(c => (c.startNs, c.endNs))
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
        val from = math.max(a, end)
        if (b > from) (sum + (b - from), b) else (sum, end)
      }._1
    math.max(0.0, s.seconds - covered / 1e9)
  }

  /** Spans as JSON lines (times relative to `originNs`), with self time. */
  def writeSpans(path: java.nio.file.Path, originNs: Long): Unit = {
    val all = spans
    val lines = all.map { s =>
      val inc = inclusive(s)
      Json.obj(
        "trace_id" -> s.traceId, "span_id" -> s.id, "parent_id" -> s.parent,
        "name" -> s.name, "layer" -> s.layer,
        "start_s" -> (s.startNs - originNs) / 1e9, "end_s" -> (s.endNs - originNs) / 1e9,
        "self_s" -> selfSeconds(s, all), "jobs" -> inc.jobs, "job_s" -> inc.jobMs / 1e3,
        "shuffle_mb" -> inc.shuffleMb, "spill_mb" -> inc.spillMb,
        "gc_ms" -> s.gcMs, "codegen_compiles" -> s.codegen)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Self seconds summed per layer. */
  def selfByLayer: Map[String, Double] = {
    val all = spans
    all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfSeconds(_, all)).sum }
  }
}
