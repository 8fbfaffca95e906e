package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** The machine and configuration a run measured on, recorded in every
  * result: a number read against a loaded box, a leftover JVM or a
  * forgotten `SPARK_GRAFT_*` knob is then visible in the run itself.
  */
object RunContext {

  def loadavg(): Seq[Double] =
    Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split("\\s+").take(3).toSeq.map(_.toDouble)).getOrElse(Seq.empty)

  /** Other live JVMs on the machine (pid and command, truncated). */
  def otherJavaProcesses(): Seq[String] = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().iterator().asScala
      .filter(p => p.pid() != self &&
        p.info().command().orElse("").endsWith("java"))
      .map(p => s"${p.pid()} ${p.info().commandLine().orElse("java").take(160)}")
      .toSeq
  }

  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Process resident high-water mark (VmHWM). */
  def peakRssMb(): Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Heap still in use after two full collections: what the run keeps
    * in memory (cached tables, state, kernels, models), without the
    * garbage-collector timing that makes the resident size vary.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200) // let Spark's ContextCleaner drop what the collection released
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  def atStart(): Map[String, Any] = Map(
    "cores" -> Runtime.getRuntime.availableProcessors(),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "loadavg" -> loadavg(),
    "other_java_processes" -> otherJavaProcesses(),
    "spark_graft_env" -> sys.env.filter(_._1.startsWith("SPARK_GRAFT_")).toSeq.sorted.toMap,
    "java_version" -> System.getProperty("java.version"))

  def atEnd(spark: SparkSession): Map[String, Any] = Map(
    "loadavg" -> loadavg(),
    "other_java_processes" -> otherJavaProcesses(),
    "spark_version" -> spark.version,
    "session_conf" -> spark.conf.getAll.toSeq.sorted.toMap)
}
