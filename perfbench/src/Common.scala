package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the harness's result and trace files. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => str(other.toString)
  }
}

/** Order statistics used by every workload. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least ten samples beyond it, capped
    * at p99 and floored at p50: (percentile, value).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = math.max(0.5, math.min(0.99, 1.0 - 10.0 / math.max(1, xs.size)))
    (p, quantile(xs, p))
  }
}

/** One Spark session shape for every workload: local[n], shuffle
  * partitions = n, the engine's extensions installed, and all scratch
  * (shuffle, spill, warehouse, checkpoints) under the run's work dir.
  */
object Session {
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  /** Set-ups in an untraced run; `setup_s` is their median. */
  val SetupReps = 3

  def confs(cores: Int, work: File): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "perfbench",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> new File(work, "local").getAbsolutePath,
    "spark.sql.warehouse.dir" -> new File(work, "warehouse").getAbsolutePath,
    "spark.sql.streaming.numRecentProgressUpdates" -> "100000")

  def start(work: File, cores: Int = nproc): SparkSession = {
    val b = SparkSession.builder()
    confs(cores, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The effective values of the confs this harness sets or depends on. */
  def effective(spark: SparkSession): Map[String, String] = {
    val keys = confs(1, new File(".")).map(_._1) ++ Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.pollingDelay")
    keys.map(k => k -> spark.conf.getOption(k).getOrElse("<default>")).toMap
  }
}

/** JVM-level measurements. */
object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after forced full collections, in MiB. */
  def heapLiveMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU seconds this process has used. */
  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Host-wide CPU seconds stolen by the hypervisor (from /proc/stat). */
  def stealS(): Double = try {
    val f = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/stat"))).linesIterator.next().trim.split("\\s+")
    f(8).toDouble / 100.0
  } catch { case _: Throwable => Double.NaN }

  def loadAvg(): Seq[Double] = try {
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim.split("\\s+")
      .take(3).map(_.toDouble).toSeq
  } catch { case _: Throwable => Seq(-1.0, -1.0, -1.0) }
}

/** Wall-clock stopwatch in seconds. */
final class Clock {
  private val t0 = System.nanoTime()
  def s: Double = (System.nanoTime() - t0) / 1e9
  def ms: Double = (System.nanoTime() - t0) / 1e6
}
