package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    work: File = new File("."),
    out: File = new File("result.json"),
    sf: String = "")

object Args {
  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = new File(v)))
    case "--out" :: v :: t => parse(t, a.copy(out = new File(v)))
    case "--sf" :: v :: t => parse(t, a.copy(sf = v))
    case Nil => a
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }
}

/** What one harness run reports: metrics, failures, and the capture
  * record (host, settings, samples).
  */
final class Result {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val layerMetrics = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  def recordSession(spark: SparkSession): Unit = {
    info("spark_version") = spark.version
    info("session_confs") = Session.effective(spark)
    info("graft_extensions_installed") =
      spark.conf.getOption("spark.sql.extensions").exists(_.contains("graft.GraftExtensions"))
  }

  def json: String = Json(Map(
    "attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "layer_metrics" -> layerMetrics,
    "info" -> info))
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv.toList)
    a.work.mkdirs()
    val out = new Result
    out.info("workload") = a.workload
    out.info("seed") = a.seed
    out.info("seconds") = a.seconds
    out.info("trace") = a.trace
    out.info("nproc") = Session.nproc
    out.info("loadavg_start") = Jvm.loadAvg()
    out.info("jdk") = s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}"
    val tr = new Tracer
    // the engine leaves non-daemon threads behind, so every exit is explicit
    try a.workload match {
      case "selftest" => SelfTest.run(a, out)
      case "batch_suite" =>
        if (a.trace) BatchRun.traced(a, out, tr) else BatchRun.run(a, out)
      case w =>
        val sh = Shapes.all.find(_.name == w)
          .getOrElse(throw new IllegalArgumentException(s"unknown workload $w"))
        if (a.trace) AlertRun.traced(sh, a, out, tr) else AlertRun.run(sh, a, out)
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        System.exit(1)
    }
    out.info("loadavg_end") = Jvm.loadAvg()
    if (a.trace) {
      val f = new File(a.work, "trace.json")
      tr.write(f)
      out.info("trace_file") = f.getPath
      out.info("self_ms_by_span") = tr.spans.map(_.name).distinct
        .map(n => n -> tr.selfMsByName(n)).toMap
    }
    Files.write(a.out.toPath, out.json.getBytes(StandardCharsets.UTF_8))
    System.exit(0)
  }
}
