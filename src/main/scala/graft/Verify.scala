package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dump (and list in
    // oracle_sql.json) only those, for fast single-query iteration
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, f) => (a, b, Some(f.split(",").toSet))
    }
    val spark = LocalSession()
    // wipe stale outputs: a failed query must not leave a previous
    // run's parquet behind to silently pass the compare
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val out = new java.io.File(outDir)
    if (out.exists()) rm(out)
    out.mkdirs()
    SparkEntry.queries
      .filter(kv => only.forall(_.contains(kv._1)))
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce collapses the whole
      // final stage (reduce-side aggs, verify joins) into one task —
      // q102's 500k-row pair verification ran single-threaded.
      // repartition inserts a shuffle boundary, so upstream keeps its
      // parallelism and only the single-file write (a driver
      // requirement for the compare) is serial.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => only.forall(_.contains(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
