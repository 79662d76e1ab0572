package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a session: every main, bench and test suite
  * runs the engine as deployed — `local[cores]`, one shuffle partition
  * per core, UTC, no UI, and [[GraftExtensions]] installed (the native
  * functions). Shuffle and spill files go to tmpfs when the host has
  * one: with a disk-backed temp dir, dirty-page writeback stalls add
  * seconds to individual queries. Callers set their own runtime conf afterwards
  * with `spark.conf.set`.
  */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else every core of the host. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = LocalSession.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft"
        else System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
