package graft

import org.apache.spark.sql.SparkSession

/** Job labeling (optimization guide §1.5): wrap an action-running
  * block so every Spark job it schedules carries a human-readable
  * description — the UI and [[graft.Profile]]'s job table then attribute
  * lifecycle queries' many small jobs to their code paths instead of
  * an anonymous job list. Descriptions are thread-local and restored
  * on exit, so nested labels compose (innermost wins) and callers'
  * labels survive.
  */
object Jobs {
  def labeled[T](s: SparkSession, label: String)(f: => T): T = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try f finally sc.setJobDescription(prev)
  }

  /** Scale-adaptive read parallelism over an (eagerly) locally-
    * checkpointed frame (optimization guide §2: derive partitioning
    * from input size, not a constant tuned for one deployment).
    *
    * A checkpoint pinned at the session's core count keeps that
    * partition count for every downstream map stage — right for the
    * heavy decode that produced it, but a SLIM consumer (flags,
    * ranks, key joins) then schedules `cores` near-empty tasks per
    * stage; at micro-batch scale the task-launch overhead dwarfs the
    * work (measured: the wet seam's per-wave verdict runs ~10 map
    * stages of 32 tasks over a ~1 MB pin). This measures the pin's
    * MATERIALIZED size from the block manager and coalesces the read
    * side to ~`bytesPerPart` per task (no shuffle — a coalesced task
    * reads its neighbors' cached blocks locally), floored at 1 and
    * capped at the current partition count, so a production-sized
    * batch (GBs) keeps full parallelism and only genuinely tiny
    * frames collapse. Falls back to the frame unchanged whenever the
    * size cannot be read (not checkpointed / already computed away).
    */
  /** Eager local checkpoint + [[adaptiveRead]]: pin a frame once and
    * hand every consumer the size-derived read. Use where downstream
    * per-row work is LIGHT (joins, flags, column aggs); a pin feeding
    * heavy per-row compute (decode, shingling) should keep its full
    * partition count — bytes underestimate that work.
    */
  def pinned(df: org.apache.spark.sql.DataFrame,
      bytesPerPart: Long = 32L << 20): org.apache.spark.sql.DataFrame =
    adaptiveRead(df.localCheckpoint(true), bytesPerPart)

  def adaptiveRead(df: org.apache.spark.sql.DataFrame,
      bytesPerPart: Long = 32L << 20): org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession
    try {
      val ckRdd = df.queryExecution.analyzed.collectLeaves().collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
      ckRdd match {
        case Some(rdd) if rdd.getNumPartitions > 1 =>
          s.sparkContext.getRDDStorageInfo.find(_.id == rdd.id) match {
            case Some(i) if i.memSize + i.diskSize > 0 =>
              val n = math.max(1L,
                math.ceil((i.memSize + i.diskSize).toDouble / bytesPerPart)
                  .toLong).toInt
              if (n < rdd.getNumPartitions) df.coalesce(n) else df
            case _ => df
          }
        case _ => df
      }
    } catch { case _: Throwable => df }
  }
}
