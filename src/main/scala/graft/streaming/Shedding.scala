package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}

/** Opt-in load shedding — the Spark-honest mapping of Akka's
  * `OverflowStrategy.dropHead` (drop the OLDEST buffered element when
  * the buffer overflows, AkkaBiometricAlertStreamProcessor.scala:39–40).
  *
  * The engine's DEFAULT admission control defers instead of dropping
  * (`maxOffsetsPerTrigger`/`maxFilesPerTrigger` — nothing is ever
  * lost, latency absorbs the burst; AdmissionControlSpec). This mode
  * is the other side of that tradeoff: bounded processing latency at
  * the cost of data loss, applied at micro-batch granularity inside a
  * `foreachBatch` sink — when a trigger's input exceeds the budget,
  * only the NEWEST `budget` rows survive (exactly dropHead's "old
  * data is the shed data" policy, at batch rather than element
  * granularity, which is the finest granularity a micro-batch engine
  * can honestly offer).
  *
  * Scale shape: the keep-set is orderBy(newest).limit(budget) —
  * Spark plans TakeOrderedAndProject (per-task budget-sized heaps,
  * driver merges task winners), so shedding a 10⁹-row burst never
  * sorts or collects it. The shed count is a metric every production
  * shed path must expose; it comes from the same batch scan.
  */
object Shedding {

  /** One micro-batch through the drop-oldest policy.
    *
    * @param order newest-first ordering, e.g. `col("ts").desc,
    *   col("event_id").desc` — include a unique tiebreak so the kept
    *   set is deterministic under timestamp ties
    * @return (kept rows, shed-row count)
    */
  def dropOldest(batch: DataFrame, budget: Int,
      order: Column*): (DataFrame, Long) = {
    val total = batch.count()
    if (total <= budget) (batch, 0L)
    else (batch.orderBy(order: _*).limit(budget), total - budget)
  }
}
