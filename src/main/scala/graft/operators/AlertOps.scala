package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The alert query as pure DataFrame → DataFrame operators, shared by
  * the streaming pipeline and the batch queries (SURVEY.md §7.1: batch
  * and streaming share the same logical construction).
  *
  * Semantics (reference README.md:7): alert per (sliding window, user)
  * when the user has SOME heart-rate event with `heart_rate > 100` AND
  * SOME blood-pressure event with `systolic < 100` in the window
  * (BiometricAlertStreamProcessor.scala:59–62).
  *
  * Formulation: the canonical window-aggregation shape (J3/A1) — NOT
  * the reference's per-batch outer join + list-concat reducer. Flags
  * via `max(when(...))` keep per-(window,user) state at two booleans
  * instead of O(events) lists: strictly less state, and partial
  * aggregation (map-side combine) applies — the property that matters
  * at 100 TB where a sliding window multiplies every event into
  * `length/step` panes.
  */
object AlertOps {

  val highHeartRate: Column = col("event_type") === "heart_rate" && col("heart_rate") > 100
  val lowBloodPressure: Column = col("event_type") === "blood_pressure" && col("systolic") < 100

  /** The alert message, a `format_string` / `String.format` pattern
    * over the user id.
    */
  val Message = "User %d has a problem"

  /** Sliding-window flag aggregation (A1): one row per (window, user)
    * with existence flags `has_high_hr` / `has_low_bp` for the two
    * alert predicate halves. The halves default to the biometric
    * predicates; q20 passes its own over the `events` table.
    */
  def slidingWindowFlags(events: DataFrame, length: String, slide: String,
      high: Column = highHeartRate, low: Column = lowBloodPressure): DataFrame =
    events
      .groupBy(window(col("ts"), length, slide), col("user_id"))
      .agg(
        max(when(high, true).otherwise(false)).as("has_high_hr"),
        max(when(low, true).otherwise(false)).as("has_low_bp"))

  /** Each event's sliding-window panes, one row per (event, pane): the
    * user, the pane's `window` struct (the event-time column, which
    * keeps the watermark metadata), its end in epoch µs, and the
    * event's two flags. The input of the fused streaming operator
    * ([[graft.state.WindowCooldown]]); [[slidingWindowFlags]] is the
    * same panes aggregated.
    */
  def paneFlags(events: DataFrame, length: String, slide: String): DataFrame =
    events
      .select(col("user_id"), window(col("ts"), length, slide).as("window"),
        when(highHeartRate, true).otherwise(false).as("has_high_hr"),
        when(lowBloodPressure, true).otherwise(false).as("has_low_bp"))
      .withColumn("end_us", unix_micros(col("window.end")))

  /** The alert predicate (P6) + message map (P7).
    *
    * The alert timestamp is `window_time(window)` (= window.end − 1µs),
    * not `window.end`: `window_time` PRESERVES the event-time watermark
    * metadata through the aggregation, which the downstream stateful
    * cooldown needs for its event-time timeout. Extracting `.end`
    * directly drops the metadata and the chained stateful operator
    * fails analysis.
    */
  def alerts(flagged: DataFrame): DataFrame =
    flagged
      .filter(col("has_high_hr") && col("has_low_bp"))
      .select(
        col("user_id"),
        format_string(Message, col("user_id")).as("message"),
        window_time(col("window")).as("ts"))

  /** Full-outer emission mode of the band join — the reference's Kafka
    * Streams `outerJoin` (KafkaBiometricAlertStreamProcessor.scala:
    * 42–51), which surfaces unmatched qualifying events as `(v, null)`
    * rows: useful when monitoring which half of the alert predicate
    * fired alone. Alert semantics are unchanged (unmatched rows never
    * alert — [[bandJoinAlerts]] stays inner), so this is the
    * operator-level capability on its own.
    *
    * Emission-time difference vs the reference (SURVEY §7.5.1): Kafka
    * Streams emits the `(v, null)` row eagerly per record and may
    * "repair" it with a joined row later; Spark emits unmatched rows
    * exactly once, only after the watermark passes the join window
    * (when no future match can arrive). Final per-key results agree;
    * the intermediate stream differs. Both inputs must carry
    * watermarks.
    */
  def bandJoinPairs(heartRate: DataFrame, bloodPressure: DataFrame,
      band: String, joinType: String = "full_outer"): DataFrame = {
    val hr = heartRate.filter(col("heart_rate") > 100)
      .select(col("user_id").as("hr_user"), col("ts").as("hr_ts"))
    val bp = bloodPressure.filter(col("systolic") < 100)
      .select(col("user_id").as("bp_user"), col("ts").as("bp_ts"))
    hr.join(bp,
        col("hr_user") === col("bp_user")
          && col("bp_ts") >= col("hr_ts") - expr(s"INTERVAL $band")
          && col("bp_ts") <= col("hr_ts") + expr(s"INTERVAL $band"),
        joinType)
      .select(
        coalesce(col("hr_user"), col("bp_user")).as("user_id"),
        col("hr_ts"), col("bp_ts"))
  }

  /** Interval (band) join formulation (J2) — the Kafka Streams
    * `JoinWindows.of(15s)` path (KafkaBiometricAlertStreamProcessor
    * .scala:42–51): pair qualifying HR/BP events within ±`band`.
    * Opt-in alternative to the window-agg path; inner join (the
    * reference's unmatched `(v, null)` rows never produce alerts — see
    * [[bandJoinPairs]] for the full-outer emission mode itself).
    */
  def bandJoinAlerts(heartRate: DataFrame, bloodPressure: DataFrame,
      band: String): DataFrame =
    bandJoinPairs(heartRate, bloodPressure, band, "inner")
      .select(
        col("user_id"),
        format_string(Message, col("user_id")).as("message"),
        greatest(col("hr_ts"), col("bp_ts")).as("ts"))
}
