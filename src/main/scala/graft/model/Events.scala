package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** Canonical event/alert schemas for the biometric alert pipeline.
  *
  * One flat superset schema with an `event_type` discriminator subsumes
  * all four reference variants (SURVEY.md §1.2): the heart-rate stream
  * (`{"user_id":12345,"heart_rate":200}`,
  * reference BiometricAlertStreamProcessor.scala:29), the
  * blood-pressure stream (`{"user_id":12345,"systolic":120,
  * "diastolic":80}`, reference BiometricAlertStreamProcessor.scala:30)
  * and their event-time variants carrying epoch-millis `timestamp`
  * (reference AkkaBiometricAlertStreamProcessor.scala:27–28). Missing
  * payload timestamps default to ingest time, mirroring the
  * processing-time pipelines.
  */
object Events {

  /** JSON wire schema of a heart-rate event (snake_case; unknown fields
    * ignored by `from_json` PERMISSIVE mode, matching the reference's
    * FAIL_ON_UNKNOWN_PROPERTIES=false — JsonSerde.scala:10–11).
    */
  val heartRateSchema: StructType = StructType(Seq(
    StructField("user_id", IntegerType),
    StructField("heart_rate", IntegerType),
    StructField("timestamp", LongType)))

  /** JSON wire schema of a blood-pressure event. */
  val bloodPressureSchema: StructType = StructType(Seq(
    StructField("user_id", IntegerType),
    StructField("systolic", IntegerType),
    StructField("diastolic", IntegerType),
    StructField("timestamp", LongType)))

  val HeartRate = "heart_rate"
  val BloodPressure = "blood_pressure"
}

/** Typed row at the stateful-cooldown boundary (the only typed stage —
  * SURVEY.md §1.4).
  */
final case class Alert(user_id: Int, message: String, ts: Timestamp)

/** Cooldown state: when the last emitted alert fired (epoch millis).
  * Mirrors the reference's `(Boolean, Date, String)` state tuple
  * (BiometricAlertStreamProcessor.scala:67) minus the redundant fields:
  * emit-on-rise only needs the trigger time.
  */
final case class CooldownState(triggeredAtMs: Long)

/** One sliding-window pane of one qualifying event, the input row of
  * the fused streaming operator ([[graft.state.WindowCooldown]]): the
  * pane's end (epoch µs) and the event's two alert flags.
  */
final case class PaneFlags(user_id: Int, end_us: Long,
    has_high_hr: Boolean, has_low_bp: Boolean)

/** Per-user state of the fused streaming operator: the cooldown's last
  * emit (epoch millis, [[graft.state.Cooldown.Never]] before the first)
  * and the open panes, each packed as `end_us << 2 | flags` (bit 0 high
  * heart rate, bit 1 low blood pressure), ascending by end.
  */
final case class PaneState(triggeredAtMs: Long, panes: Array[Long])
