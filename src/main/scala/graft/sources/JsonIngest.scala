package graft.sources

import graft.functions.ByReference
import graft.model.Events
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.CurrentTimestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Columns
import org.apache.spark.sql.types.StructType

/** JSON string → canonical event rows (operator P1 in SURVEY.md §2.3).
  *
  * Built entirely on `from_json` (Catalyst `JsonToStructs`, codegen'd):
  * snake_case field names are declared in the schema so no naming shim
  * is needed; unknown JSON fields are ignored and malformed rows parse
  * to nulls (PERMISSIVE), matching the reference's lenient Jackson
  * setup (BiometricAlertStreamProcessor.scala:19–20). Payload
  * `timestamp` (epoch millis) is optional; rows without one get ingest
  * time, subsuming the processing-time pipelines (SURVEY.md §1.3).
  *
  * Works identically on batch and streaming DataFrames — the streaming
  * pipeline and the batch oracle tests share this code.
  */
object JsonIngest {

  /** Ingest time: the query's `current_timestamp()`, one value per
    * micro-batch on a stream. Read by reference, so the parse stage's
    * generated code is the same in every batch.
    */
  private def ingestTime: Column = Columns.of(ByReference(CurrentTimestamp()))

  /** Parse one raw-JSON column into typed event columns. */
  private def parse(raw: DataFrame, schema: StructType, eventType: String,
      jsonCol: String): DataFrame =
    raw
      .select(from_json(col(jsonCol), schema).as("e"))
      .select(col("e.*"))
      .withColumn("event_type", lit(eventType))
      .withColumn("ts",
        coalesce(timestamp_millis(col("timestamp")), ingestTime))
      .drop("timestamp")
      .filter(col("user_id").isNotNull)

  def heartRate(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    parse(raw, Events.heartRateSchema, Events.HeartRate, jsonCol)

  def bloodPressure(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    parse(raw, Events.bloodPressureSchema, Events.BloodPressure, jsonCol)

  /** Merge heterogeneous event streams into the flat superset schema
    * (operator J4: `Merge[Event](2)` at
    * AkkaBiometricAlertStreamProcessor.scala:156–163) — missing columns
    * become nulls, like the reference's sealed-trait union.
    */
  def unionEvents(streams: DataFrame*): DataFrame =
    streams.reduce(_.unionByName(_, allowMissingColumns = true))
}
