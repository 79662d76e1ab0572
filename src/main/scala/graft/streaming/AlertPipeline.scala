package graft.streaming

import graft.model.{Alert, CooldownState}
import graft.operators.AlertOps
import graft.sources.JsonIngest
import graft.state.Cooldown
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, lit, timestamp_seconds}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** One canonical pipeline subsuming all four reference variants
  * (SURVEY.md §7.1) — their differences collapse into this config:
  *
  * {{{
  * raw HR json ─ parse ─┐
  *                      ├─ union ─ watermark ─ qualifying filter ─ window agg (flags)
  * raw BP json ─ parse ─┘                                               │
  *                                                       alert filter + message
  *                                                                      │
  *                                                         cooldown flatMapGroupsWithState
  * }}}
  *
  * Reference defaults mirrored here: 5s/1s window, 0s watermark delay
  * (AkkaBiometricAlertStreamProcessor.scala:67 MaxDelay), 5s cooldown
  * (BiometricAlertStreamProcessor.scala:71).
  *
  * Every stage runs unchanged on batch input, where it computes the
  * alerts the stream emits for the same events when none arrive late.
  * `timeout` applies to streaming input only: [[dedupe]] uses
  * `NoTimeout` on batch input.
  */
object AlertPipeline {

  final case class Config(
      windowLength: String = "5 seconds",
      windowSlide: String = "1 second",
      watermarkDelay: String = "0 seconds",
      cooldownMs: Long = 5000L,
      timeout: GroupStateTimeout = GroupStateTimeout.EventTimeTimeout)

  /** Raw JSON streams → canonical unioned event stream (P1 + J4). */
  def ingest(hrRaw: DataFrame, bpRaw: DataFrame): DataFrame =
    JsonIngest.unionEvents(
      JsonIngest.heartRate(hrRaw),
      JsonIngest.bloodPressure(bpRaw))

  /** Event stream → per-slide alert stream (W1/W4 + A1 + P6 + P7),
    * before deduplication. Works on batch or streaming input.
    *
    * Only events that can set a flag enter the window aggregation: the
    * others would add `length/slide` all-false pane rows each to the
    * window state, and no such pane can alert.
    */
  def rawAlerts(events: DataFrame, cfg: Config): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", cfg.watermarkDelay)
      else events
    // The `ts` disjunct keeps this filter above the watermark: Catalyst
    // pushes a predicate below EventTimeWatermark only when it does not
    // reference the event-time column. So non-qualifying events still
    // advance the watermark (and close panes), as in the unfiltered
    // plan. Pre-epoch events pass it too; they only add false flags.
    val qualifying = withWm.filter(AlertOps.highHeartRate ||
      AlertOps.lowBloodPressure || col("ts") < timestamp_seconds(lit(0)))
    AlertOps.alerts(
      AlertOps.slidingWindowFlags(qualifying, cfg.windowLength, cfg.windowSlide))
  }

  /** Cooldown stage (T1–T3): at most one alert per user per cooldown.
    * The one cooldown operator: the streaming pipeline, batch input
    * and [[CurationPipeline.startMonitor]] all run it.
    *
    * Suppression compares EVENT times inside the state function; the
    * GroupState timeout only bounds state lifetime. On batch input the
    * timeout is always `NoTimeout` (each key is seen once, so state
    * dies with the query and the function is the greedy leading
    * debounce); on streaming input it is `cfg.timeout`. The default
    * event-time timeout rides on the watermark metadata that
    * `window_time` carried through the upstream aggregation — do NOT
    * re-declare a watermark here (a second EventTimeWatermark node that
    * sees no rows until panes close pins the default min-policy global
    * watermark at 0 and deadlocks the pipeline), and do NOT use
    * ProcessingTimeTimeout with `processAllAvailable` (pending
    * wall-clock timeouts make the microbatch loop spin).
    */
  def dedupe(alerts: DataFrame, cfg: Config): Dataset[Alert] = {
    val spark = alerts.sparkSession
    import spark.implicits._
    val timeout =
      if (alerts.isStreaming) cfg.timeout else GroupStateTimeout.NoTimeout
    alerts.as[Alert]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CooldownState, Alert](
        OutputMode.Append, timeout)(Cooldown(cfg.cooldownMs, timeout))
  }

  /** Full pipeline: raw JSON in, deduplicated alerts out. */
  def apply(hrRaw: DataFrame, bpRaw: DataFrame,
      cfg: Config = Config()): Dataset[Alert] =
    dedupe(rawAlerts(ingest(hrRaw, bpRaw), cfg), cfg)
}
