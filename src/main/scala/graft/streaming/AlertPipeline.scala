package graft.streaming

import graft.model.{Alert, CooldownState, PaneFlags, PaneState}
import graft.operators.AlertOps
import graft.sources.JsonIngest
import graft.state.{Cooldown, WindowCooldown}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, lit, timestamp_seconds}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** One canonical pipeline subsuming all four reference variants
  * (SURVEY.md §7.1) — their differences collapse into this config.
  * Streaming input runs one stateful operator; batch input runs the
  * declarative chain, which is also the reference the stream == batch
  * specs compare the stream against:
  *
  * {{{
  * raw HR json ─ parse ─┐
  *                      ├─ union ─ watermark ─ qualifying filter ─┬─ streaming: window panes
  * raw BP json ─ parse ─┘                                         │    │
  *                                                                │  WindowCooldown (flags + cooldown,
  *                                                                │    one flatMapGroupsWithState)
  *                                                                │
  *                                                                └─ batch: window agg (flags)
  *                                                                     │
  *                                                                   alert filter + message
  *                                                                     │
  *                                                                   Cooldown (dedupe)
  * }}}
  *
  * Why two sides: on a stream Spark re-plans, re-generates and commits
  * every stateful operator each micro-batch, the no-data batches that
  * only advance the watermark included. Folding the window flags into
  * the cooldown's keyed state leaves one operator and one shuffle per
  * batch (README, "Design decisions"). A batch query runs each
  * operator once, so it keeps the declarative chain: partial
  * aggregation before the shuffle, and no per-user state.
  *
  * Reference defaults mirrored here: 5s/1s window, 0s watermark delay
  * (AkkaBiometricAlertStreamProcessor.scala:67 MaxDelay), 5s cooldown
  * (BiometricAlertStreamProcessor.scala:71).
  *
  * Both sides emit the same alerts for the same events when none
  * arrive late. `timeout` applies to streaming input only and must be
  * the event-time timeout there: [[dedupe]] runs the processing-time
  * cooldown on an alert stream of its own, and uses `NoTimeout` on
  * batch input.
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

  /** The watermark (streaming input) and the events that can set a
    * flag. The others would add `length/slide` all-false pane rows each
    * to the window state, and no such pane can alert.
    */
  private def qualifying(events: DataFrame, cfg: Config): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", cfg.watermarkDelay)
      else events
    // The `ts` disjunct keeps this filter above the watermark: Catalyst
    // pushes a predicate below EventTimeWatermark only when it does not
    // reference the event-time column. So non-qualifying events still
    // advance the watermark (and close panes), as in the unfiltered
    // plan. Pre-epoch events pass it too; they only add false flags.
    withWm.filter(AlertOps.highHeartRate ||
      AlertOps.lowBloodPressure || col("ts") < timestamp_seconds(lit(0)))
  }

  /** Event stream → per-slide alert stream (W1/W4 + A1 + P6 + P7),
    * before deduplication: the declarative window aggregation. Works
    * on batch or streaming input; [[apply]] runs it on batch input.
    */
  def rawAlerts(events: DataFrame, cfg: Config): DataFrame =
    AlertOps.alerts(AlertOps.slidingWindowFlags(
      qualifying(events, cfg), cfg.windowLength, cfg.windowSlide))

  /** Cooldown stage (T1–T3): at most one alert per user per cooldown.
    * The batch side of [[apply]] and [[CurationPipeline.startMonitor]]
    * run it; the streaming side applies the same debounce step inside
    * [[WindowCooldown]].
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

  /** The streaming side after the filter: each event's panes, keyed by
    * user, into the one [[WindowCooldown]] operator. `events` must
    * carry the watermark; [[apply]] passes the qualifying ones.
    */
  def windowCooldown(events: DataFrame, cfg: Config): Dataset[Alert] = {
    require(cfg.timeout == GroupStateTimeout.EventTimeTimeout,
      s"the streaming alert pipeline debounces on event time only, not " +
        s"${cfg.timeout}; run another cooldown as AlertPipeline.dedupe " +
        "over rawAlerts")
    val spark = events.sparkSession
    import spark.implicits._
    AlertOps.paneFlags(events, cfg.windowLength, cfg.windowSlide)
      .groupBy(col("user_id")).as[Int, PaneFlags]
      .flatMapGroupsWithState[PaneState, Alert](OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
          WindowCooldown(cfg.cooldownMs, cfg.windowLength, cfg.windowSlide))
  }

  /** Full pipeline: raw JSON in, deduplicated alerts out. */
  def apply(hrRaw: DataFrame, bpRaw: DataFrame,
      cfg: Config = Config()): Dataset[Alert] = {
    val events = ingest(hrRaw, bpRaw)
    if (events.isStreaming) windowCooldown(qualifying(events, cfg), cfg)
    else dedupe(rawAlerts(events, cfg), cfg)
  }
}
