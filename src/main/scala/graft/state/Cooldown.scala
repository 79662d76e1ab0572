package graft.state

import graft.model.{Alert, CooldownState}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** The emit-on-rise + TTL cooldown state machine (SURVEY.md §2.8),
  * whose debounce step and GC rule [[WindowCooldown]] shares: a typed
  * `flatMapGroupsWithState` function unifying the reference's three
  * implementations (T1 `updateStateByKey` at
  * BiometricAlertStreamProcessor.scala:67–85, T2 Akka rate limiter at
  * AkkaBiometricAlertStreamProcessor.scala:129–151, T3 Kafka
  * `Transformer` + store at KafkaBiometricAlertStreamProcessor
  * .scala:74–104).
  *
  * Semantics, matching the reference exactly:
  *  - first alert for a user → EMIT, record trigger time, arm TTL;
  *  - further alerts while state is alive → SUPPRESS, and do NOT extend
  *    the cooldown (the reference refreshes state to `false` but keeps
  *    the original trigger time — BiometricAlertStreamProcessor
  *    .scala:69–73 — so re-alerting happens exactly at cooldown expiry
  *    even under continuous alerting);
  *  - TTL expiry → state removed (T1's `None` return), next alert
  *    emits again.
  *
  * Within one invocation alerts are processed in event-time order, so
  * the same function is the greedy leading debounce in batch mode
  * (where each key is seen exactly once).
  *
  * Unlike T2's unbounded HashMap, state here is always evicted by the
  * timeout — bounded state at 100 TB key cardinality; with the RocksDB
  * state-store provider this scales past executor memory.
  */
object Cooldown {

  type Fn = (Int, Iterator[Alert], GroupState[CooldownState]) => Iterator[Alert]

  /** The last emit of a user that has not alerted yet. */
  val Never: Long = Long.MinValue

  /** The leading-debounce step, on event time: an alert at `tMs` emits
    * unless the last emit (`lastMs`, [[Never]] for none) was less than
    * `cooldownMs` before it. The emit does not extend a running
    * cooldown: the caller records `tMs` as the new last emit only when
    * this holds.
    */
  def emits(tMs: Long, lastMs: Long, cooldownMs: Long): Boolean =
    tMs >= lastMs + cooldownMs

  /** The GC rule: once the watermark reaches this time, state whose
    * last emit was `lastMs` can suppress no alert, since every later
    * alert is at or after the watermark. The state's event-time
    * timeout fires there.
    */
  def expiresAtMs(lastMs: Long, cooldownMs: Long): Long = lastMs + cooldownMs

  /** @param cooldownMs suppress re-alerts for this long after an emit
    * @param timeoutConf must match the conf passed to
    *   `flatMapGroupsWithState` (event-time for deterministic tests,
    *   processing-time for reference parity with the DStream pipeline)
    */
  def apply(cooldownMs: Long, timeoutConf: GroupStateTimeout): Fn =
    (_: Int, alerts: Iterator[Alert], state: GroupState[CooldownState]) => {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else if (timeoutConf == GroupStateTimeout.ProcessingTimeTimeout) {
        // Reference-parity arm: T1/T2/T3 measure the cooldown on the
        // WALL clock (`new Date()` — BiometricAlertStreamProcessor
        // .scala:69–77), so here live state means suppress, and
        // re-alerting happens only after the TTL removes the state.
        // triggeredAtMs stores the PROCESSING time of the emit in this
        // mode — the clock the suppression window is defined on.
        val sorted = alerts.toArray.sortBy(_.ts.getTime)
        if (sorted.isEmpty) Iterator.empty
        else {
          val now = state.getCurrentProcessingTimeMs()
          if (state.exists) {
            // GroupState CLEARS a pending timeout on every invocation:
            // re-arm with the REMAINING window, not the full duration
            // (resetting the full duration under continuous alerting
            // would turn the leading debounce into a trailing one and
            // never re-alert — the reference keeps the ORIGINAL
            // trigger time for exactly this reason)
            val remaining =
              math.max(1L, state.get.triggeredAtMs + cooldownMs - now)
            state.setTimeoutDuration(remaining)
            Iterator.empty
          } else {
            state.update(CooldownState(now))
            state.setTimeoutDuration(cooldownMs)
            Iterator.single(sorted.head)
          }
        }
      } else {
        val sorted = alerts.toArray.sortBy(_.ts.getTime)
        var last = state.getOption.fold(Never)(_.triggeredAtMs)
        val emitted = Array.newBuilder[Alert]
        var armed = false
        sorted.foreach { a =>
          val t = a.ts.getTime
          if (emits(t, last, cooldownMs)) {
            last = t
            emitted += a
            armed = true
          }
        }
        if (armed) state.update(CooldownState(last))
        // Re-arm the GC timeout on EVERY invocation that leaves state
        // behind, not only emitting ones: GroupState clears a pending
        // timeout each time the function runs for the group, so a
        // suppressed invocation that skipped this would leave the
        // state unexpirable — an unbounded-state leak under
        // alert-suppress-alert traffic (T2's HashMap bug, the one
        // this timeout exists to fix).
        if (state.exists &&
            timeoutConf == GroupStateTimeout.EventTimeTimeout) {
          // must be past the watermark; clamp defensively
          val wm = state.getCurrentWatermarkMs()
          state.setTimeoutTimestamp(
            math.max(expiresAtMs(state.get.triggeredAtMs, cooldownMs), wm + 1))
        } // else NoTimeout (batch): state dies with the query
        emitted.result().iterator
      }
    }
}
