package graft

import org.apache.spark.api.java.Optional

import graft.model.{PaneFlags, PaneState}
import graft.state.{Cooldown, WindowCooldown}
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests of the fused streaming operator's state function: which
  * panes close, in what order they pass the debounce, which timer it
  * arms and when its state goes.
  */
class WindowCooldownSpec extends AnyFunSuite {

  private val T0 = 1700000000000L
  private val cooldown = 2000L
  private val fn = WindowCooldown(cooldown, "5 seconds", "1 second")

  private def paneState(last: Long, panes: Long*): PaneState =
    PaneState(last, 5000000L, 1000000L, WindowCooldown.packPanes(panes.toArray))

  private def open(state: TestGroupState[PaneState]): Seq[Long] =
    WindowCooldown.unpackPanes(state.get.panes).toSeq

  private def stateAt(wmMs: Long, st: Option[PaneState] = None,
      hasTimedOut: Boolean = false): TestGroupState[PaneState] =
    TestGroupState.create[PaneState](
      st.fold(Optional.empty[PaneState]())(s => Optional.of(s)),
      GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = T0,
      eventTimeWatermarkMs = Optional.of(java.lang.Long.valueOf(wmMs)),
      hasTimedOut = hasTimedOut)

  /** One event's pane rows, latest pane first. */
  private def event(atMs: Long, hr: Boolean): Seq[PaneFlags] =
    (5 to 1 by -1).map(k =>
      PaneFlags(1, (T0 + (atMs / 1000 + k) * 1000) * 1000, hr, !hr))

  private def run(state: TestGroupState[PaneState], rows: Seq[PaneFlags]) =
    fn(1, rows.iterator, state).map(_.ts.getTime - T0).toSeq

  test("a pane closes at a watermark equal to its end; closed panes debounce in end order") {
    // both flags in the panes ending at +3 s … +7 s, rows latest first
    val state = stateAt(T0 + 7000)
    assert(run(state, event(2000, hr = true) ++ event(2000, hr = false)) ===
      Seq(2999L, 4999L, 6999L))
    // nothing open, and the last emit suppresses until +8999 ms
    assert(state.get.triggeredAtMs === T0 + 6999 && open(state).isEmpty)
    assert(state.getTimeoutTimestampMs.get() === T0 + 6999 + cooldown)
  }

  test("open panes stay in state; the timer fires when the next one closes") {
    val state = stateAt(T0 + 4000)
    assert(run(state, event(2000, hr = true)).isEmpty)
    assert(state.get.triggeredAtMs === Cooldown.Never)
    // +3 s and +4 s closed without an alert; +5 s … +7 s open
    assert(open(state).map(p => (p >> 2) / 1000 - T0) === Seq(5000L, 6000L, 7000L))
    assert(state.getTimeoutTimestampMs.get() === T0 + 4999)
    // the other half arrives; Spark drops the rows of the closed panes
    // (+3 s, +4 s) as late
    val next = stateAt(T0 + 5000, Some(state.get))
    assert(run(next, event(2000, hr = false).take(3)) === Seq(4999L))
    assert(next.getTimeoutTimestampMs.get() === T0 + 5999)
  }

  test("the timer is the earlier of the next pane close and the cooldown's GC time") {
    val pane = (T0 + 10000) * 1000 << 2 | 1L
    val state = stateAt(T0 + 3000, Some(paneState(T0 + 2999, pane)),
      hasTimedOut = true)
    assert(run(state, Nil).isEmpty)
    assert(state.getTimeoutTimestampMs.get() === T0 + 2999 + cooldown)
  }

  test("state goes once no pane is open and the cooldown can no longer suppress") {
    val last = paneState(T0)
    val live = stateAt(T0 + cooldown - 1, Some(last), hasTimedOut = true)
    assert(run(live, Nil).isEmpty)
    assert(live.exists && live.getTimeoutTimestampMs.get() === T0 + cooldown)
    val done = stateAt(T0 + cooldown, Some(last), hasTimedOut = true)
    assert(run(done, Nil).isEmpty)
    assert(done.isRemoved)
  }

  test("state of another window spec fails the user, naming both specs") {
    val other = PaneState(Cooldown.Never, 20000000L, 5000000L,
      WindowCooldown.packPanes(Array((T0 + 15000) * 1000 << 2 | 1L)))
    val e = intercept[IllegalStateException](
      run(stateAt(T0 + 12000, Some(other)), event(12000, hr = false)))
    assert(e.getMessage.contains("20 s / 5 s") && e.getMessage.contains("5 s / 1 s"),
      e.getMessage)
  }
}
