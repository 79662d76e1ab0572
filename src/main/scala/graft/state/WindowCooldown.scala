package graft.state

import java.util.Arrays

import graft.model.{Alert, PaneFlags, PaneState}
import graft.operators.AlertOps
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.streaming.GroupState

/** The alert query's one stateful operator on streaming input: the
  * sliding-window pane flags and the cooldown in one keyed state per
  * user, so a micro-batch plans, generates and commits one stateful
  * operator instead of the window aggregation plus the cooldown.
  *
  * Input: one [[PaneFlags]] row per (qualifying event, pane). Spark
  * drops a row as late when its pane ended at or before the late-event
  * watermark, exactly as the window aggregation does, because the
  * pane's `window` struct is the operator's event-time column.
  *
  * Each invocation ORs the new rows into the user's open panes and
  * closes every pane whose end is at or before the current watermark,
  * in pane-end order. A closed pane with both flags is an alert at
  * `window_time` (end − 1 µs) and passes the same leading debounce as
  * [[Cooldown]]: what the window aggregation emits in that batch and
  * the cooldown keeps. One event-time timer, at the earlier of the next
  * pane close and the cooldown's GC time, wakes the user when no data
  * arrives; with no pane open and no cooldown left to suppress, the
  * state is removed.
  */
object WindowCooldown {

  type Fn = (Int, Iterator[PaneFlags], GroupState[PaneState]) => Iterator[Alert]

  private val HighHr = 1L
  private val LowBp = 2L
  private val Both = HighHr | LowBp

  private def pack(p: PaneFlags): Long =
    (p.end_us << 2) | (if (p.has_high_hr) HighHr else 0L) |
      (if (p.has_low_bp) LowBp else 0L)

  private def endUs(pane: Long): Long = pane >> 2

  /** The pane's alert time in ms, `window_time` read as
    * `Timestamp.getTime`. It is also the last watermark that leaves
    * the pane open, so the pane's close timer.
    */
  private def alertMs(pane: Long): Long = Math.floorDiv(endUs(pane) - 1, 1000L)

  /** The open panes with `rows` ORed in: ascending by end, one entry
    * per end.
    */
  private def merge(open: Array[Long], rows: Iterator[PaneFlags]): Array[Long] =
    if (!rows.hasNext) open
    else {
      val a = (open.iterator ++ rows.map(pack)).toArray
      Arrays.sort(a)
      var n = 0
      a.foreach { p =>
        if (n > 0 && endUs(a(n - 1)) == endUs(p)) a(n - 1) |= p
        else { a(n) = p; n += 1 }
      }
      Arrays.copyOf(a, n)
    }

  def apply(cooldownMs: Long): Fn =
    (user: Int, rows: Iterator[PaneFlags], state: GroupState[PaneState]) => {
      val wm = state.getCurrentWatermarkMs()
      val prior = state.getOption
      var last = prior.fold(Cooldown.Never)(_.triggeredAtMs)
      val panes = merge(prior.fold(Array.emptyLongArray)(_.panes), rows)
      val emitted = Array.newBuilder[Alert]
      var closed = 0
      while (closed < panes.length && endUs(panes(closed)) <= wm * 1000L) {
        val p = panes(closed)
        if ((p & Both) == Both && Cooldown.emits(alertMs(p), last, cooldownMs)) {
          last = alertMs(p)
          emitted += Alert(user, AlertOps.Message.format(user),
            DateTimeUtils.toJavaTimestamp(endUs(p) - 1))
        }
        closed += 1
      }
      val open = Arrays.copyOfRange(panes, closed, panes.length)
      // both candidates are at or past the watermark: an open pane ends
      // after it, and the GC time counts only while it is ahead
      val gc = Cooldown.expiresAtMs(last, cooldownMs)
      val timer = math.min(
        if (open.nonEmpty) alertMs(open(0)) else Long.MaxValue,
        if (gc > wm) gc else Long.MaxValue)
      if (timer == Long.MaxValue) state.remove()
      else {
        state.update(PaneState(last, open))
        // GroupState takes only positive timestamps
        state.setTimeoutTimestamp(math.max(timer, 1L))
      }
      emitted.result().iterator
    }
}
