package perfbench

import java.util.Arrays

/** One alert workload's shape: key space, how often readings are out of
  * range, window and watermark settings, and how the client feeds.
  */
final case class Shape(
    name: String,
    users: Int,
    highHrP: Double,
    lowBpP: Double,
    windowMs: Long,
    slideMs: Long,
    delayMs: Long,
    cooldownMs: Long,
    // open loop: offered events per second (half per stream)
    ratePerS: Int = 0) {
  def windowSpec: String = s"${windowMs / 1000} seconds"
  def slideSpec: String = s"${slideMs / 1000} seconds"
  def delaySpec: String = s"${delayMs / 1000} seconds"
  def openLoop: Boolean = ratePerS > 0
}

object Shape {
  /** Closed loop: events per trigger and per time slice (one slice is one
    * addData block of one stream), one event per millisecond of event time.
    */
  val RoundEvents = 10000
  val SliceEvents = 1000
}

object Shapes {
  /** StreamBench's shape: wide windows, sparse qualifying readings. */
  val sparse = Shape("alert_sparse", users = 10000, highHrP = 0.01,
    lowBpP = 0.01, windowMs = 60000, slideMs = 5000, delayMs = 0,
    cooldownMs = 300000)

  /** Open loop at a fixed rate with the reference's 5 s / 1 s windows. */
  val live = Shape("alert_live", users = 500, highHrP = 0.05,
    lowBpP = 0.05, windowMs = 5000, slideMs = 1000, delayMs = 1000,
    cooldownMs = 5000, ratePerS = 2500)

  val all: Seq[Shape] = Seq(sparse, live)
}

/** Append-only columnar log of every event fed to one query: what the
  * oracle replays. `feed` is the closed-loop trigger the event was fed
  * in (-1 in the open loop, which never sends late events).
  */
final class EventLog {
  private var n = 0
  private var ts = new Array[Long](1 << 16)
  private var user = new Array[Int](1 << 16)
  private var value = new Array[Int](1 << 16)
  private var kind = new Array[Byte](1 << 16)
  private var feedIx = new Array[Int](1 << 16)

  def size: Int = n

  def add(t: Long, u: Int, bp: Boolean, v: Int, feed: Int): Unit = {
    if (n == ts.length) {
      val m = n * 2
      ts = Arrays.copyOf(ts, m); user = Arrays.copyOf(user, m)
      value = Arrays.copyOf(value, m); kind = Arrays.copyOf(kind, m)
      feedIx = Arrays.copyOf(feedIx, m)
    }
    ts(n) = t; user(n) = u; value(n) = v
    kind(n) = if (bp) 1 else 0; feedIx(n) = feed
    n += 1
  }

  def tsAt(i: Int): Long = ts(i)
  def userAt(i: Int): Int = user(i)
  def isBp(i: Int): Boolean = kind(i) == 1
  def feedAt(i: Int): Int = feedIx(i)

  /** The wire JSON of event i, as the sources would receive it. */
  def json(i: Int): String =
    if (isBp(i)) {
      val dia = 60 + (value(i) * 7 + user(i)) % 30
      s"""{"user_id":${user(i)},"systolic":${value(i)},"diastolic":$dia,"timestamp":${ts(i)}}"""
    } else s"""{"user_id":${user(i)},"heart_rate":${value(i)},"timestamp":${ts(i)}}"""

  def qualifies(i: Int): Boolean =
    if (isBp(i)) value(i) < 100 else value(i) > 100
}

/** Brute-force reference for the alert query: every pane of every
  * event, the both-flags predicate, the deterministic late-drop rule
  * and the leading debounce on event time.
  *
  * Late rule (closed loop): an event fed in trigger r is dropped when
  * every pane it falls in ends at or before `M(r-2) - delay`, where
  * M(k) is the largest event time fed in triggers 0..k. The engine's
  * late-event watermark while it processes trigger r's data is at
  * least that value under any split of the feed into micro-batches.
  * An event that is neither that far behind nor within `delay` of
  * everything fed before it could go either way; the generator never
  * makes one, and [[alerts]] fails loudly if it sees one.
  */
object Oracle {
  final case class Result(alerts: Seq[(Int, Long)], rawPanes: Long,
      dropped: Long)

  def alerts(log: EventLog, sh: Shape, closedUpTo: Long): Result = {
    val n = log.size
    val feeds = if (n == 0) 0 else (0 until n).map(log.feedAt).max + 1
    // M(k): max event time fed in triggers <= k
    val maxThrough = new Array[Long](math.max(1, feeds))
    java.util.Arrays.fill(maxThrough, Long.MinValue)
    var runningMax = Long.MinValue
    (0 until n).foreach { i =>
      val f = log.feedAt(i)
      if (f >= 0) maxThrough(f) = math.max(maxThrough(f), log.tsAt(i))
    }
    (0 until feeds).foreach { k =>
      if (k > 0) maxThrough(k) = math.max(maxThrough(k), maxThrough(k - 1))
    }
    val panesPerEvent = (sh.windowMs / sh.slideMs).toInt
    val keys = new scala.collection.mutable.ArrayBuilder.ofLong
    var dropped = 0L
    (0 until n).foreach { i =>
      val t = log.tsAt(i)
      val f = log.feedAt(i)
      val lastEnd = Math.floorDiv(t, sh.slideMs) * sh.slideMs + sh.windowMs
      val safeWm =
        if (f >= 2) maxThrough(f - 2) - sh.delayMs else Long.MinValue
      val late = lastEnd <= safeWm
      if (late) dropped += 1
      else if (runningMax != Long.MinValue && t < runningMax - sh.delayMs)
        throw new IllegalStateException(
          s"event $i (ts $t) is behind the watermark bound but not " +
            "deterministically late")
      runningMax = math.max(runningMax, t)
      if (!late && log.qualifies(i)) {
        val bit = if (log.isBp(i)) 1L else 0L
        var j = 0
        while (j < panesPerEvent) {
          val start = lastEnd - sh.windowMs - j * sh.slideMs
          val pane = start / sh.slideMs
          keys += (log.userAt(i).toLong << 33) | (pane << 1) | bit
          j += 1
        }
      }
    }
    val k = keys.result()
    java.util.Arrays.sort(k)
    val raw = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    var i = 0
    while (i < k.length) {
      val key = k(i) >>> 1
      var bits = 0L
      while (i < k.length && (k(i) >>> 1) == key) { bits |= 1L << (k(i) & 1L); i += 1 }
      if (bits == 3L) {
        val user = (key >>> 32).toInt
        val end = (key & 0xffffffffL) * sh.slideMs + sh.windowMs
        if (end <= closedUpTo) raw += ((user, end - 1))
      }
    }
    val out = raw.groupBy(_._1).toSeq.flatMap { case (u, as) =>
      var last = Long.MinValue
      as.map(_._2).sorted.flatMap { t =>
        if (last == Long.MinValue || t >= last + sh.cooldownMs) {
          last = t; Some((u, t))
        } else None
      }
    }
    Result(out.sorted, raw.size.toLong, dropped)
  }

  /** Multiset difference both ways: (missing from got, extra in got). */
  def diff(want: Seq[(Int, Long)], got: Seq[(Int, Long)]): (Int, Int) = {
    val w = want.groupBy(identity).view.mapValues(_.size).toMap
    val g = got.groupBy(identity).view.mapValues(_.size).toMap
    val keys = w.keySet ++ g.keySet
    val missing = keys.toSeq.map(k => math.max(0, w.getOrElse(k, 0) - g.getOrElse(k, 0))).sum
    val extra = keys.toSeq.map(k => math.max(0, g.getOrElse(k, 0) - w.getOrElse(k, 0))).sum
    (missing, extra)
  }
}
