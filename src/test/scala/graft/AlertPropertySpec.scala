package graft

import java.sql.Timestamp

import graft.streaming.AlertPipeline
import scala.util.Random

/** Randomized (seeded, deterministic) property tests against
  * brute-force in-memory oracles — SURVEY.md §5.4:
  *  (a) alert fired ⟺ some pane contains a qualifying HR/BP pair;
  *  (b) debounce: emitted alerts per user are ≥ cooldown apart and
  *      equal the greedy leading-debounce oracle;
  *  (c) window assignment: an event lands in exactly length/step panes.
  */
class AlertPropertySpec extends SparkSpec {

  private val T0 = 1700000000000L
  private val WinMs = 5000L
  private val SlideMs = 1000L

  private case class Ev(user: Int, isHr: Boolean, v: Int, tsMs: Long)

  private def toDf(evs: Seq[Ev]) = {
    import spark.implicits._
    evs.map { e =>
      (e.user,
        if (e.isHr) "heart_rate" else "blood_pressure",
        if (e.isHr) Some(e.v) else None,
        if (e.isHr) None else Some(e.v),
        new Timestamp(e.tsMs))
    }.toDF("user_id", "event_type", "heart_rate", "systolic", "ts")
  }

  /** Brute-force pane oracle: (user, pane-end ms) of qualifying panes. */
  private def oracleAlerts(evs: Seq[Ev]): Set[(Int, Long)] = {
    val starts = evs.flatMap { e =>
      val lastStart = math.floorDiv(e.tsMs, SlideMs) * SlideMs
      (0 until (WinMs / SlideMs).toInt).map(k => lastStart - k * SlideMs)
    }.distinct
    (for {
      s <- starts
      u <- evs.map(_.user).distinct
      inPane = evs.filter(e => e.user == u && e.tsMs >= s && e.tsMs < s + WinMs)
      if inPane.exists(e => e.isHr && e.v > 100)
      if inPane.exists(e => !e.isHr && e.v < 100)
    } yield (u, s + WinMs - 1)).toSet // window_time = end - 1µs -> ms floor
  }

  private val batchCfg = AlertPipeline.Config()

  test("(a) raw alerts == brute-force pane oracle on random event sequences") {
    val rnd = new Random(42)
    for (_ <- 1 to 8) {
      val evs = Seq.fill(40)(Ev(
        user = 1 + rnd.nextInt(3),
        isHr = rnd.nextBoolean(),
        v = 80 + rnd.nextInt(41), // 80..120 straddles both thresholds
        tsMs = T0 + rnd.nextInt(20000)))
      val got = AlertPipeline.rawAlerts(toDf(evs), batchCfg)
        .collect()
        .map(r => (r.getInt(0), r.getTimestamp(2).getTime))
        .toSet
      assert(got === oracleAlerts(evs), s"events: $evs")
    }
  }

  test("(b) batch dedupe == greedy debounce oracle; gaps >= cooldown") {
    import spark.implicits._
    val rnd = new Random(7)
    val cooldown = 3000L
    for (_ <- 1 to 8) {
      val alerts = Seq.fill(30)(
        (1 + rnd.nextInt(3), "m", new Timestamp(T0 + rnd.nextInt(15000))))
      val df = alerts.toDF("user_id", "message", "ts")
      val got = AlertPipeline.dedupe(df, batchCfg.copy(cooldownMs = cooldown))
        .collect().map(a => (a.user_id, a.ts.getTime)).sorted.toSeq
      val want = alerts.groupBy(_._1).toSeq.flatMap { case (u, as) =>
        var last = Long.MinValue
        as.map(_._3.getTime).sorted.flatMap { t =>
          if (last == Long.MinValue || t >= last + cooldown) { last = t; Some((u, t)) }
          else None
        }
      }.sorted
      assert(got === want)
      got.groupBy(_._1).values.foreach { perUser =>
        val ts = perUser.map(_._2).sorted
        ts.zip(ts.drop(1)).foreach { case (a, b) => assert(b - a >= cooldown) }
      }
    }
  }

  test("(c) a single event lands in exactly length/slide panes, each containing it") {
    val evs = Seq(Ev(1, isHr = true, v = 150, T0 + 1234))
    val flags = graft.operators.AlertOps
      .slidingWindowFlags(toDf(evs), "5 seconds", "1 second")
      .select("window.start", "window.end").collect()
    assert(flags.length === (WinMs / SlideMs).toInt)
    flags.foreach { r =>
      val s = r.getTimestamp(0).getTime
      val e = r.getTimestamp(1).getTime
      assert(s <= T0 + 1234 && T0 + 1234 < e && e - s === WinMs)
    }
  }
}
