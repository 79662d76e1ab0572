package perfbench

/** Scripted checks of the oracle against the product: each scenario
  * states the alerts it must produce, and the product's sink must
  * match the oracle exactly.
  */
object SelfTest {
  val T = 1700000000000L
  val shape = Shape("selftest", users = 100, highHrP = 0, lowBpP = 0,
    windowMs = 5000, slideMs = 1000, delayMs = 2000, cooldownMs = 5000)

  type Ev = (Long, Int, Boolean, Int)
  def hi(t: Long, u: Int): Ev = (t, u, false, 150)
  def lo(t: Long, u: Int): Ev = (t, u, true, 85)
  def filler(t: Long): Ev = (t, 99, true, 120)

  /** name, triggers, expected (user, alert ts), expected late events */
  val scenarios: Seq[(String, Seq[Seq[Ev]], Seq[(Int, Long)], Long)] = Seq(
    ("pane split across two triggers",
      Seq(Seq(hi(T + 500, 1)), Seq(lo(T + 1500, 1)), Seq(filler(T + 20000))),
      Seq((1, T + 1999)), 0L),
    ("re-alert exactly at cooldown expiry",
      Seq(Seq(hi(T + 500, 2), lo(T + 500, 2)),
        Seq(hi(T + 5500, 2), lo(T + 5500, 2)), Seq(filler(T + 30000))),
      Seq((2, T + 999), (2, T + 5999)), 0L),
    ("late event dropped, out-of-order event kept",
      Seq(Seq(filler(T)), Seq(filler(T + 10000)),
        Seq(hi(T - 7001, 3), hi(T + 8500, 4), lo(T - 7001, 3), lo(T + 8600, 4),
          filler(T + 20000)),
        Seq(filler(T + 40000))),
      Seq((4, T + 8999)), 2L))

  def run(a: Args, out: Result): Unit = {
    val spark = Session.start(a.work)
    out.recordSession(spark)
    val results = scenarios.map { case (name, triggers, expect, late) =>
      val aq = new AlertQuery(spark, shape, 0L,
        new java.io.File(a.work, s"ckpt-selftest-${System.nanoTime()}"), T)
      triggers.foreach(aq.feedScripted)
      val wm = aq.quiesce(300L)
      val (want, missing, extra, bad) = aq.check(wm)
      aq.stop()
      val oracleOk = want.alerts == expect.sorted && want.dropped == late
      val ok = oracleOk && missing == 0 && extra == 0 && bad == 0
      out.attempted += 1
      if (!ok) out.failed += 1
      name -> Map("ok" -> ok, "oracle_matches_script" -> oracleOk,
        "oracle_alerts" -> want.alerts.map(x => s"${x._1}@${x._2 - T}"),
        "late" -> want.dropped, "missing" -> missing, "extra" -> extra,
        "sink" -> aq.sink.snapshot.map(g => s"${g.user}@${g.tsMs - T}"))
    }
    out.info("selftest") = results.toMap
    spark.stop()
  }
}
