package graft

import java.nio.file.Files
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.model.Alert
import graft.streaming.{AlertPipeline, AlertSinks}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Seeded stream == batch differential of the fused streaming operator
  * against the declarative batch chain, in the style of
  * [[AlertPropertySpec]]: per seed, random readings of three users, out
  * of order within the watermark delay, fed through the streaming
  * pipeline in random micro-batch splits.
  *
  * The seeds share one query: each seed has its own users and starts a
  * minute of event time after the one before, so its first split
  * closes every pane of the last seed. After every split the spec waits
  * until the watermark has moved to (largest ts fed) − delay, running
  * the batch that evicts at it (wait-for-eviction). Then the stream must
  * have emitted exactly the batch pipeline's alerts whose pane ended at
  * or before that watermark. A pane that closes has all its kept
  * events, and the leading debounce over the closed panes cannot depend
  * on later ones. Readings sit on a 250 ms grid, so the watermark often
  * lands on a pane end, where the pane must close.
  *
  * Late rule: under wait-for-eviction, an event of split s is dropped
  * iff every pane it falls in ends at or before (largest ts of the
  * splits before s) − delay, the late-event watermark while split s
  * runs; the kept events are all the others ([[kept]]). perfbench's
  * `Oracle` applies the same rule as M(r−2) − delay: its closed loop
  * does not wait for the evicting batch, so the watermark its trigger r
  * sees may lag one trigger more. An event with some panes ending
  * before that watermark and some after is dropped pane by pane, and
  * the batch pipeline has no such partial event; the generators never
  * make one.
  */
class AlertStreamPropertySpec extends SparkSpec {

  private val T0 = 1700000000000L
  private val cfg = AlertPipeline.Config(watermarkDelay = "2 seconds",
    cooldownMs = 3000L)
  private val DelayMs = 2000L
  // cfg's window: 5 s / 1 s
  private val LengthMs = 5000L
  private val SlideMs = 1000L

  private case class Ev(user: Int, isHr: Boolean, v: Int, tsMs: Long) {
    def json: String =
      if (isHr) s"""{"user_id":$user,"heart_rate":$v,"timestamp":$tsMs}"""
      else s"""{"user_id":$user,"systolic":$v,"diastolic":70,"timestamp":$tsMs}"""
  }

  /** One seed's readings in arrival order, cut into 2 to 4 splits: base
    * times rise, and each reading is less than the delay behind its
    * base, so never behind the watermark.
    */
  private def splits(seed: Int): Seq[Seq[Ev]] = {
    val rnd = new Random(seed)
    var base = T0 + (seed - 1) * 60000L
    val evs = Seq.fill(60) {
      base += 250L * rnd.nextInt(3)
      Ev(user = 10 * seed + rnd.nextInt(3), isHr = rnd.nextBoolean(),
        v = 85 + rnd.nextInt(31), // 85..115 straddles both thresholds
        tsMs = base - 250L * rnd.nextInt((DelayMs / 250).toInt))
    }
    val cuts = (0 +: Seq.fill(1 + rnd.nextInt(3))(1 + rnd.nextInt(evs.size - 1))
      .sorted :+ evs.size).distinct
    cuts.zip(cuts.tail).map { case (from, until) => evs.slice(from, until) }
  }

  /** The watermark before each split of `feed` and after the last one:
    * (largest ts fed so far) − delay. Under wait-for-eviction, the one
    * before split s is the late-event watermark split s runs under.
    */
  private def watermarks(feed: Seq[Seq[Ev]]): Seq[Long] =
    feed.scanLeft(Long.MinValue)((m, split) => math.max(m, split.map(_.tsMs).max))
      .map(m => if (m == Long.MinValue) m else m - DelayMs)

  /** The events of `feed` the late rule keeps. */
  private def kept(feed: Seq[Seq[Ev]]): Seq[Ev] =
    feed.zip(watermarks(feed)).flatMap { case (split, wm) =>
      val paneStart = (e: Ev) => Math.floorDiv(e.tsMs, SlideMs) * SlideMs
      val onTime = split.filterNot(e => paneStart(e) + LengthMs <= wm)
      assert(onTime.forall(e => paneStart(e) + SlideMs > wm), s"partly late: $split")
      onTime
    }

  private def alertsOf(rows: Array[org.apache.spark.sql.Row]): Seq[(Int, Long)] =
    rows.map(r => (r.getInt(0), r.getTimestamp(2).getTime)).sorted.toSeq

  private def batchAlerts(evs: Seq[Ev]): Seq[(Int, Long)] = {
    import spark.implicits._
    alertsOf(AlertPipeline(evs.filter(_.isHr).map(_.json).toDF(),
      evs.filterNot(_.isHr).map(_.json).toDF(), cfg).toDF().collect())
  }

  /** Feeds one split to `q` and waits until its watermark is `wm`: the
    * batch that evicts at `wm` may follow the data batch.
    */
  private def feedSplit(q: StreamingQuery, hr: MemoryStream[String],
      bp: MemoryStream[String], split: Seq[Ev], wm: Long): Unit = {
    hr.addData(split.filter(_.isHr).map(_.json))
    bp.addData(split.filterNot(_.isHr).map(_.json))
    q.processAllAvailable()
    val deadline = System.currentTimeMillis() + 30000
    def evictedAt(): Boolean = Option(q.lastProgress)
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .exists(w => Instant.parse(w).toEpochMilli == wm)
    while (!evictedAt()) {
      assert(System.currentTimeMillis() < deadline, s"watermark $wm")
      Thread.sleep(10)
    }
  }

  /** Runs `feed` through one `foreachBatch` query and checks, after
    * every split, the emitted alerts against `expected` up to the
    * watermark.
    */
  private def streamEquals(feed: Seq[Seq[Ev]], expected: Seq[(Int, Long)]): Unit = {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val hr = MemoryStream[String]
    val bp = MemoryStream[String]
    val streamed = ArrayBuffer[(Int, Long)]()
    val q = AlertSinks.foreachBatch(AlertPipeline(hr.toDF(), bp.toDF(), cfg),
      Files.createTempDirectory("ckpt_stream_batch").toString,
      (ds: Dataset[Alert], _: Long) => {
        val got = ds.collect().map(a => (a.user_id, a.ts.getTime))
        streamed.synchronized(streamed ++= got)
        ()
      }, Trigger.ProcessingTime(0L))
    try {
      feed.zip(watermarks(feed).tail).foreach { case (split, wm) =>
        feedSplit(q, hr, bp, split, wm)
        assert(streamed.synchronized(streamed.sorted.toSeq) ===
          expected.filter(_._2 < wm), s"split $split")
      }
    } finally q.stop()
  }

  test("streamed alerts == batch alerts under random splits and out-of-order arrival") {
    val feed = (1 to 10).flatMap(splits)
    val batch = batchAlerts(feed.flatten)
    assert(batch.map(_._1 / 10).distinct.size >= 5, s"most seeds must alert: $batch")
    streamEquals(feed, batch)
  }

  test("events behind the watermark are dropped: streamed == batch over the kept events") {
    // each split after the first gains late readings: singles, and a
    // high-HR + low-BP pair of one user in one pane that would alert if
    // kept. Every late reading's last pane ends at or before the
    // split's late-event watermark.
    val rnd = new Random(7)
    val plain = (11 to 20).flatMap(splits)
    val feed = plain.zip(watermarks(plain)).map { case (split, wm) =>
      if (wm == Long.MinValue) split
      else {
        def lateTs() = wm - LengthMs - 250L * rnd.nextInt(16)
        val user = split.head.user
        val pair =
          if (rnd.nextBoolean()) {
            val t = lateTs()
            Seq(Ev(user, isHr = true, 101 + rnd.nextInt(15), t),
              Ev(user, isHr = false, 85 + rnd.nextInt(15), t))
          } else Nil
        val singles = Seq.fill(rnd.nextInt(3))(Ev(user, rnd.nextBoolean(),
          85 + rnd.nextInt(31), lateTs()))
        rnd.shuffle(split ++ pair ++ singles)
      }
    }
    val keep = kept(feed)
    assert(keep.sortBy(_.toString) === plain.flatten.sortBy(_.toString),
      "the late rule drops exactly the added readings")
    val expected = batchAlerts(keep)
    assert(expected !== batchAlerts(feed.flatten), "kept late readings would alert")
    assert(expected.map(_._1 / 10).distinct.size >= 5, s"most seeds must alert: $expected")
    streamEquals(feed, expected)
  }

  test("a restart from the checkpoint at a random split leaves the sink of an uninterrupted run") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val feed = (21 to 30).flatMap(splits)
    // the uninterrupted run's sink: every alert, as the first case
    // shows for any split of the feed
    val batch = batchAlerts(feed.flatten)
    val restartAt = 1 + new Random(21).nextInt(feed.size - 1)
    val hr = MemoryStream[String]
    val bp = MemoryStream[String]
    val alerts = AlertPipeline(hr.toDF(), bp.toDF(), cfg)
    val ckpt = Files.createTempDirectory("ckpt_restart").toString
    val outDir = Files.createTempDirectory("out_restart").toString
    // the parquet sink is the exactly-once path (RecoverySpec)
    def start() = AlertSinks.parquet(alerts, outDir, ckpt, Trigger.ProcessingTime(0L))
    def sink() = alertsOf(spark.read.schema(alerts.schema).parquet(outDir).collect())
    // a reading past every pane and cooldown of the feed closes them all
    val closed = feed :+ Seq(Ev(0, isHr = true, 70, feed.flatten.map(_.tsMs).max + 60000L))
    val (before, after) = closed.zip(watermarks(closed).tail).splitAt(restartAt)
    var q = start()
    try {
      before.foreach { case (split, wm) => feedSplit(q, hr, bp, split, wm) }
      q.stop()
      assert(sink() === batch.filter(_._2 < before.last._2), s"stopped before split $restartAt")
      q = start()
      after.foreach { case (split, wm) => feedSplit(q, hr, bp, split, wm) }
    } finally q.stop()
    assert(sink() === batch, s"restarted at split $restartAt of ${feed.size}")
  }
}
