package graft

import java.nio.file.Files
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.model.Alert
import graft.streaming.{AlertPipeline, AlertSinks}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Seeded stream == batch differential of the fused streaming operator
  * against the declarative batch chain, in the style of
  * [[AlertPropertySpec]]: per seed, random readings of three users, out
  * of order within the watermark delay, fed through the streaming
  * pipeline in random micro-batch splits.
  *
  * The seeds share one query: each seed has its own users and starts a
  * minute of event time after the one before, so its first split
  * closes every pane of the last seed. After every split, once the
  * watermark has moved, the stream must have emitted exactly the batch
  * pipeline's alerts (over all events) whose pane ended at or before
  * that watermark. No event is ever late, so a pane that closes has all
  * its events, and the leading debounce over the closed panes cannot
  * depend on later ones. Readings sit on a 250 ms grid, so the
  * watermark often lands on a pane end, where the pane must close.
  */
class AlertStreamPropertySpec extends SparkSpec {

  private val T0 = 1700000000000L
  private val cfg = AlertPipeline.Config(watermarkDelay = "2 seconds",
    cooldownMs = 3000L)
  private val DelayMs = 2000L

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

  private def alertsOf(rows: Array[org.apache.spark.sql.Row]): Seq[(Int, Long)] =
    rows.map(r => (r.getInt(0), r.getTimestamp(2).getTime)).sorted.toSeq

  test("streamed alerts == batch alerts under random splits and out-of-order arrival") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val feed = (1 to 10).flatMap(splits)
    val evs = feed.flatten
    val batch = alertsOf(AlertPipeline(evs.filter(_.isHr).map(_.json).toDF(),
      evs.filterNot(_.isHr).map(_.json).toDF(), cfg).toDF().collect())
    assert(batch.map(_._1 / 10).distinct.size >= 5, s"most seeds must alert: $batch")
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
      var maxTs = Long.MinValue
      feed.foreach { split =>
        hr.addData(split.filter(_.isHr).map(_.json))
        bp.addData(split.filterNot(_.isHr).map(_.json))
        q.processAllAvailable()
        maxTs = math.max(maxTs, split.map(_.tsMs).max)
        val wm = maxTs - DelayMs
        // the batch that evicts at `wm` may follow the data batch
        val deadline = System.currentTimeMillis() + 30000
        def evictedAt(): Boolean = Option(q.lastProgress)
          .flatMap(p => Option(p.eventTime.get("watermark")))
          .exists(w => Instant.parse(w).toEpochMilli == wm)
        while (!evictedAt()) {
          assert(System.currentTimeMillis() < deadline, s"watermark $wm")
          Thread.sleep(10)
        }
        assert(streamed.synchronized(streamed.sorted.toSeq) ===
          batch.filter(_._2 < wm), s"split $split")
      }
    } finally q.stop()
  }
}
