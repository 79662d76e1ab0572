package graft

import java.nio.file.Files

import graft.model.Alert
import graft.operators.AlertOps
import graft.streaming.AlertPipeline
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** End-to-end Structured Streaming tests reproducing the reference's
  * golden scenarios (FIXTURES.md §A) with MemoryStream sources and
  * deterministic event-time timestamps (SURVEY.md §7.5.3: event time
  * everywhere in tests; the reference's sleeps become explicit
  * `timestamp` fields).
  */
class AlertStreamSpec extends SparkSpec {

  private val T0 = 1700000000000L

  private def hrJson(user: Int, hr: Int, ts: Long) =
    s"""{"user_id":$user,"heart_rate":$hr,"timestamp":$ts}"""
  private def bpJson(user: Int, sys: Int, dia: Int, ts: Long) =
    s"""{"user_id":$user,"systolic":$sys,"diastolic":$dia,"timestamp":$ts}"""

  private def startQuery(alerts: org.apache.spark.sql.Dataset[graft.model.Alert],
      name: String): StreamingQuery =
    alerts.writeStream
      .format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory(s"ckpt_$name").toString)
      .start()

  test("golden scenario 1 (DStream fixture): only user 12346 alerts, exactly once") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val hr = MemoryStream[String]
    val bp = MemoryStream[String]
    val q = startQuery(AlertPipeline(hr.toDF(), bp.toDF()), "g1")

    // t=0: blood pressure (BiometricAlertStreamProcessor.scala:91-93)
    bp.addData(bpJson(12345, 120, 80, T0), bpJson(12346, 80, 80, T0))
    q.processAllAvailable()
    // t=+2s: heart rate (:95-100)
    hr.addData(hrJson(12345, 200, T0 + 2000), hrJson(12345, 200, T0 + 2000),
      hrJson(12346, 101, T0 + 2000))
    q.processAllAvailable()
    // advance the watermark so open panes finalize
    hr.addData(hrJson(99999, 50, T0 + 60000))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("g1").collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(12346))
    assert(rows.head.getString(1) === "User 12346 has a problem")
    // earliest pane containing both (BP@T0, HR@T0+2s) ends at T0+3s
    // (5s len, 1s slide); alert ts = window_time = end - 1µs, so the
    // millisecond clock reads T0+2999.
    assert(rows.head.getTimestamp(2).getTime === T0 + 2999)
  }

  test("golden scenario 2 (Akka fixture): rate limiter holds for repeated HR") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val hr = MemoryStream[String]
    val bp = MemoryStream[String]
    val cfg = AlertPipeline.Config(
      windowLength = "10 seconds", windowSlide = "1 second",
      cooldownMs = 15000L)
    val q = startQuery(AlertPipeline(hr.toDF(), bp.toDF(), cfg), "g2")

    bp.addData(bpJson(12345, 120, 80, T0), bpJson(12346, 80, 80, T0))
    q.processAllAvailable()
    hr.addData(hrJson(12345, 200, T0 + 2000), hrJson(12345, 200, T0 + 2000),
      hrJson(12346, 101, T0 + 2000))
    q.processAllAvailable()
    hr.addData(hrJson(12345, 200, T0 + 4000))
    hr.addData(hrJson(12345, 200, T0 + 6000))
    q.processAllAvailable()
    hr.addData(hrJson(99999, 50, T0 + 120000))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("g2").collect()
    // 12346: one alert; 12345: none ever (systolic 120)
    assert(rows.map(_.getInt(0)).toSeq === Seq(12346))
  }

  test("continuous alerting re-emits exactly once after cooldown expiry") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val hr = MemoryStream[String]
    val bp = MemoryStream[String]
    val q = startQuery(AlertPipeline(hr.toDF(), bp.toDF()), "g4")

    // user 42 alerts continuously for 12s; cooldown is 5s -> the panes
    // re-trigger at ~+5s and ~+10s after the first emission
    // (BiometricAlertStreamProcessor.scala:69-73: state expiry re-arms
    // even under continuous alerting)
    for (k <- 0 to 12) {
      bp.addData(bpJson(42, 80, 80, T0 + k * 1000))
      hr.addData(hrJson(42, 150, T0 + k * 1000))
    }
    q.processAllAvailable()
    hr.addData(hrJson(99999, 50, T0 + 120000))
    q.processAllAvailable()
    q.stop()

    val times = spark.table("g4").collect().filter(_.getInt(0) === 42)
      .map(_.getTimestamp(2).getTime).sorted.toSeq
    assert(times.nonEmpty && times.length >= 2)
    // debounce invariant: consecutive emissions >= cooldown apart
    times.zip(times.drop(1)).foreach { case (a, b) => assert(b - a >= 5000) }
  }

  test("the cooldown ignores wall-clock gaps between batches: stream == batch") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val hr = MemoryStream[String]
    val bp = MemoryStream[String]
    val cfg = AlertPipeline.Config(cooldownMs = 2000L)
    val q = startQuery(AlertPipeline(hr.toDF(), bp.toDF(), cfg), "wall")

    // user 7 qualifies every event-second for 12 s, fed in 3 blocks;
    // each gap outlasts the cooldown in wall-clock time, so state that
    // expired on processing time would re-alert inside the cooldown
    val blocks = (0 until 12).map(k =>
      (hrJson(7, 150, T0 + k * 1000), bpJson(7, 80, 80, T0 + k * 1000)))
      .grouped(4).toSeq
    val flush = hrJson(99999, 50, T0 + 120000)
    blocks.foreach { b =>
      hr.addData(b.map(_._1))
      bp.addData(b.map(_._2))
      q.processAllAvailable()
      Thread.sleep(cfg.cooldownMs + 500)
    }
    hr.addData(flush)
    q.processAllAvailable()
    q.stop()

    def emitted(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getInt(0), r.getTimestamp(2).getTime - T0)).sorted.toSeq
    val streamed = emitted(spark.table("wall").collect())
    val batch = emitted(AlertPipeline(
      (blocks.flatten.map(_._1) :+ flush).toDF(),
      blocks.flatten.map(_._2).toDF(), cfg).toDF().collect())
    assert(streamed === batch)
    // panes end at +1 s … +16 s; one emission every 2 s from the first
    assert(streamed === (999L to 15999L by 2000L).map(t => (7, t)))
  }

  test("non-qualifying events alone advance the watermark: filtered == unfiltered") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val cfg = AlertPipeline.Config()
    // the pipeline without the qualifying filter: every event enters
    // the window aggregation
    def unfiltered(hr: DataFrame, bp: DataFrame): Dataset[Alert] = {
      val events = AlertPipeline.ingest(hr, bp).withWatermark("ts", cfg.watermarkDelay)
      AlertPipeline.dedupe(AlertOps.alerts(AlertOps.slidingWindowFlags(
        events, cfg.windowLength, cfg.windowSlide)), cfg)
    }
    // (emitted alerts, window rows dropped as late)
    def run(name: String,
        pipeline: (DataFrame, DataFrame) => Dataset[Alert]) = {
      val hr = MemoryStream[String]
      val bp = MemoryStream[String]
      val q = startQuery(pipeline(hr.toDF(), bp.toDF()), name)
      // user 1 qualifies in the pane ending at +2 s
      bp.addData(bpJson(1, 80, 80, T0))
      hr.addData(hrJson(1, 150, T0 + 1000))
      q.processAllAvailable()
      // only normal readings move the watermark past that pane
      hr.addData(hrJson(2, 60, T0 + 60000))
      bp.addData(bpJson(2, 120, 80, T0 + 60000))
      q.processAllAvailable()
      // a qualifying pair for panes the watermark already closed
      bp.addData(bpJson(3, 80, 80, T0 + 500))
      hr.addData(hrJson(3, 150, T0 + 1500))
      q.processAllAvailable()
      val dropped = q.recentProgress.flatMap(_.stateOperators)
        .filter(_.operatorName == "stateStoreSave")
        .map(_.numRowsDroppedByWatermark).sum
      q.stop()
      val alerts = spark.table(name).collect()
        .map(r => (r.getInt(0), r.getTimestamp(2).getTime - T0)).toSeq
      (alerts, dropped)
    }
    val filtered = run("filtered", AlertPipeline(_, _, cfg))
    assert(filtered === run("unfiltered", unfiltered))
    assert(filtered._1 === Seq((1, 1999L)))
    assert(filtered._2 > 0, "user 3's pair must be dropped as late")
  }

  test("late data beyond watermark is dropped (W4, MaxDelay=0)") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val hr = MemoryStream[String]
    val bp = MemoryStream[String]
    val q = startQuery(AlertPipeline(hr.toDF(), bp.toDF()), "g3")

    // advance watermark far ahead first
    hr.addData(hrJson(99999, 50, T0 + 300000))
    q.processAllAvailable()
    // then a qualifying pair arrives 5 min late -> all its panes are
    // already closed -> no alert (AkkaBiometricAlertStreamProcessor.scala:73-75)
    bp.addData(bpJson(12346, 80, 80, T0))
    hr.addData(hrJson(12346, 101, T0 + 1000))
    q.processAllAvailable()
    hr.addData(hrJson(99999, 50, T0 + 600000))
    q.processAllAvailable()
    q.stop()

    assert(spark.table("g3").count() === 0)
  }
}
