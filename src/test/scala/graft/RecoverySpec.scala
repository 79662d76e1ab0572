package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.model.Alert
import graft.streaming.{AlertPipeline, AlertSinks}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

/** Fault-tolerance: the cooldown state survives a query restart from
  * the checkpoint (the durability semantics of the reference's
  * RocksDB-backed Kafka store, KafkaBiometricAlertStreamProcessor
  * .scala:65–72, and DStream checkpoint,
  * BiometricAlertStreamProcessor.scala:36), and the query keeps the
  * one state partition `AlertSinks` started it with, and a restart
  * that would read the state under another window spec fails instead.
  */
class RecoverySpec extends SparkSpec {

  private val T0 = 1700000000000L

  private def hrJson(user: Int, hr: Int, ts: Long) =
    s"""{"user_id":$user,"heart_rate":$hr,"timestamp":$ts}"""
  private def bpJson(user: Int, sys: Int, ts: Long) =
    s"""{"user_id":$user,"systolic":$sys,"diastolic":80,"timestamp":$ts}"""

  test("cooldown suppression continues across a checkpointed restart") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ckpt = Files.createTempDirectory("ckpt_recovery").toString
    val outDir = Files.createTempDirectory("out_recovery").toString
    val hr = MemoryStream[String]
    val bp = MemoryStream[String]
    // long cooldown: any post-restart alert within it must be suppressed
    val cfg = AlertPipeline.Config(cooldownMs = 3600 * 1000L)
    val alerts = AlertPipeline(hr.toDF(), bp.toDF(), cfg)

    // memory sink does not support recovery; the parquet sink is the
    // fault-tolerant (exactly-once) path
    def start(): StreamingQuery = {
      val q = AlertSinks.parquet(alerts, outDir, ckpt, Trigger.ProcessingTime(0L))
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "4",
        "the caller's session keeps its own partition count")
      q
    }
    // the one state operator (window flags and cooldown) ran on one
    // partition
    def assertOnePartition(q: StreamingQuery): Unit = {
      val ops = q.lastProgress.stateOperators
      assert(ops.length === 1 && ops.forall(_.numShufflePartitions == 1),
        ops.map(_.json).mkString("\n"))
    }

    def emitted42(): Long =
      spark.read.schema(alerts.schema).parquet(outDir)
        .where("user_id = 42").count()

    // phase 1: trigger one alert for user 42, then stop
    val q1 = start()
    bp.addData(bpJson(42, 80, T0))
    hr.addData(hrJson(42, 150, T0 + 1000))
    q1.processAllAvailable()
    hr.addData(hrJson(99999, 150, T0 + 60000)) // close panes
    q1.processAllAvailable()
    assertOnePartition(q1)
    q1.stop()
    assert(emitted42() === 1)
    val offsets0 = Files.readAllLines(Paths.get(ckpt, "offsets", "0")).asScala
    assert(offsets0.exists(_.contains("\"spark.sql.shuffle.partitions\":\"1\"")),
      offsets0.mkString("\n"))

    // phase 2: restart from the same checkpoint; a new qualifying pair
    // 2 minutes later (well inside the 1h cooldown) must be suppressed
    // by the RESTORED state
    val q2 = start()
    bp.addData(bpJson(42, 80, T0 + 120000))
    hr.addData(hrJson(42, 150, T0 + 121000))
    q2.processAllAvailable()
    hr.addData(hrJson(99999, 150, T0 + 600000))
    q2.processAllAvailable()
    assertOnePartition(q2)
    q2.stop()

    assert(emitted42() === 1, "restored cooldown state must keep suppressing")
  }

  test("a checkpoint of the two-operator chain fails loudly under the fused pipeline") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ckpt = Files.createTempDirectory("ckpt_chain").toString
    val hr = MemoryStream[String]
    val bp = MemoryStream[String]
    val cfg = AlertPipeline.Config()
    def run(alerts: org.apache.spark.sql.Dataset[graft.model.Alert]): Unit = {
      val q = AlertSinks.foreachBatch(alerts, ckpt,
        (ds: org.apache.spark.sql.Dataset[graft.model.Alert], _: Long) => { ds.collect(); () },
        Trigger.ProcessingTime(0L))
      try {
        bp.addData(bpJson(42, 80, T0))
        hr.addData(hrJson(42, 150, T0 + 1000))
        q.processAllAvailable()
      } finally q.stop()
    }
    // the layout before the fused operator: window aggregation, then
    // the cooldown
    run(AlertPipeline.dedupe(
      AlertPipeline.rawAlerts(AlertPipeline.ingest(hr.toDF(), bp.toDF()), cfg), cfg))
    // its state must not be read as the fused operator's, nor skipped
    val e = intercept[Exception](run(AlertPipeline(hr.toDF(), bp.toDF(), cfg)))
    assert(e.getMessage.contains(
      "STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA"), e.getMessage)
  }

  test("a restart with another window spec fails, naming both specs, and emits nothing") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ckpt = Files.createTempDirectory("ckpt_window_spec").toString
    val hr = MemoryStream[String]
    val bp = MemoryStream[String]
    val emitted = scala.collection.mutable.ArrayBuffer[Alert]()
    def start(length: String, slide: String): StreamingQuery =
      AlertSinks.foreachBatch(
        AlertPipeline(hr.toDF(), bp.toDF(),
          AlertPipeline.Config(windowLength = length, windowSlide = slide)),
        ckpt,
        (ds: Dataset[Alert], _: Long) => { emitted ++= ds.collect(); () },
        Trigger.ProcessingTime(0L))

    // user 2's high heart rate at +10 s leaves its 5 s / 1 s panes open
    val q1 = start("5 seconds", "1 second")
    hr.addData(hrJson(2, 150, T0 + 10000))
    q1.processAllAvailable()
    q1.stop()

    // its low blood pressure at +12 s, read with the old state, ORs the
    // old [+10, +15) pane into the new [-5, +15) one and emits 14.999 s
    // alone, which is neither spec's batch answer (5 s / 1 s: 12.999 s;
    // 20 s / 5 s: 14.999, 19.999, 24.999 and 29.999 s)
    val q2 = start("20 seconds", "5 seconds")
    val e = intercept[StreamingQueryException] {
      try {
        bp.addData(bpJson(2, 80, T0 + 12000))
        hr.addData(hrJson(3, 70, T0 + 60000))
        q2.processAllAvailable()
      } finally q2.stop()
    }
    assert(e.getMessage.contains("5 s / 1 s") && e.getMessage.contains("20 s / 5 s"),
      e.getMessage)
    assert(emitted.isEmpty, emitted.mkString("\n"))
  }
}
