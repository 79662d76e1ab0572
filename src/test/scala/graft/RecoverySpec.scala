package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.streaming.{AlertPipeline, AlertSinks}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Fault-tolerance: the cooldown state survives a query restart from
  * the checkpoint (the durability semantics of the reference's
  * RocksDB-backed Kafka store, KafkaBiometricAlertStreamProcessor
  * .scala:65–72, and DStream checkpoint,
  * BiometricAlertStreamProcessor.scala:36), and the query keeps the
  * one state partition `AlertSinks` started it with.
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
    // both state operators (window flags, cooldown) ran on one partition
    def assertOnePartition(q: StreamingQuery): Unit = {
      val ops = q.lastProgress.stateOperators
      assert(ops.length === 2 && ops.forall(_.numShufflePartitions == 1),
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
}
