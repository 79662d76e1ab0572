package graft

import java.nio.file.Files

import graft.model.Alert
import graft.sources.JsonIngest
import graft.streaming.{AlertPipeline, AlertSinks}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.StreamingQuery

/** The ingest-time fallback of `JsonIngest`: rows without a payload
  * `timestamp` get the micro-batch's time, and reading that time keeps
  * the generated code of every stage the same from batch to batch.
  */
class JsonIngestSpec extends SparkSpec {

  private val T0 = 1700000000000L

  test("rows without a timestamp share their trigger's time; the others keep theirs") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[String]
    val q = JsonIngest.heartRate(src.toDF()).writeStream
      .format("memory").queryName("ingest_time").outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt_ingest_time").toString)
      .start()
    // one trigger each, with its wall-clock interval
    val triggers = Seq(1, 2).map { k =>
      val before = System.currentTimeMillis()
      src.addData(s"""{"user_id":$k,"heart_rate":70}""",
        s"""{"user_id":${k + 10},"heart_rate":80}""",
        s"""{"user_id":${k + 20},"heart_rate":90,"timestamp":${T0 + k}}""")
      q.processAllAvailable()
      (k, before, System.currentTimeMillis())
    }
    q.stop()
    val ts = spark.table("ingest_time").collect()
      .map(r => r.getAs[Int]("user_id") -> r.getAs[java.sql.Timestamp]("ts").getTime)
      .toMap
    triggers.foreach { case (k, before, after) =>
      assert(ts(k) === ts(k + 10), "one trigger, one ingest time")
      assert(ts(k) >= before && ts(k) <= after, s"trigger $k: $ts")
      assert(ts(k + 20) === T0 + k)
    }
    assert(ts(1) < ts(2), s"each trigger has its own time: $ts")
  }

  test("two data batches of the alert query run the same generated code") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val hr = MemoryStream[String]
    val bp = MemoryStream[String]
    val q: StreamingQuery = AlertSinks.foreachBatch(AlertPipeline(hr.toDF(), bp.toDF()),
      Files.createTempDirectory("ckpt_codegen").toString,
      (ds: Dataset[Alert], _: Long) => { ds.collect(); () })
    // the whole-stage sources of the last batch, expression ids dropped
    def code(): Seq[String] = {
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      codegenStringSeq(plan).map(_._2.replaceAll("#\\d+", "#"))
    }
    // all at one event time: after the first batch the watermark stays
    // put, so no no-data batch runs between the two data batches
    def feed(k: Int): Unit = {
      hr.addData(s"""{"user_id":$k,"heart_rate":150,"timestamp":$T0}""")
      bp.addData(s"""{"user_id":$k,"systolic":80,"diastolic":60,"timestamp":$T0}""")
      q.processAllAvailable()
    }
    val perBatch =
      try {
        feed(0)
        Seq(1, 2).map { k => feed(k); code() }
      } finally q.stop()
    assert(perBatch.head.nonEmpty)
    assert(perBatch(0) === perBatch(1))
  }
}
