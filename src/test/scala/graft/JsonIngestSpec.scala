package graft

import java.nio.file.Files

import graft.model.Alert
import graft.sources.JsonIngest
import graft.streaming.{AlertPipeline, AlertSinks}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The ingest-time fallback of `JsonIngest`: rows without a payload
  * `timestamp` get the micro-batch's time, and reading that time keeps
  * the generated code of every stage the same from batch to batch; so
  * does the state decoder of the alert query's one stateful operator.
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

  test("steady-state batches of the alert query compile only the late-event predicate") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // Spark counts compiles JVM-wide
    assert(spark.streams.active.isEmpty, spark.streams.active.map(_.name).mkString(", "))
    val hr = MemoryStream[String]
    val bp = MemoryStream[String]
    // compiles so far, read once each batch's sink has run, by batch id
    val compiled = scala.collection.mutable.Map[Long, Long]()
    val q = AlertSinks.foreachBatch(AlertPipeline(hr.toDF(), bp.toDF()),
      Files.createTempDirectory("ckpt_compiles").toString,
      (ds: Dataset[Alert], id: Long) => {
        ds.collect()
        compiled(id) = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        ()
      },
      Trigger.ProcessingTime(0L))
    // a round one second of event time on: a data batch, then the
    // no-data batch its watermark makes due (which closes panes)
    def round(k: Int): Unit = {
      val ts = T0 + k * 1000L
      hr.addData(s"""{"user_id":${k % 3},"heart_rate":150,"timestamp":$ts}""")
      bp.addData(s"""{"user_id":${k % 3},"systolic":80,"diastolic":60,"timestamp":$ts}""")
      q.processAllAvailable()
      var last = q.lastProgress.batchId
      var stableSince = System.currentTimeMillis()
      while (System.currentTimeMillis() - stableSince < 300) {
        Thread.sleep(20)
        val b = q.lastProgress.batchId
        if (b != last) { last = b; stableSince = System.currentTimeMillis() }
      }
    }
    val (progress, warm) =
      try {
        (0 until 4).foreach(round)
        val warm = q.lastProgress.batchId
        (4 until 10).foreach(round)
        (q.recentProgress.toSeq, warm)
      } finally q.stop()
    // (batch id, input rows, compiles) of every steady-state batch
    val batches = progress.filter(_.batchId > warm).map { p =>
      (p.batchId, p.numInputRows, compiled(p.batchId) - compiled(p.batchId - 1))
    }
    val (data, noData) = batches.partition(_._2 > 0)
    assert(data.size >= 5 && noData.size >= 5, batches.mkString("\n"))
    assert(data.forall(_._3 <= 1) && noData.forall(_._3 == 0), batches.mkString("\n"))
  }
}
