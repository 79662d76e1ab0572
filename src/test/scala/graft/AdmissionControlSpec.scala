package graft

import java.nio.file.Files

import graft.model.Alert
import graft.sources.EventSources
import graft.streaming.AlertSinks
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** Admission control (S2) and batch-granular sinks (K2).
  *
  * The reference's Akka variant bounds ingest with a 100-element queue
  * (AkkaBiometricAlertStreamProcessor.scala:39-40). Spark's analog is
  * per-trigger admission: the source hands each micro-batch a bounded
  * slice (`maxFilesPerTrigger` / `maxOffsetsPerTrigger`) and the rest
  * WAITS at the source — deferral, never loss, because Spark is
  * pull-based and overload cannot implicitly shed data. The
  * reference's dropHead LOSS semantics are available as the opt-in
  * [[graft.streaming.Shedding]] policy inside foreachBatch, tested
  * below.
  */
class AdmissionControlSpec extends SparkSpec {

  test("maxFilesPerTrigger bounds each micro-batch; nothing is dropped") {
    val dir = Files.createTempDirectory("adm_src")
    (0 until 6).foreach { i =>
      java.nio.file.Files.write(dir.resolve(s"f$i.json"),
        s"""{"user_id":$i,"heart_rate":150,"timestamp":${1700000000000L + i}}\n"""
          .getBytes("UTF-8"))
    }
    val src = spark.readStream
      .option("maxFilesPerTrigger", "2") // admission cap: 2 files/batch
      .text(dir.toString)
    val q = src.writeStream.format("memory").queryName("adm")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt_adm").toString)
      .trigger(Trigger.AvailableNow()) // drain the backlog, then stop
      .start()
    q.awaitTermination(60000)

    // Every row arrived (deferral, not loss) across ceil(6/2)=3 batches.
    assert(spark.table("adm").count() === 6)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length === 3, batches.map(_.numInputRows).mkString(","))
    assert(batches.forall(_.numInputRows === 2))
  }

  test("foreachBatch sink sees every batch exactly once with its id") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val hr = MemoryStream[String]
    val alerts = graft.streaming.AlertPipeline(hr.toDF(),
      MemoryStream[String].toDF())
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val q = AlertSinks.foreachBatch(alerts,
      Files.createTempDirectory("ckpt_fb").toString,
      (batch: org.apache.spark.sql.Dataset[Alert], id: Long) =>
        { seen.put(id, batch.count()); () })
    val t0 = 1700000000000L
    hr.addData(s"""{"user_id":7,"heart_rate":150,"timestamp":$t0}""")
    q.processAllAvailable()
    q.stop()
    // The pipeline ran through foreachBatch (ids are unique per batch);
    // one qualifying HR with no BP pair yields zero alerts, and the
    // sink still observed the (possibly empty) batches exactly once.
    assert(!seen.isEmpty)
  }

  test("opt-in drop-oldest shedding keeps the newest rows and counts the shed") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, Long)] // (event_id, ts-millis)
    val kept = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val shed = new java.util.concurrent.atomic.AtomicLong()
    val q = in.toDF().toDF("event_id", "ms")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt_shed").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (keep, n) = graft.streaming.Shedding
          .dropOldest(batch, 3, col("ms").desc, col("event_id").desc)
        shed.addAndGet(n)
        keep.collect().foreach(r => kept.add(r.getLong(0)))
      }
      .start()
    val t0 = 1700000000000L
    // one overloaded trigger: 5 rows against a budget of 3 — the two
    // OLDEST must be the casualties (dropHead), deterministically
    in.addData((1L, t0 + 10), (2L, t0 + 50), (3L, t0 + 20),
      (4L, t0 + 40), (5L, t0 + 30))
    q.processAllAvailable()
    q.stop()
    assert(kept.toArray.map(_.asInstanceOf[Long]).sorted.toSeq
      === Seq(2L, 4L, 5L), s"newest three survive: $kept")
    assert(shed.get() === 2L, "shed metric counts the dropped rows")
  }

  test("fileJson replay source feeds the same parser as live sources") {
    val dir = Files.createTempDirectory("replay_src")
    java.nio.file.Files.write(dir.resolve("a.json"),
      ("""{"user_id":1,"heart_rate":150,"timestamp":1700000000000}""" + "\n" +
        """{"user_id":2,"heart_rate":80,"timestamp":1700000001000}""" + "\n")
        .getBytes("UTF-8"))
    val parsed = graft.sources.JsonIngest.heartRate(
      EventSources.fileJson(spark, dir.toString))
    val q = parsed.writeStream.format("memory").queryName("replay")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt_rp").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table("replay").count() === 2)
  }
}
