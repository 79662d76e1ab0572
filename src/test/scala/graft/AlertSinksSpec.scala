package graft

import java.nio.file.Files

import graft.model.Alert
import graft.streaming.AlertSinks
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}

/** The builders' one default trigger. The Kafka builder shares it but
  * cannot start without the connector (see `KafkaWiringSpec`).
  */
class AlertSinksSpec extends SparkSpec {

  test("a builder started without a trigger runs the one default") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val alerts = MemoryStream[Alert].toDS()
    def ckpt() = Files.createTempDirectory("ckpt_default_trigger").toString
    val queries = Seq(
      AlertSinks.console(alerts, ckpt()),
      AlertSinks.foreach(alerts, ckpt(), _ => ()),
      AlertSinks.foreachBatch(alerts, ckpt(), (_: Dataset[Alert], _: Long) => ()),
      AlertSinks.parquet(alerts,
        Files.createTempDirectory("out_default_trigger").toString, ckpt()))
    try queries.foreach { q =>
      assert(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.trigger ===
        AlertSinks.DefaultTrigger)
    } finally queries.foreach(_.stop())
  }
}
