package graft.streaming

import graft.model.Alert
import org.apache.spark.sql.{Dataset, ForeachWriter}
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Sink builders for the alert stream (SURVEY.md §2.2: K1 console
  * print, K2 foreach, K3 checkpointed durable state) plus the file and
  * Kafka sinks a production deployment needs. Checkpointing is
  * mandatory for every stateful query — the Spark analog of the
  * reference's `ssc.checkpoint` (BiometricAlertStreamProcessor
  * .scala:36) and Kafka changelog-backed store
  * (KafkaBiometricAlertStreamProcessor.scala:70).
  */
object AlertSinks {

  /** State partitions of every alert query. One, not one per core:
    * the streaming pipeline keeps each user's open panes and cooldown
    * in one fused per-user operator (`state.WindowCooldown`), whose
    * state peaks at ~650 rows on perfbench's alert_sparse, and each
    * batch commits that operator once per partition, so
    * per-partition commits (tens of ms each) dominate a batch.
    * Spark pins the count in the checkpoint's offset metadata at the
    * first start, so a query restarted from a checkpoint keeps the
    * count it was created with. Code in a `foreachBatch` sink runs on
    * the query's session and sees this count too.
    */
  private val StatePartitions = 1

  /** The trigger of every builder that is not passed one: 250 ms.
    *
    * An alert leaves two batches after its pane ends (one moves the
    * watermark past the pane, the next closes it), so with a batch cost
    * of ~0.5 s a 1 s trigger, not the work, set event-to-alert latency.
    * perfbench alert_live (2,500 events/s open loop, 4 cores), six
    * interleaved rounds, seeds 401–406, median [IQR]; the 1 s row is the
    * code before the state decoder stopped recompiling each batch (see
    * [[graft.model.PaneState]]), the others run with it:
    *
    * {{{
    * trigger  p50 ms              tail ms  events/s  CPU ms/event
    * 1 s      3394 [3377, 3418]   3480     2534      0.59
    * 250 ms   2142 [2095, 2194]   2364     2521      1.02
    * 300 ms   2149 [2103, 2175]   2507     2515      0.98
    * 0        2143 [2040, 2165]   2401     2522      0.98
    * }}}
    *
    * (CPU: user + sys of the JVM over the 8 s window, per event sent.)
    * Below the batch cost every interval runs batches back to back, so
    * the three short triggers tie on p50 and CPU; 300 ms, which does
    * not divide the generator's 500 ms tick, rules out a tick-phase
    * effect. 250 ms had the lowest tail, and unlike 0 it bounds an idle
    * query's source polling at four per second (0 polls every 10 ms,
    * Spark's `pollingDelay`). The price: about 1.7x the CPU per event,
    * since more batches pay their fixed cost (traced: 9–11 batches
    * against 4 in the same 4 s), and Spark logs a "falling behind"
    * warning for each batch that overruns the interval.
    */
  val DefaultTrigger: Trigger = Trigger.ProcessingTime("250 milliseconds")

  /** The one start path of every builder: append output, the
    * checkpoint and the trigger, then `sink` names the sink. The
    * query starts with [[StatePartitions]] shuffle partitions; the
    * caller's session gets its own setting back once `start()` has
    * cloned the session into the query.
    */
  private def start[T](rows: Dataset[T], checkpoint: String, trigger: Trigger)(
      sink: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
    val writer = sink(rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger))
    val conf = rows.sparkSession.conf
    val key = "spark.sql.shuffle.partitions"
    val prior = conf.getAll.get(key)
    conf.set(key, StatePartitions.toString)
    try writer.start()
    finally prior.fold(conf.unset(key))(conf.set(key, _))
  }

  /** K1: console print (`alertState.print`). */
  def console(alerts: Dataset[Alert], checkpoint: String,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    start(alerts, checkpoint, trigger)(_.format("console"))

  /** K2: per-element side effect (`Sink.foreach`). */
  def foreach(alerts: Dataset[Alert], checkpoint: String,
      f: Alert => Unit,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    start(alerts, checkpoint, trigger)(_.foreach(new ForeachWriter[Alert] {
      def open(partitionId: Long, epochId: Long): Boolean = true
      def process(value: Alert): Unit = f(value)
      def close(errorOrNull: Throwable): Unit = ()
    }))

  /** K2 batch-granular variant: `foreachBatch` hands each micro-batch
    * to arbitrary DataFrame code (e.g. an idempotent JDBC upsert or a
    * merge into a lakehouse table) with the batch id for exactly-once
    * bookkeeping — the Spark-native shape of the reference's
    * side-effecting sink when per-element `foreach` is too fine.
    */
  def foreachBatch(alerts: Dataset[Alert], checkpoint: String,
      f: (Dataset[Alert], Long) => Unit,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    start(alerts, checkpoint, trigger)(_.foreachBatch(f))

  /** Durable parquet sink (exactly-once via checkpoint + WAL). */
  def parquet(alerts: Dataset[Alert], path: String, checkpoint: String,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    start(alerts, checkpoint, trigger)(_.format("parquet").option("path", path))

  /** Kafka sink: alerts back onto a topic as JSON (requires the
    * spark-sql-kafka connector at runtime).
    */
  def kafka(alerts: Dataset[Alert], bootstrapServers: String, topic: String,
      checkpoint: String,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    start(alerts.select(col("user_id").cast("string").as("key"),
        to_json(struct(col("user_id"), col("message"), col("ts"))).as("value")),
      checkpoint, trigger)(_.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .queryName("alerts-to-kafka"))
}
