package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The streaming mirror of batch q100: one continuous curation
  * pipeline composed from the engine's own stages —
  *
  *   ingest → q107 normalization → within-stream dedup (watermarked)
  *     → persisted-store anti-join → drop-oldest shedding
  *     → curated landing zone (parquet)
  *     → per-source cooldown notifications
  *
  * Two checkpointed queries, staged through the landing zone: the
  * curation query owns admission (dedup state, store join, shedding)
  * and the monitor query STREAMS FROM THE CURATED FILES, applying the
  * alert pipeline's cooldown ([[AlertPipeline.dedupe]]) per source.
  * Staging is deliberate, not a workaround: Spark rejects
  * `flatMapGroupsWithState` chained behind other stateful operators in
  * one query, and a landing zone between admission and monitoring is
  * the production pattern anyway (each stage restarts independently
  * from its own checkpoint — exactly what the spec exercises). At
  * 100 TB the store side of the anti-join is the bucketed table
  * [[BucketedStoreSpec]] pins, and shedding's TakeOrderedAndProject
  * never sorts the burst.
  *
  * Input schema: (doc_id: Long, src_id: Int, text: String,
  * ts: Timestamp).
  */
object CurationPipeline {

  /** q107's canonical form + fingerprint, streaming: lowercase,
    * non-alphanumerics to spaces, runs collapsed; fp = md5(norm).
    */
  def normalized(docs: DataFrame): DataFrame =
    docs
      .withColumn("norm", trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")))
      .withColumn("fp", md5(col("norm")))

  /** Admission: first-writer-wins within the stream while the
    * watermark holds, then LEFT ANTI against the persisted
    * fingerprint store (q91's posture — bucketed and co-partitioned
    * at scale).
    */
  def accepted(docs: DataFrame, store: DataFrame,
      watermark: String): DataFrame =
    normalized(docs)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("fp"))
      .join(store, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("src_id"), col("fp"), col("ts"))

  /** Schema of the curated landing zone (what [[startMonitor]] reads).
    * `batch_id` is the Hive-style partition directory each micro-batch
    * lands in — see [[landBatch]].
    */
  val curatedSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, src_id INT, fp STRING, ts TIMESTAMP, batch_id BIGINT")

  /** One micro-batch's landing, IDEMPOTENT under foreachBatch's
    * at-least-once re-delivery and PUBLISHED ATOMICALLY: shed to the
    * budget, write the batch to a hidden `.tmp` directory (hidden
    * paths are invisible to every Spark file lister, including the
    * monitor's file-stream source), then rename it into place as the
    * batch's OWN `batch_id=<id>` partition directory.
    *
    * The rename closes the partial-listing race a direct write has: a
    * batch lands as several part-files, and a concurrent file-stream
    * lister that catches the directory mid-write sees a SUBSET of
    * them — downstream event-time logic (the monitor's per-source
    * cooldown picks the EARLIEST event) then processes later rows a
    * micro-batch before earlier ones and emits the wrong
    * representative. After the rename a batch directory is visible
    * all-or-nothing on any filesystem with atomic rename (local,
    * HDFS); object stores without it need a transactional table
    * format instead.
    *
    * Re-delivery stays idempotent: a crash after a partial/full write
    * but before the checkpoint commit re-runs the batch with the same
    * id, and the fresh tmp dir replaces the earlier attempt instead of
    * appending it (same versioned-directory posture as
    * [[IncrementalPipelines.LatestWinsStore]]; `_SUCCESS` marks the
    * committed write). `onShed` fires on every delivery, so treat it
    * as an at-least-once metrics signal, not an exact counter.
    */
  private[graft] def landBatch(batch: DataFrame, budgetPerBatch: Int,
      curatedDir: String, batchId: Long, onShed: Long => Unit): Unit = {
    val (kept, shed) = Shedding.dropOldest(batch, budgetPerBatch,
      col("ts").desc, col("doc_id").desc)
    onShed(shed)
    AtomicLanding.publish(kept, curatedDir, batchId)
  }

  /** The curation query: admission → per-batch drop-oldest shedding →
    * parquet landing zone, one committed `batch_id=` directory per
    * micro-batch ([[landBatch]] makes re-delivery idempotent).
    *
    * The downstream monitor is a file-stream reader, which tracks seen
    * FILE NAMES — in the narrow crash window where a partial attempt
    * was already read before its re-delivery overwrote it, the monitor
    * can observe a doc twice (at-least-once, like any file-source
    * consumer of a rewritten file). The landing zone itself is
    * duplicate-free, and the monitor's per-source cooldown debounce
    * absorbs the repeat; an exactly-once monitor would read only
    * committed batch dirs through a transactional table format.
    */
  def startCuration(docs: DataFrame, store: DataFrame, watermark: String,
      budgetPerBatch: Int, curatedDir: String, checkpoint: String,
      onShed: Long => Unit = _ => ()): StreamingQuery =
    accepted(docs, store, watermark).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        landBatch(batch, budgetPerBatch, curatedDir, id, onShed)
      }
      .start()

  /** The monitor query: stream the landing zone, debounce one
    * "source shipped new content" alert per source per cooldown
    * window ([[AlertPipeline.dedupe]] with its default event-time
    * timeout, state checkpointed and restart-surviving like everything
    * else).
    */
  def startMonitor(spark: SparkSession, curatedDir: String,
      cooldownMs: Long, watermark: String, alertDir: String,
      checkpoint: String): StreamingQuery = {
    val notices = spark.readStream.schema(curatedSchema).parquet(curatedDir)
      .withWatermark("ts", watermark)
      .select(col("src_id").as("user_id"),
        concat(lit("new curated content from source "), col("src_id"))
          .as("message"),
        col("ts"))
    val alerts =
      AlertPipeline.dedupe(notices, AlertPipeline.Config(cooldownMs = cooldownMs))
    alerts.writeStream
      .format("parquet").option("path", alertDir)
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
