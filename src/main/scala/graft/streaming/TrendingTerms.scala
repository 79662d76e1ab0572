package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Streaming heavy hitters: per sliding event-time window, the top-k
  * terms by count — the continuous mirror of batch q58/q103 (trending
  * terms over a document or event stream).
  *
  * Shape: the stateful stage is ONLY the windowed (window, term)
  * count — partial-aggregated map-side, state bounded by
  * |windows in flight| × |per-window vocabulary|, finalized and
  * emitted exactly once per row in append mode when the watermark
  * passes the window end. The top-k rank never runs on the stream:
  * append mode finalizes ALL of a window's rows in the same
  * micro-batch (the watermark crossing is atomic per batch), so the
  * per-window rank in foreachBatch is complete and batch-planned —
  * where Spark's partial `WindowGroupLimit` prunes it per map task.
  * At extreme vocabulary the production front is q103's count-min
  * sketch feeding this same window; the operator contract (finalized
  * (win, term, n) → ranked top-k) is unchanged.
  *
  * Input schema: (ts: Timestamp, text: String).
  */
object TrendingTerms {

  /** Sliding-window term counts; append-mode rows finalize once the
    * watermark passes `win_end`.
    */
  def windowedCounts(docs: DataFrame, watermark: String,
      win: String, slide: String): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(split(col("text"), " ")).as("term"))
      .groupBy(window(col("ts"), win, slide), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("term"), col("n"))

  /** Rank one micro-batch of FINALIZED counts: top-k per window,
    * ties broken by term so reruns of the same batch are identical.
    */
  def topK(finalized: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("win_start"), col("win_end"))
      .orderBy(col("n").desc, col("term").asc)
    finalized.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Start the query: finalized counts → per-window top-k → `sink`
    * (called once per micro-batch with the ranked rows).
    */
  def start(docs: DataFrame, k: Int, watermark: String, win: String,
      slide: String, checkpointDir: String,
      sink: DataFrame => Unit): StreamingQuery =
    windowedCounts(docs, watermark, win, slide)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(topK(batch, k))
      }
      .start()
}
