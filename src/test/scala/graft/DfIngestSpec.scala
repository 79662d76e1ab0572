package graft

import java.nio.file.Files

import graft.operators.TextOps
import graft.streaming.DfIngest
import org.apache.spark.sql.functions._

/** The streaming df-store deployment ([[DfIngest]]): fold-mode
  * exactly-once maintenance through the replay guard, and the
  * manifest-resolved serve path.
  */
class DfIngestSpec extends SparkSpec {

  private def sweep(tbls: String*): Unit = tbls.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  test("fold-mode stream maintains the store exactly and lands per-batch scores") {
    sweep("dfi_terms", "dfi_terms_stats")
    val docs = Tables(spark, sf001, "documents")
    TextOps.writeDfStoreOf(docs.filter(col("doc_id") % 3 =!= 1),
      "dfi_terms", 4)
    val rest = docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))

    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val src = MemoryStream[(Long, String)]
    val outDir = Files.createTempDirectory("dfi_out").toString
    val ckpt = Files.createTempDirectory("dfi_ckpt").toString
    val q = DfIngest.startWithFold(src.toDF().toDF("doc_id", "text"),
      "dfi_terms", "dfi_terms_stats", outDir, ckpt)
    val (half1, half2) = rest.splitAt(rest.length / 2)
    src.addData(half1.toSeq); q.processAllAvailable()
    src.addData(half2.toSeq); q.processAllAvailable()
    q.stop()

    // the maintained store equals the full-corpus recompute
    val want = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val got = TextOps.readDfStore(spark, "dfi_terms")
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "streamed folds must converge the store to the full recompute")
    val Array(st) = TextOps.readDfStats(spark, "dfi_terms").collect()
    assert(st.getLong(0) === docs.count(), "n_docs tracks every fold")

    // the stream's installment ids (1, 2) are recorded: a re-delivery
    // of either is the replay guard's quiet no-op
    assert(!TextOps.refreshDfStore(spark,
      Tables(spark, sf001, "documents").limit(1), "dfi_terms", 1L))
    assert(!TextOps.refreshDfStore(spark,
      Tables(spark, sf001, "documents").limit(1), "dfi_terms", 2L))

    // both batches landed scores atomically
    val landed = DfIngest.readScores(spark, outDir)
    assert(landed.select(col("batch_id")).distinct().count() === 2)
    assert(landed.count() > 0)
  }

  test("manifest-resolved serving scores a batch exactly like the direct path") {
    sweep("dfimf", "dfimf_df_v1_terms", "dfimf_df_v1_stats")
    val docs = Tables(spark, sf001, "documents")
    graft.stores.StoreManifest.roll(spark, "dfimf", "df",
        Seq("terms", "stats"))((_, t) =>
      TextOps.writeDfStoreOf(docs, t("terms"), 4, t("stats")))
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
    val feed = batch.collect().map(r => (r.getLong(0), r.getString(1)))

    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val src = MemoryStream[(Long, String)]
    val outDir = Files.createTempDirectory("dfi2_out").toString
    val ckpt = Files.createTempDirectory("dfi2_ckpt").toString
    val q = DfIngest.startFromManifest(src.toDF().toDF("doc_id", "text"),
      "dfimf", outDir, ckpt)
    src.addData(feed.toSeq); q.processAllAvailable(); q.stop()

    val landed = DfIngest.readScores(spark, outDir)
      .drop("batch_id")
    val direct = TextOps.bm25AgainstStore(spark, batch,
      "dfimf_df_v1_terms", "dfimf_df_v1_stats")
    assert(landed.except(direct).isEmpty && direct.except(landed).isEmpty,
      "the streamed scores must equal the direct store scoring")
    assert(landed.count() > 0)
  }
}
