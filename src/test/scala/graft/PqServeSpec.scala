package graft

import java.nio.file.Files

import graft.operators.Similarity
import graft.streaming.AnnIngest
import graft.stores.StoreManifest
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The PQ-coded ANN serving store (round-11 verdict item): the
  * manifest-managed `ivf` family carries a packed-code table + its
  * codebook alongside centroids and full-vector cells, ADC search
  * serves from the codes (vectors fetched only for admitted
  * candidates), the ingest lands codes per micro-batch bit-equal to a
  * one-shot encode, and the code table is a small fraction of the
  * cell table's bytes — the 100 TB reason the sidecar exists.
  */
class PqServeSpec extends SparkSpec {

  private def vecOf(id: Long): Seq[Float] =
    Tables(spark, sf001, "embeddings")
      .filter(col("vec_id") === id).collect()
      .head.getSeq[Float](1)

  private def emb =
    Tables(spark, sf001, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))

  private def tableBytes(t: String): Long = {
    val loc = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t)).location
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(loc), true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) n += f.getLen
    }
    n
  }

  /** The test corpus's IVF store (centroids, cells, PQ sidecar, fold
    * watermark -1) as the next `ivf` version.
    */
  private def publishIvf(mf: String) =
    StoreManifest.roll(spark, mf, "ivf", AnnIngest.ivfRoles) { (_, t) =>
      Similarity.writeIvfStore(spark, sf001, t("centroids"), t("cells"))
      Similarity.writePqSidecar(spark, t("cells"), t("codebook"), t("codes"))
      AnnIngest.writeWm(spark, t("wm"), -1L)
    }

  test("manifest-managed PQ store: ADC serving equals the frame path; codes are a fraction of cell bytes") {
    val wh = Files.createTempDirectory("graft_wh_pq").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS pqstore LOCATION '$wh'")
    val mf = "pqstore.manifest"
    try {
      publishIvf(mf)
      val (_, cur) = StoreManifest.currentRequired(spark, mf, "ivf")
      assert(cur.keySet ===
        Set("centroids", "cells", "codes", "codebook", "wm"))
      assert(AnnIngest.foldWatermark(spark, cur) === -1L,
        "a base build serves every landing batch")
      // the serving projection: id + partition cell + ONE packed long
      assert(spark.table(cur("codes")).columns.sorted.toSeq ===
        Seq("cell", "pcode", "vec_id"))
      assert(spark.table(cur("codes")).count() === emb.count())
      assert(spark.table(cur("codebook")).count() === 128) // 8 m × 16

      import spark.implicits._
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v"))

      // store-resolved serving == the same search computed from raw
      // frames (fresh encode against the store's own codebook/cents)
      val got = AnnIngest.adcSearchFromManifest(spark, queries, mf,
        nprobe = 2, kAdc = 6, k = 2)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      val cents = spark.table(cur("centroids"))
      val freshCodes = Similarity
        .pqEncodePacked(emb, spark.table(cur("codebook")))
        .join(Similarity.assignCells(emb, cents), "vec_id")
        .select(col("vec_id"), col("cell"), col("pcode"))
      val want = Similarity.adcSearch(queries, cents,
        spark.table(cur("codebook")), freshCodes,
        emb.select(col("vec_id"), col("v")), nprobe = 2, kAdc = 6, k = 2)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      assert(got === want,
        "store-backed ADC serving must equal the frame-level path")
      assert(got.nonEmpty)

      // the 100 TB claim, measured: packed codes are a small fraction
      // of the full-vector store (1 BIGINT vs 64 DOUBLEs per vector)
      val nVecs = spark.table(cur("codes")).count()
      val codeB = tableBytes(cur("codes")).toDouble
      val cellB = tableBytes(cur("cells")).toDouble
      info(f"codes: ${codeB / nVecs}%.1f B/vec; cells: ${cellB / nVecs}%.1f B/vec")
      assert(codeB < cellB * 0.2,
        f"code table must be < 20%% of cell bytes, got ${codeB / cellB}%.3f")

      // DPP: the ADC ranking's code-table scan prunes unprobed cells
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val q0 = Seq((0L, vecOf(0L).map(_.toDouble))).toDF("q_id", "v")
        val searched = AnnIngest.adcSearchFromManifest(spark, q0, mf,
          nprobe = 2, kAdc = 6, k = 1)
        val scans = searched.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec
              if s.output.exists(_.name == "pcode") => s
        }
        assert(scans.nonEmpty, "expected the code-store scan")
        assert(scans.exists(_.partitionFilters.exists(e =>
          e.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]))),
          s"code scan must carry a dynamic partition-pruning filter:\n" +
            searched.queryExecution.executedPlan)
        val r = searched.collect()
        assert(r.nonEmpty && r.head.getLong(1) != 0L)
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    } finally spark.sql("DROP DATABASE IF EXISTS pqstore CASCADE")
  }

  test("ingest lands codes bit-equal to a one-shot encode; serving covers the landing zone") {
    val wh = Files.createTempDirectory("graft_wh_pqi").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS pqing LOCATION '$wh'")
    val mf = "pqing.manifest"
    try {
      publishIvf(mf)
      val (_, cur) = StoreManifest.currentRequired(spark, mf, "ivf")

      implicit val ctx = spark.sqlContext
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val vecs = MemoryStream[(Long, Seq[Float])]
      val cellDir = Files.createTempDirectory("pq_cells").toString
      val codesDir = Files.createTempDirectory("pq_codes").toString
      val ckpt = Files.createTempDirectory("pq_ckpt").toString
      val q = AnnIngest.startWithCodes(
        vecs.toDF().toDF("vec_id", "embedding"),
        spark.table(cur("centroids")), spark.table(cur("codebook")),
        cellDir, codesDir, ckpt)
      vecs.addData((1000000L, vecOf(0L)), (1000001L, vecOf(7L)))
      q.processAllAvailable(); q.stop()

      // landed codes == one-shot encode of the same vectors
      val landed = AnnIngest.readCodes(spark, codesDir)
        .select(col("vec_id"), col("cell"), col("pcode"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .toMap
      val clones = Seq((1000000L, vecOf(0L)), (1000001L, vecOf(7L)))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
      val oneShot = Similarity
        .pqEncodePacked(clones, spark.table(cur("codebook")))
        .join(Similarity.assignCells(clones,
          spark.table(cur("centroids"))), "vec_id")
        .collect().map(r => (r.getLong(0),
          (r.getLong(2), r.getLong(1)))).toMap
      assert(landed === oneShot,
        "incrementally landed codes must equal the one-shot encode")

      // serving over store ∪ landing: query vector 0 finds its clone
      val q0 = Seq((0L, vecOf(0L).map(_.toDouble))).toDF("q_id", "v")
      val res = AnnIngest.adcSearchFromManifest(spark, q0, mf,
        cellDir, codesDir, nprobe = 2, kAdc = 6, k = 1).collect()
      assert(res.length === 1)
      assert(res.head.getLong(1) === 1000000L,
        s"ADC serving must admit and rerank the ingested clone: ${res.head}")
      assert(res.head.getDouble(2) === 1.0)

      // ---- round-12 advice fix: fold, then serve with the landing
      // dirs STILL POPULATED. The folded version's watermark excludes
      // the already-folded batch from the union, so ADC sums each
      // code once — serving with stale dirs must be bit-equal to
      // serving the published store alone (before the fix, the
      // doubled (vec_id, cell, pcode) rows silently doubled afx).
      AnnIngest.foldIvfCells(spark, mf, cellDir)
      val fcur = StoreManifest.currentRequired(spark, mf, "ivf")._2
      assert(AnnIngest.foldWatermark(spark, fcur) === 0L,
        "fold must record the landed batch id as its watermark")
      def serve(cd: String, xd: String) =
        AnnIngest.adcSearchFromManifest(spark, q0, mf, cd, xd,
          nprobe = 2, kAdc = 6, k = 1)
          .collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .sortBy(t => (t._1, t._4)).toSeq
      val stale = serve(cellDir, codesDir)
      val clean = serve("", "")
      assert(stale === clean,
        "a folded batch still in the landing zone must not be served twice")
      assert(stale.head._2 === 1000000L && stale.head._3 === 1.0)

      // ---- round-13 advice fix: a SECOND fold with the zone still
      // populated must not re-fold the already-folded batch — before
      // the lower bound, every zone batch ≤ the previous watermark
      // was unioned into the new cells table AGAIN, permanently
      // duplicating its vec_id rows in the store and the re-derived
      // code sidecar (the exact ADC double-count the wm role exists
      // to prevent, baked into the store instead of the serve path).
      AnnIngest.foldIvfCells(spark, mf, cellDir)
      val f2 = StoreManifest.currentRequired(spark, mf, "ivf")._2
      assert(AnnIngest.foldWatermark(spark, f2) === 0L,
        "an idle second fold keeps the watermark")
      Seq("cells", "codes").foreach { role =>
        val ids = spark.table(f2(role)).select(col("vec_id"))
          .collect().map(_.getLong(0))
        assert(ids.length === ids.distinct.length,
          s"double fold must not duplicate vec_id rows in $role")
      }
      assert(spark.table(f2("cells")).filter(col("vec_id") >= 1000000L)
        .count() === 2L,
        "both ingested vectors present exactly once after the second fold")
    } finally spark.sql("DROP DATABASE IF EXISTS pqing CASCADE")
  }
}
