package graft.streaming

import graft.operators.Similarity
import graft.stores.{DeltaStore, StoreManifest}
import graft.stores.StoreManifest.Prepared
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming incremental ANN indexing — the similarity twin of
  * [[ClusterIngest]]: every micro-batch of incoming embedding vectors
  * is assigned to its IVF cell against the persisted centroid table
  * ([[Similarity.writeIvfStore]]) and lands atomically per batch,
  * PARTITIONED BY CELL inside the batch directory — so a search over
  * the landing zone keeps partition pruning on `cell` across every
  * landed batch.
  *
  * Why this needs none of the dedup path's refresh machinery: IVF
  * assignment is ROW-LOCAL (each vector scores against the 16
  * broadcast centroids independently of every other vector), so the
  * incrementally-built index is bit-equal to a one-shot build by
  * construction (q154/q155 pin this under the oracle gate). The only
  * out-of-band maintenance is centroid RETRAINING as the corpus
  * drifts — [[Similarity.retrainIvfStore]] (warm-start Lloyd over
  * base ∪ landed, rolled forward by version, the
  * [[graft.operators.Dedup.refreshStores]] convention); q116's
  * centroid-drift report is the trigger metric and q161's cell-churn
  * report quantifies what a retrain would move.
  *
  * The stream carries NO state (offset-only checkpoint): restarts
  * resume instantly and centroid-store versions roll out without
  * touching the query. Input schema: (vec_id: Long,
  * embedding: Array[Float]) — the embeddings table's shape.
  */
object AnnIngest {

  val cellSchema: StructType = StructType.fromDDL(
    "vec_id BIGINT, v ARRAY<DOUBLE>, batch_id BIGINT, cell BIGINT")

  def start(vecs: DataFrame, centStore: DataFrame,
      cellDir: String, checkpoint: String): StreamingQuery = {
    // no batch is in flight yet for this landing zone — safe point to
    // drop orphaned .tmp/.old work dirs from earlier crashes
    AtomicLanding.sweepStale(vecs.sparkSession, cellDir)
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val withV = batch.select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        val assigned = Similarity.assignCells(withV, centStore)
          .join(withV, "vec_id")
          .select(col("vec_id"), col("cell"), col("v"))
        AtomicLanding.publish(assigned, cellDir, id, Seq("cell"))
      }
      .start()
  }

  val codeSchema: StructType = StructType.fromDDL(
    "vec_id BIGINT, pcode BIGINT, batch_id BIGINT, cell BIGINT")

  /** [[start]] plus the PQ sidecar (round 11): each micro-batch lands
    * BOTH the full-vector cell rows and the 48-bit packed-code rows
    * ([[Similarity.pqEncodePacked]] against the store's immutable
    * codebook), each cell-partitioned in its own landing zone — so
    * the ADC serving path ([[Similarity.adcSearch]]) covers ingested
    * vectors without waiting for a fold. PQ encoding is row-local
    * exactly like cell assignment, so incremental codes are bit-equal
    * to a one-shot encode by construction (PqServeSpec pins it).
    * Crash safety: both publishes key on the batch id and
    * [[AtomicLanding.publish]] is idempotent on replay, so a crash
    * between the two landings re-delivers the batch and converges —
    * the cells zone is published FIRST, so at any instant the code
    * zone is a subset of the cell zone (a candidate the codes miss is
    * a recall loss for one micro-batch, never a dangling fetch).
    */
  def startWithCodes(vecs: DataFrame, centStore: DataFrame,
      codebook: DataFrame, cellDir: String, codesDir: String,
      checkpoint: String): StreamingQuery = {
    AtomicLanding.sweepStale(vecs.sparkSession, cellDir)
    AtomicLanding.sweepStale(vecs.sparkSession, codesDir)
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val withV = batch.select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        // two consumers (cell landing + encode) — pin the assignment
        val assigned = Similarity.assignCells(withV, centStore)
          .join(withV, "vec_id")
          .select(col("vec_id"), col("cell"), col("v"))
          .localCheckpoint().transform(graft.Jobs.adaptiveRead(_))
        AtomicLanding.publish(assigned, cellDir, id, Seq("cell"))
        val codes = Similarity.pqEncodePacked(assigned, codebook)
          .join(assigned.select(col("vec_id"), col("cell")), "vec_id")
          .select(col("vec_id"), col("cell"), col("pcode"))
        AtomicLanding.publish(codes, codesDir, id, Seq("cell"))
      }
      .start()
  }

  /** Everything PQ-encoded so far (committed batches only), with
    * `cell`/`batch_id` as partition columns — the ingest-side twin of
    * the persisted code table.
    */
  def readCodes(spark: SparkSession, codesDir: String): DataFrame =
    spark.read.schema(codeSchema).parquet(codesDir)
      .select(col("vec_id"), col("cell"), col("pcode"), col("batch_id"))

  /** [[start]] with the centroid store resolved through the version
    * manifest (family `ivf`, role `centroids`) — same restart-to-
    * adopt contract as [[ClusterIngest.startFromManifest]].
    */
  def startFromManifest(vecs: DataFrame, manifest: String,
      cellDir: String, checkpoint: String): StreamingQuery = {
    val s = vecs.sparkSession
    val (_, cur) =
      StoreManifest.currentRequired(s, manifest, "ivf")
    start(vecs, s.table(cur("centroids")), cellDir, checkpoint)
  }

  /** [[search]] with both halves of the store pair resolved through
    * the version manifest (family `ivf`) — the serving-side twin of
    * [[startFromManifest]].
    */
  def searchFromManifest(spark: SparkSession, queries: DataFrame,
      manifest: String, cellDir: String,
      nprobe: Int = 2, k: Int = 1): DataFrame = {
    val (_, cur) =
      StoreManifest.currentRequired(spark, manifest, "ivf")
    search(spark, queries, spark.table(cur("centroids")),
      spark.table(cur("cells")), cellDir, nprobe, k,
      minBatchExclusive = foldWatermark(spark, cur))
  }

  /** The PQ serving path resolved through the manifest: ADC
    * candidates ranked from the packed-code table UNION the
    * ingest-landed code zones (both (vec_id, cell, pcode) — the
    * ranking never touches a vector), exact rerank fetching full
    * vectors from the cell table ∪ cell landing zone for the admitted
    * candidates only. Pass empty dirs to serve the base store alone.
    */
  def adcSearchFromManifest(spark: SparkSession, queries: DataFrame,
      manifest: String, cellDir: String = "", codesDir: String = "",
      nprobe: Int = 2, kAdc: Int = 6, k: Int = 1): DataFrame = {
    val (_, cur) =
      StoreManifest.currentRequired(spark, manifest, "ivf")
    // landing-zone batches at or below the version's fold watermark
    // are ALREADY in the published tables — serving them again would
    // double every duplicated code's contribution inside adcRank's
    // per-candidate sum (round-12 advice fix; the batch_id predicate
    // prunes zone PARTITIONS, so the filter is directory-level free)
    val wm = foldWatermark(spark, cur)
    val baseCodes = spark.table(cur("codes"))
      .select(col("vec_id"), col("cell"), col("pcode"))
    val codes = if (codesDir.isEmpty) baseCodes
      else baseCodes.union(readCodes(spark, codesDir)
        .filter(col("batch_id") > wm)
        .select(col("vec_id"), col("cell"), col("pcode")))
    val baseVecs = spark.table(cur("cells")).select(col("vec_id"), col("v"))
    val vecs = if (cellDir.isEmpty) baseVecs
      else baseVecs.union(
        readCells(spark, cellDir).filter(col("batch_id") > wm)
          .select(col("vec_id"), col("v")))
    Similarity.adcSearch(queries, spark.table(cur("centroids")),
      spark.table(cur("codebook")), codes, vecs, nprobe, kAdc, k)
  }

  /** Everything ingested so far (committed batches only), with `cell`
    * and `batch_id` as partition columns — `cell` filters prune at
    * the directory level.
    */
  def readCells(spark: SparkSession, cellDir: String): DataFrame =
    spark.read.schema(cellSchema).parquet(cellDir)
      .select(col("vec_id"), col("cell"), col("v"), col("batch_id"))

  /** Fold the landing zone into the base cell store — the ANN analog
    * of [[graft.operators.Dedup.refreshStores]], made trivial by
    * row-locality: assignments never change, so the fold is a pure
    * re-layout (base ∪ ingested rewritten as one file set per cell)
    * that resets the per-cell file count after many landed batches.
    * Rolls forward to `newCellTable` (the store-pair convention);
    * swap readers, then clear the landing zone and restart the
    * ingest with a fresh outDir. Centroids are untouched — a fold is
    * NOT a retrain (that is [[Similarity.retrainIvfStore]], triggered
    * by q116's drift report).
    *
    * `saltBuckets` spreads a hot cell's rewrite over that many tasks
    * (same knob and reason as writeIvfStore's — a fold runs precisely
    * when the hot cell is at its largest).
    */
  def fold(spark: SparkSession, baseCellTable: String, cellDir: String,
      newCellTable: String, saltBuckets: Int = 1,
      maxBatch: Long = Long.MaxValue,
      minBatchExclusive: Long = -1L): Unit = {
    require(DeltaStore.canon(spark, newCellTable) != DeltaStore.canon(spark, baseCellTable),
      "the folded cell store rolls forward to a NEW table")
    // `maxBatch` pins the fold to a zone snapshot taken BEFORE this
    // read: a batch landing mid-fold stays in the zone for the next
    // fold instead of being folded ABOVE the recorded watermark and
    // then served twice (the manifest fold passes its watermark here).
    // `minBatchExclusive` is the LOWER bound — the PREVIOUS version's
    // fold watermark: zone batches at or below it are already in
    // `baseCellTable` (the wm role legitimizes leaving folded batches
    // in the zone until the ingest restarts with a fresh dir), so a
    // second fold without the bound would union them in AGAIN,
    // permanently duplicating vec_id rows in the published cells and
    // the re-derived code sidecar (round-13 advice fix; both bounds
    // prune zone PARTITIONS — batch_id is a partition column).
    spark.table(baseCellTable).select(col("vec_id"), col("cell"), col("v"))
      .union(readCells(spark, cellDir)
        .filter(col("batch_id") > minBatchExclusive &&
          col("batch_id") <= maxBatch)
        .select(col("vec_id"), col("cell"), col("v")))
      .repartition(col("cell"),
        pmod(col("vec_id"), lit(saltBuckets.toLong)))
      .write.mode("overwrite").format("parquet")
      .partitionBy("cell").saveAsTable(newCellTable)
  }

  /** The roles of the manifest family `ivf`: trained centroids, the
    * full-vector cell table (the rerank fetch side), the PQ sidecar —
    * a 48-bit packed-code table partitioned by cell (the
    * ~16-bytes/vector ADC ranking side, [[Similarity.writePqSidecar]])
    * plus its 128-row codebook — and the fold watermark.
    */
  val ivfRoles: Seq[String] =
    Seq("centroids", "cells", "codes", "codebook", "wm")

  /** The fold watermark role: a ONE-ROW table recording the highest
    * landing-zone batch_id whose vectors this version's cell/code
    * tables already contain. Serving unions the published store with
    * the live landing zone; without the watermark, batches folded by
    * [[foldIvfCells]] but not yet cleared from the zone would be
    * served TWICE — harmless-ish for exact search (a repeated
    * candidate row) but corrupting for ADC ranking, where
    * adcRank's per-candidate sum would add each code's distance
    * twice (round-12 advice fix). A watermark row costs one
    * metadata-sized read at serve time; the alternative — vec_id
    * dedup on the union — is a shuffle of the ranking side per
    * query batch, which the billion-vector shape can't afford. A base
    * build writes -1 (no landing batch folded).
    */
  private[graft] def writeWm(s: SparkSession, table: String,
      wm: Long): Unit = {
    import s.implicits._
    Seq(wm).toDF("wm").write.mode("overwrite")
      .format("parquet").saveAsTable(table)
  }

  /** The version's fold watermark; -1 (serve every landing batch) for
    * versions published before the role existed.
    */
  def foldWatermark(s: SparkSession, cur: Map[String, String]): Long =
    cur.get("wm").map(t => s.table(t).head().getLong(0)).getOrElse(-1L)

  /** [[Similarity.retrainIvfStore]] as the next `ivf` version; returns
    * the cell-churn report (q161's shape) alongside it. The PQ sidecar
    * is re-derived from the reassigned cell table (codes themselves
    * are codebook-local and unchanged; their CELL moved), with the
    * codebook carried forward — retraining the coarse quantizer never
    * re-trains the product quantizer. The fold watermark carries over.
    */
  def retrainIvf(s: SparkSession, manifest: String,
      extraCells: DataFrame): (Prepared, DataFrame) = {
    var churn: DataFrame = null
    val p = StoreManifest.roll(s, manifest, "ivf", ivfRoles,
        carry = Set("codebook")) { (live, next) =>
      churn = Similarity.retrainIvfStore(s, live("centroids"),
        live("cells"), extraCells, next("centroids"), next("cells"))
      Similarity.writePqSidecar(s, next("cells"), next("codebook"),
        next("codes"))
      writeWm(s, next("wm"), foldWatermark(s, live))
    }
    (p, churn)
  }

  /** [[fold]] as the next `ivf` version: cells roll forward with the
    * landed batches folded in, centroids carry over (a fold is not a
    * retrain), and the PQ code table is re-derived from the folded
    * cell table so the sidecar always covers exactly the vectors the
    * cell store serves.
    */
  def foldIvfCells(s: SparkSession, manifest: String,
      cellDir: String): Prepared =
    StoreManifest.roll(s, manifest, "ivf", ivfRoles,
        carry = Set("centroids", "codebook")) { (live, next) =>
      // capture the watermark from the SAME zone state the fold reads:
      // batches landing after this read carry higher ids and stay
      // served from the zone until the next fold. The PREVIOUS
      // version's watermark is the fold's LOWER bound — zone batches
      // at or below it are already in live("cells") (the wm role lets
      // them stay in the zone), and re-folding them would duplicate
      // their vec_id rows in the published store forever (round-13
      // advice fix; a back-to-back double fold is pinned
      // duplicate-free in PqServeSpec).
      val prevWm = foldWatermark(s, live)
      val wm = readCells(s, cellDir)
        .agg(coalesce(max(col("batch_id")), lit(-1L))).head().getLong(0)
      fold(s, live("cells"), cellDir, next("cells"), maxBatch = wm,
        minBatchExclusive = prevWm)
      Similarity.writePqSidecar(s, next("cells"), next("codebook"),
        next("codes"))
      writeWm(s, next("wm"), math.max(wm, prevWm))
    }

  /** Top-k search over base store ∪ ingested vectors. NOTE on
    * pruning: the DPP pin (AnnIngestSpec) covers the single-scan
    * plan; Spark's partition-pruning rule is not guaranteed to push
    * a dynamic filter into BOTH scans below a Union, so a deployment
    * that needs strict pruning on both sides should run
    * [[Similarity.annSearch]] per side and merge the per-side top-k
    * (exact, since the union's candidate set is the union of the
    * sides' candidate sets) — here the landing zone is ingest-sized,
    * so scanning it unpruned is the cheaper and simpler plan.
    */
  def search(spark: SparkSession, queries: DataFrame, centStore: DataFrame,
      baseCells: DataFrame, cellDir: String,
      nprobe: Int = 2, k: Int = 1,
      minBatchExclusive: Long = -1L): DataFrame = {
    // zone batches ≤ minBatchExclusive are already folded into
    // baseCells; serving them again duplicates candidate rows (and a
    // duplicated top-k entry when both copies rank)
    val ingested = readCells(spark, cellDir)
      .filter(col("batch_id") > minBatchExclusive)
      .select(col("vec_id"), col("cell"), col("v"))
    Similarity.annSearch(queries, centStore,
      baseCells.select(col("vec_id"), col("cell"), col("v")).union(ingested),
      nprobe, k)
  }
}
