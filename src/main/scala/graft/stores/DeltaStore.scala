package graft.stores

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE delta-store core (round-12 verdict item): write /
  * refresh-with-replay-guard / sum-or-set-on-read / watermark-carrying
  * roll-forward compaction, extracted from the four families that had
  * each reimplemented it by hand — gram (Dedup), vocab (Bpe), df
  * (TextOps), keyframe (Multimodal). The round-11 staleness fix
  * (`uncache` around every guard read) had to be threaded into each
  * family separately; with the contract in one place, the next such
  * bug is fixed once.
  *
  * The contract, shared verbatim by every family:
  *
  *  - A store is a BUCKETED parquet table keyed on `keyCols` (the
  *    consumers' join/aggregation key, so corpus-sized sides never
  *    re-shuffle), every row stamped with its installment `batch_id`
  *    (0 = base build, installments ≥ 1).
  *  - [[refresh]] enforces the REPLAY GUARD at the store boundary
  *    (the round-10 three-way contract): a recorded id is a genuine
  *    replay → refused no-op returning false (a crash-redelivered
  *    micro-batch can never double-count); a NOVEL id at or below the
  *    watermark (streaming checkpoint reset restarting ids at 0)
  *    THROWS — silently refusing it would under-count; anything else
  *    folds and returns true. Guard reads run through
  *    `catalog.refreshTable` first — the append may have landed via a
  *    foreachBatch-cloned session this session's relation cache
  *    cannot see (the DfIngest staleness bug, round 11).
  *  - Installments are recorded in a WATERMARK SIDECAR (`<table>_wm`
  *    — since round 16 a directory of empty marker files named by
  *    batch id, zero Spark jobs to write or read) as well as on the
  *    appended rows (round-13 advice fix): an installment whose delta
  *    is EMPTY appends zero key rows, so without the sidecar its
  *    batch_id never entered the watermark set and the replay guard
  *    could not recognize it later — the wet family had to hand-roll
  *    an empty-host sentinel row, and every future family with
  *    possibly-empty deltas (an all-duplicate batch through a
  *    novel-only fold) re-inherited the gap. The guard reads the
  *    UNION of key-table ids and the sidecar listing; the key append
  *    stays the commit point (the marker lands after it — a crash
  *    between the two leaves a non-empty installment recorded by its
  *    rows, an empty one unrecorded and its replay a convergent
  *    zero-row no-op).
  *  - Readers are views over the raw installments: SUM-on-read for
  *    delta-valued stores (disjoint installments make the union value
  *    the sum of per-installment values), a plain projection for
  *    set-valued stores (the guard keeps installments disjoint).
  *  - [[compact]] collapses K installments into the read view ROLLED
  *    FORWARD to a NEW table (overwriting a table mid-read is
  *    undefined), shuffle-free via the forced bucketed scan, with the
  *    replay watermark (max batch_id) carried onto every row so a
  *    pre-compaction batch replayed afterwards still lands in the
  *    guard's loud-fail branch — conservative by design.
  *
  * Scale shape: guard reads are column-pruned scans of one BIGINT
  * column (distinct ids are installment-count sized); appends are
  * delta-sized bucketed writes — nothing corpus-sized moves; the
  * driver-side id collect is O(installments), the same class as the
  * manifest reads.
  *
  * SMALL-FILES TRADE (declared): every [[refresh]] appends one file
  * set per bucket to the key table AND one empty marker file to the
  * sidecar directory, so between compactions both accrue
  * O(installments) files — the cost of per-batch atomic appends
  * without a transactional table format. The guard read stays one
  * job regardless (the key scan lists, it does not open, each file;
  * the sidecar is a single directory listing) but file-listing
  * latency and NameNode/object-store metadata pressure grow
  * linearly, so COMPACTION CADENCE is part of the contract: roll the
  * store ([[compact]]) roughly every few hundred installments — at a
  * typical micro-batch cadence that is hours, not minutes — or
  * whenever guard-read latency becomes visible in batch durations.
  * One compaction restores one file per bucket plus a 1-marker
  * sidecar (StoreCompactionSpec pins the post-roll file counts); at
  * 100 TB this slots behind a transactional format whose manifest
  * replaces the file listing entirely.
  */
object DeltaStore {

  /** A table name resolved to (database, table), lower-cased, so that
    * "db.t" and "t" under current database db (or a case variant) are
    * one table: the roll-forward steps compare the table they read
    * with the one they write.
    */
  private[graft] def canon(s: SparkSession, t: String): (String, String) = {
    val id = s.sessionState.sqlParser.parseTableIdentifier(t)
    (id.database.getOrElse(s.catalog.currentDatabase).toLowerCase,
      id.table.toLowerCase)
  }

  /** Drop each table and delete its warehouse directory: a killed
    * earlier run can leave the directory without its catalog entry,
    * and CREATE then fails with LOCATION_ALREADY_EXISTS. A caller
    * whose store has a sidecar passes [[wmTable]] of it too.
    */
  private[graft] def sweep(s: SparkSession, tables: Seq[String]): Unit =
    tables.foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), t)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
    }

  /** Bust this session's cached relation: when the previous fold's
    * append ran through ANOTHER session (the foreachBatch-clone
    * shape), a stale file listing under-reads the watermark — a
    * correctness bug (re-folding a recorded batch), not a perf one.
    */
  def uncache(s: SparkSession, names: String*): Unit =
    names.foreach(n => if (s.catalog.tableExists(n)) s.catalog.refreshTable(n))

  /** The table's bucket count, or the session shuffle parallelism for
    * a caller-chosen build width.
    */
  private def bucketsOf(s: SparkSession, table: String): Int =
    s.sessionState.catalog
      .getTableMetadata(s.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(s.conf.get("spark.sql.shuffle.partitions").toInt)

  /** The store's watermark-sidecar name. Public (package) so manifest
    * maintenance can treat a referenced store's sidecar as part of
    * the store (fsck non-orphan, vacuum co-drop). Since round 16 the
    * sidecar is a MARKER-FILE DIRECTORY at this name's warehouse
    * path, not a catalog table (see [[recordWm]]); the name is kept
    * for the vacuum/sweep idioms that address it.
    */
  private[graft] def wmTable(table: String): String = table + "_wm"

  /** The sidecar's physical directory — the same warehouse path the
    * pre-round-16 sidecar TABLE occupied, so every existing sweep
    * idiom (delete warehouse/<t>_wm) keeps working unchanged.
    */
  private def wmPath(s: SparkSession,
      table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      s.sessionState.catalog.defaultTablePath(
        s.sessionState.sqlParser.parseTableIdentifier(wmTable(table))))

  /** Record one installment id in the sidecar. Round-16 shape: the
    * sidecar is a directory of EMPTY MARKER FILES named by batch id —
    * recording an installment is one atomic file create and reading
    * the recorded set is one directory listing, so the sidecar costs
    * ZERO Spark jobs on both sides. The pre-round-16 sidecar was a
    * 1-row parquet table per append: one scheduled job plus a parquet
    * commit protocol per fold, pure planning latency at the ingest
    * seams (the wet near seam folds four stores per micro-batch), and
    * one more scan unioned into every replay-guard read. Crash
    * semantics are unchanged — the marker lands AFTER the key-table
    * append (the commit point), file creation is atomic, and a crash
    * between the two leaves a non-empty installment recorded by its
    * rows, an empty one unrecorded and its replay a convergent
    * zero-row no-op.
    */
  private def recordWm(s: SparkSession, table: String, batchId: Long,
      mode: String): Unit = {
    val dir = wmPath(s, table)
    val fs = dir.getFileSystem(s.sessionState.newHadoopConf())
    if (mode == "overwrite") {
      // a roll/base-build resets the watermark set deliberately —
      // the legacy table's ids (if any) are retired with the set,
      // not migrated
      fs.delete(dir, true)
      if (s.catalog.tableExists(wmTable(table)))
        s.sql(s"DROP TABLE IF EXISTS ${wmTable(table)}")
    } else migrateLegacyWm(s, table)
    fs.mkdirs(dir)
    fs.create(new org.apache.hadoop.fs.Path(dir, batchId.toString),
      true).close()
  }

  /** One-time migration of a pre-round-16 sidecar TABLE (a managed
    * parquet table, one `batch_id` BIGINT row per installment) into
    * the marker-file directory. The legacy table occupies the SAME
    * warehouse path the marker directory uses, and DROP TABLE on a
    * managed table deletes that path — so its ids must be read out
    * BEFORE the drop and re-created as markers after. Without this,
    * an EMPTY installment recorded only in the legacy table (empty
    * deltas leave no key rows) would vanish from the replay guard on
    * upgrade: its replay would be re-admitted (re-running
    * beforeCommit side effects) and then trip the non-monotone
    * `require` loudly instead of refusing with the designed
    * convergent `false`. Costs one metadata-sized Spark job, once
    * per upgraded store; fresh and already-migrated stores skip on
    * the catalog lookup.
    */
  private def migrateLegacyWm(s: SparkSession, table: String): Unit =
    if (s.catalog.tableExists(wmTable(table))) {
      val ids = s.table(wmTable(table)).select(col("batch_id"))
        .collect().map(_.getLong(0)).distinct
      s.sql(s"DROP TABLE IF EXISTS ${wmTable(table)}")
      val dir = wmPath(s, table)
      val fs = dir.getFileSystem(s.sessionState.newHadoopConf())
      fs.mkdirs(dir)
      ids.foreach(id =>
        fs.create(new org.apache.hadoop.fs.Path(dir, id.toString),
          true).close())
    }

  /** Drop a store's sidecar with the store (vacuum / sweep): the
    * marker directory, plus any legacy catalog entry from the
    * pre-round-16 parquet-table shape.
    */
  private[graft] def dropWm(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS ${wmTable(table)}")
    val dir = wmPath(s, table)
    dir.getFileSystem(s.sessionState.newHadoopConf()).delete(dir, true)
  }

  /** Every installment id the sidecar has recorded (empty for
    * pre-sidecar stores) — one directory listing, zero Spark jobs
    * (except the one-time [[migrateLegacyWm]] job on first read of a
    * store upgraded from the pre-round-16 table shape).
    */
  private def wmIds(s: SparkSession, table: String): Array[Long] = {
    migrateLegacyWm(s, table)
    val dir = wmPath(s, table)
    val fs = dir.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(dir)) Array.empty[Long]
    else fs.listStatus(dir).flatMap(st =>
      scala.util.Try(st.getPath.getName.toLong).toOption)
  }

  /** All recorded installment ids: key-table rows (ONE column-pruned
    * Spark job — the guard runs per micro-batch on every ingest
    * pipeline; delegated to [[recordedIdsMulti]], whose
    * partition-local dedupe keeps it one job where a
    * `distinct().collect()` is two under AQE) ∪ the sidecar's marker
    * listing (no job).
    */
  private def recordedIds(s: SparkSession,
      table: String): Array[Long] =
    recordedIdsMulti(s, Seq(table))(table)

  /** Recorded installment ids for SEVERAL stores in ONE
    * driver-blocking job (round-15; the near seam's fold family runs
    * four [[refresh]]es per micro-batch and each guard read was its
    * own job — ~0.3–0.4 s/batch of pure scheduling at the WET seam).
    * One tagged union over every key table and sidecar, distinct,
    * one collect; callers hand each store its slice via `refresh`'s
    * `recorded` parameter. The reads are the same column-pruned
    * BIGINT scans the per-store guard does — fusing changes job
    * count, not bytes. Caches are dropped here so the slices see
    * exactly what the per-store read would.
    */
  private[graft] def recordedIdsMulti(s: SparkSession,
      tables: Seq[String]): Map[String, Array[Long]] = {
    tables.foreach(t => uncache(s, t))
    // sidecars contribute via their marker listings (no Spark job,
    // no cache to bust — a directory listing is always fresh); only
    // the key tables enter the fused scan
    val sidecar = tables.map(t => t -> wmIds(s, t)).toMap
    val frames = tables.map(t =>
      s.table(t).select(lit(t).as("t"), col("batch_id")))
    // partition-local dedupe + driver merge instead of distinct():
    // a DataFrame distinct().collect() is TWO jobs under AQE (one per
    // materialized stage), which would hand back half the fusion —
    // the RDD collect is always one. Driver volume is bounded by
    // (stores × installments) per partition, the same metadata scale
    // as the per-store guard.
    import s.implicits._
    val found: Set[(String, Long)] = graft.Jobs.labeled(s,
      s"store: guard read ${tables.mkString(",")}") {
      frames.reduce(_ union _)
        .select(col("t"), col("batch_id")).as[(String, Long)]
        .mapPartitions(it => it.toSet.iterator)
        .collect().toSet
    }
    val byTable = found.groupBy(_._1)
    tables.map(t => t ->
      (byTable.getOrElse(t, Set.empty[(String, Long)]).map(_._2)
        ++ sidecar(t)).toArray).toMap
  }

  private def bucketedWrite(df: DataFrame, table: String, mode: String,
      keyCols: Seq[String], buckets: Int): Unit =
    graft.Jobs.labeled(df.sparkSession, s"store: $mode $table") {
      df.repartition(buckets, keyCols.map(col): _*)
        .write.mode(mode)
        .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
        .sortBy(keyCols.head, keyCols.tail: _*)
        .format("parquet").saveAsTable(table)
    }

  /** Base store build: `delta` (already derived — one corpus pass,
    * ever) written as installment 0.
    */
  def write(s: SparkSession, delta: DataFrame, table: String,
      keyCols: Seq[String], buckets: Int = -1): Unit = {
    val b =
      if (buckets > 0) buckets
      else s.conf.get("spark.sql.shuffle.partitions").toInt
    bucketedWrite(delta.withColumn("batch_id", lit(0L)), table,
      "overwrite", keyCols, b)
    recordWm(s, table, 0L, "overwrite")
  }

  /** Fold one installment under the replay contract. `delta` is
    * by-name: a refused replay never derives the batch frame.
    * `beforeCommit` runs after the guard admits the fold but before
    * the key-table append — the df store lands its stats sidecar
    * there, so a crash between the two appends retries into a
    * converging no-double-count (the key append is the commit point).
    */
  def refresh(s: SparkSession, delta: => DataFrame, table: String,
      keyCols: Seq[String], batchId: Long,
      beforeCommit: () => Unit = () => (),
      recorded: Option[Array[Long]] = None): Boolean = {
    require(batchId > 0L,
      "installment batch ids start at 1 (0 marks the base store build)")
    uncache(s, table)
    val t = s.table(table)
    require(t.columns.contains("batch_id"),
      s"$table has no batch_id column — rebuild it via the store's " +
        "write entry; the replay guard needs the per-installment watermark")
    // union of row-carried ids and sidecar ids: an EMPTY installment
    // is recorded only by its sidecar row. `recorded` is a caller-
    // supplied pre-read ([[recordedIdsMulti]] — one guard job for a
    // fold family); it must have been taken under this fold's batch
    // id regime, i.e. between the family's previous fold and this one
    val rec = recorded.getOrElse(recordedIds(s, table))
    val watermark = if (rec.isEmpty) -1L else rec.max
    if (rec.contains(batchId)) return false // replayed installment
    require(batchId > watermark,
      s"batch id $batchId is below the store watermark $watermark but " +
        s"was never folded into $table — a non-monotone novel id " +
        "(checkpoint reset?); re-base the epoch past the watermark " +
        "instead of silently dropping the installment")
    beforeCommit()
    bucketedWrite(delta.withColumn("batch_id", lit(batchId)), table,
      "append", keyCols, bucketsOf(s, table))
    // record the installment even when the delta was EMPTY (zero key
    // rows) — AFTER the key append so the key append stays the commit
    // point for non-empty deltas
    recordWm(s, table, batchId, "append")
    // the append may have run through the batch's (cloned) session —
    // make it visible to this one
    uncache(s, table)
    true
  }

  /** Sum-on-read view — exact after any number of appends. Grouping
    * on the bucket columns lets the scan's hash partitioning satisfy
    * the aggregate's distribution: bucket-local arithmetic, no
    * exchange (SpanIngestSpec pins the plan).
    */
  def readSum(s: SparkSession, table: String, keyCols: Seq[String],
      sumCols: Seq[String]): DataFrame =
    s.table(table).groupBy(keyCols.map(col): _*)
      .agg(sum(col(sumCols.head)).as(sumCols.head),
        sumCols.tail.map(c => sum(col(c)).as(c)): _*)

  /** Collapse K installments into `view` rolled forward to
    * `newTable`, one file per bucket, the replay watermark carried
    * onto every row via a 1-row broadcast (a scalar cross that keeps
    * the bucket partitioning). Shuffle-free: the forced bucketed scan
    * already clusters each key in one task. `extra` runs inside the
    * same forced-bucketed-scan scope with the watermark frame — the
    * df store compacts its stats sidecar there.
    */
  def compact(s: SparkSession, table: String, newTable: String,
      view: DataFrame, keyCols: Seq[String],
      extra: DataFrame => Unit = _ => ()): Unit = {
    require(canon(s, newTable) != canon(s, table),
      "delta-store compaction rolls forward to a NEW table")
    val spec = s.sessionState.catalog
      .getTableMetadata(s.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"$table is not bucketed — compaction targets the bucketed stores"))
    val autoBucketedScan =
      "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = s.conf.get(autoBucketedScan, "true")
    s.conf.set(autoBucketedScan, "false")
    try {
      // watermark = max recorded id across row-carried ids AND the
      // sidecar — an empty most-recent installment exists only in the
      // sidecar, and losing it would re-admit its replay post-roll
      val sidecarWm =
        (wmIds(s, table) :+ 0L).max
      val wm =
        if (s.table(table).columns.contains("batch_id"))
          s.table(table)
            .agg(greatest(coalesce(max(col("batch_id")), lit(0L)),
              lit(sidecarWm)).as("batch_id"))
        else s.range(0, 1, 1, 1).select(lit(sidecarWm).as("batch_id"))
      view.crossJoin(broadcast(wm))
        .write.mode("overwrite")
        .bucketBy(spec.numBuckets, keyCols.head, keyCols.tail: _*)
        .sortBy(keyCols.head, keyCols.tail: _*)
        .format("parquet").saveAsTable(newTable)
      // the rolled store's sidecar: one row, the carried watermark
      // (all pre-roll ids collapse to ≤ wm — the guard's loud-fail
      // branch keeps refusing them, conservative as before)
      recordWm(s, newTable, wm.head().getLong(0), "overwrite")
      extra(wm)
    } finally s.conf.set(autoBucketedScan, prev)
  }
}
