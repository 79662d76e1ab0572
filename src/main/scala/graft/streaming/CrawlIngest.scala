package graft.streaming

import graft.operators.Multimodal
import graft.stores.{DeltaStore, StoreManifest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming crawl ingest — the q195/q196 chain deployed (the 10th
  * pipeline): every micro-batch of compressed multi-member crawl
  * files is RE-FRAMED at ingest ([[Multimodal.frameCrawl]] — one
  * document per gzip member, partition-parallel across files), each
  * recovered record scored (q32 quality arithmetic) and
  * fingerprinted, checked for EXACT duplication against a maintained
  * fingerprint store, and landed one row per record.
  *
  * The fingerprint store is the FIRST new family built directly on
  * [[DeltaStore]] (the round-12 extraction): fp-keyed, set-valued —
  * about 30 lines of glue where the gram/vocab/df/keyframe families
  * each hand-rolled the contract. Same fold-mode discipline as
  * MediaIngest: the batch scores against the PRE-fold store
  * (installments strictly below its own — a record must not match
  * its own batch's fingerprints, including on crash replay where the
  * refused fold means those rows are already present), then folds its
  * fingerprints in. Within-batch duplicates are flagged separately
  * (`dup_in_batch`) by the same canonical-copy rule as q196, so the
  * two signals compose into the keep/drop verdict downstream
  * curation applies.
  *
  * Shared ingest contracts: offsets-only checkpoint, atomic per-batch
  * landing, replay-guarded folds, crash convergence (a replayed batch
  * re-scores against the same pre-fold snapshot bit-for-bit).
  *
  * At 100 TB: framing is embarrassingly parallel across files (one
  * file never crosses a partition; per-file member chains are
  * physically sequential); the store probe is an equi-join on the
  * 16-byte fingerprint against an fp-bucketed table — the batch side
  * routes to the buckets, the corpus-sized store never re-shuffles.
  *
  * Input schema: (file_id: Long, payload: Array[Byte]).
  */
object CrawlIngest {

  val statsSchema: StructType = StructType.fromDDL(
    "file_id BIGINT, rec_idx BIGINT, n_bytes BIGINT, fp STRING, " +
      "quality DOUBLE, dup_of_store BOOLEAN, dup_in_batch BOOLEAN, " +
      "batch_id BIGINT")

  /** Base fingerprint-store build from a (file_id, payload) crawl
    * corpus — one framing pass; (fp) rows, fp-bucketed.
    */
  def writeFpStore(s: SparkSession, files: DataFrame, table: String,
      buckets: Int = -1): Unit =
    DeltaStore.write(s,
      score(s, files).select(col("fp")).distinct(),
      table, Seq("fp"), buckets)

  /** One batch's framing + scoring: (file_id, rec_idx, n_bytes, fp,
    * quality, dup_in_batch) — `dup_in_batch` marks every non-
    * canonical copy within the batch (q196's deterministic
    * lexicographic-first keeper rule).
    */
  private[graft] def score(s: SparkSession, files: DataFrame): DataFrame = {
    // same narrow-micro-batch hazard as the media seam: a 1-partition
    // batch of files would decode serially on one core; the slim
    // scored projection is pinned — the canonical-copy agg and its
    // join-back below would each re-run the decode otherwise
    val recs = Multimodal.frameCrawl(s,
      Multimodal.spreadClips(files.toDF("file_id", "payload")))
      .withColumn("text", col("raw").cast("string"))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")))
      .withColumn("nd", size(array_distinct(col("toks"))))
      .select(col("file_id"), col("rec_idx"),
        length(col("raw")).cast("long").as("n_bytes"),
        md5(col("raw")).as("fp"),
        round(least(lit(1.0), col("n") / 100.0)
          * (col("nd") / col("n")), 4).as("quality"))
      .localCheckpoint(true)
    val recsR = graft.Jobs.adaptiveRead(recs)
    val groups = recsR.groupBy(col("fp"))
      .agg(min(struct(col("file_id"), col("rec_idx"))).as("canon"))
    recsR.join(groups, "fp")
      .select(col("file_id"), col("rec_idx"), col("n_bytes"), col("fp"),
        col("quality"),
        (col("canon.file_id") =!= col("file_id") ||
          col("canon.rec_idx") =!= col("rec_idx")).as("dup_in_batch"))
  }

  /** Maintain + score: frame the batch, flag records whose
    * fingerprint the PRE-fold store already holds, land the verdicts,
    * fold the batch's fingerprints in (replay-guarded — the DfIngest
    * fold-mode contract).
    */
  def startWithFold(files: DataFrame, fpTable: String,
      outDir: String, checkpoint: String,
      epochBase: Long = 0L): StreamingQuery = {
    val s = files.sparkSession
    AtomicLanding.sweepStale(s, outDir)
    files.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val inst = epochBase + id + 1L
        val scored = score(s, batch) // pinned inside score
        // pre-fold snapshot: installments strictly below this one
        val store = s.table(fpTable).filter(col("batch_id") < inst)
          .select(col("fp")).withColumn("seen", lit(true))
        // flags pinned: the fold below derives its novel-fp delta
        // from dup_of_store (same pre-fold snapshot — the anti-join
        // would re-scan the corpus-sized store for the same answer),
        // and without the pin the store probe would re-run for it
        val flagged = graft.Jobs.adaptiveRead(
          scored.join(store, Seq("fp"), "left")
            .select(col("file_id"), col("rec_idx"), col("n_bytes"),
              col("fp"), col("quality"),
              coalesce(col("seen"), lit(false)).as("dup_of_store"),
              col("dup_in_batch"))
            .localCheckpoint())
        AtomicLanding.publish(flagged, outDir, id)
        DeltaStore.refresh(s,
          flagged.filter(!col("dup_of_store")).select(col("fp")).distinct(),
          fpTable, Seq("fp"), inst)
        () // a refused fold (false) is the crash-replay no-op
      }
      .start()
  }

  /** Fold a distinct-fp frame under the replay contract, appending
    * only NOVEL fingerprints: unlike the keyframe family, where
    * installments are content-disjoint by construction, a crawl
    * re-delivers content — without the anti-join a re-crawled fp
    * would land once per installment, and the serving probe's
    * equi-join would then MULTIPLY matched records. The anti-join
    * routes the batch side to the store's fp buckets; the store side
    * never re-shuffles.
    */
  private[graft] def foldFps(s: SparkSession, fps: DataFrame, table: String,
      batchId: Long, recorded: Option[Array[Long]] = None): Boolean =
    DeltaStore.refresh(s,
      fps.join(s.table(table).filter(col("batch_id") < batchId)
        .select(col("fp")), Seq("fp"), "left_anti"),
      table, Seq("fp"), batchId, recorded = recorded)

  /** Batch-side fold of a crawl-file frame's fingerprints — the
    * out-of-band maintenance entry (the soak spec's path; the
    * streaming fold shares [[foldFps]]).
    */
  def refreshFpStore(s: SparkSession, files: DataFrame, table: String,
      batchId: Long): Boolean =
    foldFps(s, score(s, files).select(col("fp")).distinct(), table, batchId)

  // ---- WET mode: URL-aware ingest + host-budget admission -------------
  //
  // The q198–q201 surface deployed: members carry a WET-style URI
  // header, so each record lands with its url/host, is exact-dup
  // flagged on its BODY fingerprint, and passes a per-host ADMISSION
  // BUDGET enforced incrementally from a maintained host-counts store
  // (family `hoststats`, SUM semantics on DeltaStore). Streaming
  // admission is FIRST-B-SEEN in delivery order — a stream cannot
  // pick the best B by quality the way q199's batch cap does; the
  // closed form (per-host rank over (batch, file_id, rec_idx) ≤ B) is
  // what q202 pins against the store path. The store holds ADMITTED
  // counts, so it saturates at B per host and stays metadata-sized
  // regardless of crawl volume.

  val wetSchema: StructType = StructType.fromDDL(
    "file_id BIGINT, rec_idx BIGINT, url STRING, host STRING, " +
      "fp STRING, quality DOUBLE, allowed BOOLEAN, " +
      "dup_of_store BOOLEAN, dup_in_batch BOOLEAN, admitted BOOLEAN, " +
      "clf_score BIGINT, clf_keep BOOLEAN, batch_id BIGINT")

  /** [[wetSchema]] plus the near-dup columns (`near` mode): the
    * record's near-dup cluster id, the store-match flag, and the
    * batch's LSH band signatures (landed so [[foldWet]] can append
    * the band store without re-decoding the batch).
    */
  val wetNearSchema: StructType = StructType.fromDDL(
    "file_id BIGINT, rec_idx BIGINT, url STRING, host STRING, " +
      "fp STRING, quality DOUBLE, allowed BOOLEAN, " +
      "dup_of_store BOOLEAN, dup_in_batch BOOLEAN, admitted BOOLEAN, " +
      "clf_score BIGINT, clf_keep BOOLEAN, " +
      "near_comp BIGINT, near_dup_of_store BOOLEAN, " +
      "bands ARRAY<STRUCT<band: INT, h1: BIGINT, h2: BIGINT>>, " +
      "batch_id BIGINT")

  /** The near-dup record key: (file_id, rec_idx) linearized into the
    * one BIGINT id the LSH band/component machinery keys on. The
    * encoding bound is ENFORCED row-locally (never silently wrong):
    * a crawl frame outside it loud-fails the batch.
    */
  private def nearCk: org.apache.spark.sql.Column =
    when(col("rec_idx").between(0L, 999999L) &&
        col("file_id").between(0L, 9000000000000L),
      col("file_id") * 1000000L + col("rec_idx"))
      .otherwise(raise_error(concat(
        lit("near-dup ck encoding bound violated: (file_id, rec_idx) = ("),
        col("file_id").cast("string"), lit(", "),
        col("rec_idx").cast("string"), lit(")"))))

  /** Empty LSH band + component stores for the near-dup seam (family
    * pair maintained by [[foldWet]]'s near mode): the band store is
    * bucketed on the FULL (band, h1, h2) collision key and the
    * component store on doc_id — the batch side of every serving join
    * routes to the store's buckets, the store side never re-shuffles
    * (the [[graft.operators.Dedup.writeBandStore]] layout, here under
    * the DeltaStore replay contract).
    */
  def writeNearStoresEmpty(s: SparkSession, bandTable: String,
      compTable: String, buckets: Int = -1): Unit = {
    DeltaStore.write(s,
      s.range(0, 0, 1, 1).select(col("id").cast("int").as("band"),
        col("id").as("h1"), col("id").as("h2"), col("id").as("doc_id")),
      bandTable, Seq("band", "h1", "h2"), buckets)
    DeltaStore.write(s,
      s.range(0, 0, 1, 1).select(col("id").as("doc_id"), col("id").as("comp")),
      compTable, Seq("doc_id"), buckets)
  }

  /** Empty host-counts store (host, n_admitted, batch_id) — the
    * bootstrap; every crawl wave folds through [[foldWet]].
    */
  def writeHostStore(s: SparkSession, table: String,
      buckets: Int = -1): Unit =
    DeltaStore.write(s,
      s.range(0, 0, 1, 1).select(col("id").cast("string").as("host"),
        col("id").as("n_admitted")),
      table, Seq("host"), buckets)

  /** One WET batch's framing + verdicts against the PRE-fold stores:
    * body-fingerprint exact-dup flags (store + within-batch canonical
    * rule) and the host-budget admission — admitted iff the host's
    * admitted-so-far count plus the record's first-seen rank within
    * the batch stays within `budget`. The rank comes from the
    * group-limited window ([[graft.operators.WebCuration.hostRanks]]
    * with cap = budget): records pruned there have rank > budget ≥
    * the remaining headroom, so they are exactly the not-admitted
    * ones — no mega-host ever sorts its full batch in one task.
    */
  private[graft] def wetVerdicts(s: SparkSession, files: DataFrame,
      fpTable: String, hostTable: String, budget: Int, inst: Long,
      rules: Option[DataFrame] = None,
      near: Option[(String, String)] = None,
      clfWeights: Option[Array[Long]] = None): DataFrame = {
    // Decode order (round 17, the r16 verdict's decode-order
    // experiment): the per-record stage costs at 100× measured gunzip+
    // framing 0.55 s / +header 0.00 / +md5 fp 0.08 / +quality
    // tokenize 0.16 / +clf score 5.31 — the
    // classifier is ~85% of the decode term, and the admission window
    // rejects 99.96% of records at the production shape (admit rate
    // 190/500k at B=10). None of the admission inputs need it: host/
    // path are a header split, the dup flags need only md5(body), and
    // quality is a cheap tokenize. So the q190 fused hashing-trick
    // scorer (round 13; with `clfWeights` — round 14 — the q208-
    // trained vector serves through the same fused shape) moved BELOW
    // the admission filter: only ADMITTED records are scored, and a
    // never-scored record lands NULL clf_score/clf_keep — the
    // classifier is a corpus-keep decision downstream of admission,
    // so scoring a rejected record was pure waste at corpus scale.
    // All-admitted configs (q206/q207's effectively-unbounded budget)
    // produce bit-identical columns to the old inline order.
    val parsed0 = graft.operators.WebCuration.parseWet(
      Multimodal.frameCrawl(s, Multimodal.spreadClips(
        files.toDF("file_id", "payload"))))
      .withColumn("fp", md5(col("body")))
    // NEAR MODE (round 13): the batch additionally runs incremental
    // LSH near-dup assignment ([[graft.operators.Dedup]]'s
    // band/component machinery) against maintained PRE-fold band +
    // component stores — a re-crawled page with a tweaked footer
    // sails through the exact md5 flag but not through this one.
    // Bodies are pinned once per micro-batch so the slim verdict
    // chain and the shingle/minhash banding share one decode; the
    // per-record band signatures ride the verdict rows out (array
    // column) so the store fold never re-decodes.
    val (pinned, recs, nearCols) = near match {
      case None =>
        // pinned WITH the body (the deferred scorer reads it back for
        // admitted rows — without the column the join-back would
        // re-run the batch's gunzip); every other consumer (canon
        // agg, its join-back, the admission ranks) projects the slim
        // columns off the same pin, so the decode still runs once
        val full = graft.Jobs.labeled(s, "wet: decode pin") {
          parsed0
            .select(col("file_id"), col("rec_idx"), col("url"),
              col("host"), col("path"), col("fp"), col("quality"),
              col("body"))
            .localCheckpoint(true)
        }
        // slim consumers (flags, ranks, key joins) read the pin at
        // size-derived parallelism — a micro-batch-sized pin collapses
        // to a few tasks, a production-sized one keeps all of them
        // (guide §2: partitioning from input size, not a constant)
        (full, graft.Jobs.adaptiveRead(full).drop("body"), None)
      case Some((bandT, compT)) =>
        val full = graft.Jobs.labeled(s, "wet: decode pin") {
          parsed0.withColumn("ck", nearCk).localCheckpoint(true)
        }
        val newBands = graft.Jobs.labeled(s, "wet: band signatures") {
          graft.operators.Dedup.bandSignatures(
            full.select(col("ck").as("doc_id"), col("body").as("text")))
            .localCheckpoint(true)
        }
        val bandsRead = graft.Jobs.adaptiveRead(newBands)
        val fullSlim = graft.Jobs.adaptiveRead(full)
        val assigned = graft.operators.Dedup.assignFromBands(s, bandsRead,
          fullSlim.select(col("ck").as("doc_id")),
          s.table(bandT).filter(col("batch_id") < inst)
            .select(col("doc_id"), col("band"), col("h1"), col("h2")),
          s.table(compT).filter(col("batch_id") < inst)
            .select(col("doc_id"), col("comp")),
          withinBatch = true)
        // matched-the-store ⇔ the assigned cluster id is a STORED
        // record's id (delivery keys are unique, so batch ids and
        // stored ids are disjoint — see the startWet scaladoc)
        // no distinct: (file_id, rec_idx) — and so ck — is unique by
        // the near-mode delivery contract (startWet scaladoc), so the
        // exchange it cost bought nothing (one fewer AQE stage/wave)
        val own = fullSlim.select(col("ck").as("comp"))
          .withColumn("own", lit(true))
        val bandsArr = bandsRead
          .groupBy(col("doc_id"))
          .agg(sort_array(collect_list(struct(
            col("band"), col("h1"), col("h2")))).as("bands"))
        // (file_id, rec_idx) recovered ARITHMETICALLY from the ck
        // linearization (guide §2.4 remove shuffles outright): nearCk
        // is exact and row-enforced, so the old join back to the
        // pin's key frame bought two exchange sides for an identity.
        // `own` is the batch's own ck set — batch-bounded, one BIGINT
        // per record, the same class as the admitted-keys broadcast
        // below — so it broadcasts instead of shuffling the
        // assignment by cluster id.
        val nv = assigned.join(broadcast(own), Seq("comp"), "left")
          .join(bandsArr, Seq("doc_id"), "left")
          .select(expr("doc_id DIV 1000000").as("file_id"),
            pmod(col("doc_id"), lit(1000000L)).as("rec_idx"),
            col("comp").as("near_comp"),
            (!coalesce(col("own"), lit(false))).as("near_dup_of_store"),
            coalesce(col("bands"), expr(
              "cast(array() as array<struct<band: int, h1: bigint, " +
                "h2: bigint>>)")).as("bands"))
        (full,
          graft.Jobs.adaptiveRead(full)
            .select(col("file_id"), col("rec_idx"), col("url"),
              col("host"), col("path"), col("fp"), col("quality")),
          Some(nv))
    }
    // robots-style path rules at the seam (q204's longest-prefix
    // resolution): a disallowed record lands allowed=false for audit,
    // is never admitted, and CONSUMES NO BUDGET; a record matching no
    // rule is allowed (the robots default). The fp fold below still
    // sees every recovered record — a later re-crawl of disallowed
    // content is still a known duplicate.
    // resolution incl. the explicit permissive tie rule lives in ONE
    // place: [[graft.operators.WebCuration.resolveRules]]
    val allowedRecs = rules match {
      case None => recs.withColumn("allowed", lit(true))
      case Some(r) =>
        // record columns CARRIED through the resolution groupBy
        // instead of joined back (guide §2.4): (file_id, rec_idx) is
        // unique in recs, so grouping on the carried columns is
        // row-identical and one exchange replaces the agg + join-back
        // pair the old shape paid
        graft.operators.WebCuration.resolveRules(recs, r,
          carry = Seq("url", "host", "path", "fp", "quality"))
          .select(col("file_id"), col("rec_idx"), col("url"),
            col("host"), col("path"), col("fp"), col("quality"),
            coalesce(col("m.allow"), lit(true)).as("allowed"))
    }
    val canon = allowedRecs.groupBy(col("fp"))
      .agg(min(struct(col("file_id"), col("rec_idx"))).as("canon"))
    // LAZY pin (round 18): flagged has TWO consumers — the verdict
    // assembly and the admission-ranks subtree feeding the deferred
    // scorer — and each evaluation re-runs the canon aggregation and
    // the fp-store probe. The lazy checkpoint materializes inside the
    // first consumer's job (no extra driver action — the round-17
    // posture) and the second reads the cache; the cached rows are
    // the slim flag projection (no body).
    val flagged = allowedRecs.join(canon, "fp")
      .join(s.table(fpTable).filter(col("batch_id") < inst)
        .select(col("fp")).withColumn("seen", lit(true)),
        Seq("fp"), "left")
      .select(col("file_id"), col("rec_idx"), col("url"), col("host"),
        col("fp"), col("quality"), col("allowed"),
        coalesce(col("seen"), lit(false)).as("dup_of_store"),
        (col("canon.file_id") =!= col("file_id") ||
          col("canon.rec_idx") =!= col("rec_idx")).as("dup_in_batch"))
      .localCheckpoint(false)
    val sofar = s.table(hostTable).filter(col("batch_id") < inst)
      .groupBy(col("host")).agg(sum(col("n_admitted")).as("n_sofar"))
    val ranks = graft.operators.WebCuration.hostRanks(
      flagged.filter(col("allowed"))
        .select(col("file_id"), col("rec_idx"), col("host")),
      budget, Seq(col("file_id"), col("rec_idx")))
    // The deferred scorer's key set comes from the RANKS subtree, not
    // from the assembled verdict frame: `ranks` holds exactly the
    // allowed records with rank ≤ budget, so "rk + admitted-so-far ≤
    // budget over ranks rows" IS the admitted set (a record absent
    // from ranks coalesces to budget+1 below and is never admitted).
    // Deriving the keys this way keeps the whole batch ONE
    // materialization — the expensive shared stage (canon agg +
    // fp-store probe) appears once in the verdict chain and not in
    // the scorer's, so no internal checkpoint job is needed; the seam
    // pipelines' per-batch job budget stays at the r16 count.
    val admittedKeys = ranks
      .join(sofar, Seq("host"), "left")
      .filter(col("rk") + coalesce(col("n_sofar"), lit(0L)) <= budget)
      .select(col("file_id"), col("rec_idx"))
    // the deferred scorer: admitted rows only (see the decode-order
    // note above) — at the production admit rate this turns the
    // seam's clf term from corpus-sized to admitted-sized.
    // BROADCAST the key set (guide §8): the build side is 16-byte key
    // rows bounded by the micro-batch's record count, while the probe
    // side carries the decoded BODIES — a planner-chosen sort-merge
    // here would shuffle every admitted body to attach a yes/no
    // decision, the exact heavy-payload-moves-twice shape the
    // decode-order change exists to avoid.
    val scored = graft.operators.TrainPrep.withClfScore(
      pinned.join(broadcast(admittedKeys), Seq("file_id", "rec_idx")),
      "body", clfWeights)
      .withColumn("clf_keep",
        if (clfWeights.isDefined) col("clf_score") > 0
        else col("clf_score") * 20 > col("n_feat"))
      .select(col("file_id"), col("rec_idx"), col("clf_score"),
        col("clf_keep"))
    // Verdict assembly (round 18): `scored` rows ARE the admitted set
    // (scored = pinned ⋈ admittedKeys on the unique record key, and
    // withClfScore is row-preserving), and admittedKeys already folded
    // the rank + headroom test — so the old three-join tail (ranks on
    // the 3-col key, sofar on host, scored on the record key: up to
    // six exchange sides per batch) collapses into ONE broadcast
    // left-join. The old predicate
    //   allowed && coalesce(rk, budget+1) + coalesce(n_sofar, 0) <= budget
    // is true iff the record is in admittedKeys (an absent record
    // coalesces past the budget since n_sofar >= 0; a present one
    // passed exactly that filter and is allowed by construction — the
    // same key-set equivalence the deferred scorer already relies
    // on), so admitted = the broadcast probe's hit flag and the clf
    // columns ride the same join (NULL on non-admitted rows, as
    // before). The build side is admitted-sized with four narrow
    // columns — NO broadcast hint: at a production admit rate the
    // build side is tiny and AQE converts the shuffle join to a
    // broadcast at runtime from its REAL size, while an all-admitted
    // config (q206/q207's unbounded budget) keeps the shuffle join
    // instead of forcing a batch-sized driver-built relation
    // (measured: the forced broadcast was +7% on the all-admitted
    // near config and the AQE-decided join keeps the low-budget win).
    val verdicts = flagged
      .join(scored.withColumn("adm", lit(true)),
        Seq("file_id", "rec_idx"), "left")
      .select(col("file_id"), col("rec_idx"), col("url"), col("host"),
        col("fp"), col("quality"), col("allowed"), col("dup_of_store"),
        col("dup_in_batch"),
        coalesce(col("adm"), lit(false)).as("admitted"),
        col("clf_score"), col("clf_keep"))
    nearCols match {
      case None => verdicts
      case Some(nv) => verdicts.join(nv, Seq("file_id", "rec_idx"))
    }
  }

  /** Fold one WET batch's verdicts into BOTH stores under the replay
    * contract: novel body fingerprints into the fp store, per-host
    * ADMITTED counts into the host store. Fold order is fp-first /
    * host-last with the HOST fold as the commit point; a crash
    * between the two retries into convergence — the fp refold is
    * refused (no-op) and the host fold proceeds, and both serving
    * reads filter `batch_id < inst`, so a half-folded batch never
    * sees its own rows. A SATURATED batch admits nothing — its host
    * delta is EMPTY — and is still replay-refused afterwards: the
    * DeltaStore watermark sidecar records every admitted installment
    * regardless of its row count (round-13 core fix; this fold used
    * to hand-roll an empty-host sentinel row for exactly that batch).
    */
  private[graft] def foldWet(s: SparkSession, verdicts: DataFrame,
      fpTable: String, hostTable: String, inst: Long,
      near: Option[(String, String)] = None): Boolean = {
    // ONE guard job for the whole fold family (round 15; was one per
    // fold — ~0.3–0.4 s/batch of pure job scheduling at the near
    // seam): the family flips together, so its recorded-installment
    // sets read together. Safe because nothing between this read and
    // the folds below appends to any of the four tables — each
    // refresh still re-checks ITS slice under the same watermark
    // invariants, so a crash-retried batch is refused per store
    // exactly as before (a prefix of the family landed → those
    // slices contain `inst` → those folds no-op).
    val guards = DeltaStore.recordedIdsMulti(s,
      near.map { case (b, c) => Seq(b, c) }.getOrElse(Nil) ++
        Seq(fpTable, hostTable))
    // The band + component + fp deltas all derive from the LANDED
    // verdict rows (the band signatures rode out as an array column,
    // so no re-decode; the fp delta reads dup_of_store instead of
    // re-anti-joining the corpus-sized store — round 16) and are
    // MUTUALLY INDEPENDENT, so they fold CONCURRENTLY (guide §2.6:
    // actions are only sequential because the driver calls them
    // sequentially — each fold's catalyst planning and its append's
    // tail back-fill the others' idle cores). Crash semantics weaken
    // only from "any prefix of the folds landed" to "any SUBSET of
    // the non-commit folds landed", which the retry already handles:
    // each refresh re-checks ITS slice under its own guard (landed →
    // refused no-op, missing → folded), every serving read filters
    // batch_id < inst, and the HOST fold — the commit point — still
    // runs strictly LAST, alone.
    val folds = Seq.newBuilder[() => Boolean]
    near.foreach { case (bandT, compT) =>
      val ck = (col("file_id") * 1000000L + col("rec_idx")).as("doc_id")
      folds += (() => DeltaStore.refresh(s,
        verdicts.select(ck, explode(col("bands")).as("b"))
          .select(col("b.band").as("band"), col("b.h1").as("h1"),
            col("b.h2").as("h2"), col("doc_id")),
        bandT, Seq("band", "h1", "h2"), inst,
        recorded = Some(guards(bandT))))
      folds += (() => DeltaStore.refresh(s,
        verdicts.select(ck, col("near_comp").as("comp")),
        compT, Seq("doc_id"), inst, recorded = Some(guards(compT))))
    }
    folds += (() => DeltaStore.refresh(s,
      verdicts.filter(!col("dup_of_store")).select(col("fp")).distinct(),
      fpTable, Seq("fp"), inst, recorded = Some(guards(fpTable))))
    val ec = scala.concurrent.ExecutionContext.global
    folds.result()
      .map(f => scala.concurrent.Future(f())(ec))
      .foreach(fu => scala.concurrent.Await.result(fu,
        scala.concurrent.duration.Duration.Inf))
    DeltaStore.refresh(s,
      verdicts.filter(col("admitted"))
        .groupBy(col("host")).agg(count(lit(1)).as("n_admitted")),
      hostTable, Seq("host"), inst, recorded = Some(guards(hostTable)))
  }

  /** WET crawl ingest: frame, flag, admit against the budget, land,
    * fold both stores — the URL-aware production shape of
    * [[startWithFold]]. With `near` set (a (bandTable, compTable)
    * pair from [[writeNearStoresEmpty]]), every record additionally
    * lands its incremental LSH near-dup cluster and a
    * `near_dup_of_store` flag beside the exact `dup_of_store` — the
    * single most common real-world gap of exact-only web dedup (a
    * re-crawled page with a tweaked footer/timestamp) closed at the
    * seam; both stores fold per batch under the same replay contract.
    * CONTRACT in near mode: (file_id, rec_idx) is the crawl's
    * delivery key and must be globally unique across batches (a
    * re-delivered file_id would alias cluster ids).
    *
    * With `clfTable` (round 14) the seam scores through the TRAINED
    * q208 weight store instead of the stand-in arithmetic: the model
    * is resolved ONCE at stream start (a 1024-row readSum — the
    * stream serves a frozen model; retraining ships via a new store
    * version and a stream restart, the same discipline as every
    * other store flip) and rides every batch as the fused array
    * literal — per-batch cost is unchanged.
    */
  def startWet(files: DataFrame, fpTable: String, hostTable: String,
      budget: Int, outDir: String, checkpoint: String,
      epochBase: Long = 0L,
      rules: Option[DataFrame] = None,
      near: Option[(String, String)] = None,
      clfTable: Option[String] = None): StreamingQuery = {
    val s = files.sparkSession
    AtomicLanding.sweepStale(s, outDir)
    val clfWeights = clfTable.map(t =>
      graft.operators.TrainPrep.readClfVector(s, t))
    files.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        wetBatch(s, batch, fpTable, hostTable, budget, epochBase + id + 1L,
          rules, near, clfWeights, AtomicLanding.publish(_, outDir, id))
        ()
      }
      .start()
  }

  /** One WET batch: verdicts against the pre-fold store snapshots,
    * pinned (the landing and the fold both read them), handed to
    * `land`, then the replay-guarded fold of both stores (all four in
    * near mode). [[startWet]] lands each batch; the wave queries
    * (q202, q205, q206) collect the verdicts they output; batch-side
    * maintenance lands nothing. Returns false for a replayed
    * installment.
    */
  private[graft] def wetBatch(s: SparkSession, files: DataFrame,
      fpTable: String, hostTable: String, budget: Int, inst: Long,
      rules: Option[DataFrame] = None,
      near: Option[(String, String)] = None,
      clfWeights: Option[Array[Long]] = None,
      land: DataFrame => Unit = _ => ()): Boolean = {
    val v = graft.Jobs.adaptiveRead(
      wetVerdicts(s, files, fpTable, hostTable, budget, inst,
        rules, near, clfWeights).localCheckpoint())
    land(v)
    foldWet(s, v, fpTable, hostTable, inst, near)
  }

  /** Read everything landed by [[startWet]] (committed batches only). */
  def readWet(s: SparkSession, outDir: String): DataFrame =
    s.read.schema(wetSchema).parquet(outDir)
      .select(wetSchema.fieldNames.map(col): _*)

  /** Read a near-mode landing ([[startWet]] with `near` set). */
  def readWetNear(s: SparkSession, outDir: String): DataFrame =
    s.read.schema(wetNearSchema).parquet(outDir)
      .select(wetNearSchema.fieldNames.map(col): _*)

  /** Empty fingerprint store — the crawl-native bootstrap (the store
    * grows from ingest; [[writeFpStore]] seeds from a pre-crawled
    * corpus instead).
    */
  def writeFpStoreEmpty(s: SparkSession, table: String,
      buckets: Int = -1): Unit =
    DeltaStore.write(s,
      s.range(0, 0, 1, 1).select(col("id").cast("string").as("fp")),
      table, Seq("fp"), buckets)

  /** SUM-semantics compaction of the host-counts store: the admitted
    * counts collapse via [[DeltaStore.readSum]] (shuffle-free on the
    * host buckets), the replay watermark rides the roll — the gram
    * store's contract.
    */
  def compactHostStore(s: SparkSession, table: String,
      newTable: String): Unit =
    DeltaStore.compact(s, table, newTable,
      DeltaStore.readSum(s, table, Seq("host"), Seq("n_admitted")),
      Seq("host"))

  /** Set-semantics compaction of the near-dup store pair: band rows
    * and component labels are unique by construction (each record
    * folds exactly once under the replay guard), so both views are
    * plain projections; the DeltaStore core carries each replay
    * watermark forward.
    */
  def compactNearStores(s: SparkSession, bandTable: String,
      newBandTable: String, compTable: String,
      newCompTable: String): Unit = {
    DeltaStore.compact(s, bandTable, newBandTable,
      s.table(bandTable).select(col("band"), col("h1"), col("h2"),
        col("doc_id")),
      Seq("band", "h1", "h2"))
    DeltaStore.compact(s, compTable, newCompTable,
      s.table(compTable).select(col("doc_id"), col("comp")),
      Seq("doc_id"))
  }

  /** The roles of the manifest family `wetnear`: fp + host stores
    * plus the LSH band + component stores the incremental near-dup
    * assignment probes and folds — versioned, compacted and vacuumed
    * together (a reader must never pair a compacted band table with a
    * pre-compaction component table: assignment resolves band matches
    * THROUGH the component labels).
    */
  val nearRoles: Seq[String] = Seq("fps", "hosts", "bands", "comps")

  /** RELABEL maintenance for the near seam (round-13 verdict item 7):
    * streaming assignment never rewrites stored component labels —
    * each record keeps the label assigned at its own wave, so a merge
    * discovered later leaves earlier members under the stale label
    * (documented; q206's oracle pins labels-at-own-wave). This
    * recomputes the component store as the transitive closure of the
    * FULL stored band-collision graph — the q152 refresh ==
    * full-recompute precedent, labels = min doc id per component —
    * and flips ONLY the comps role under a new wetnear version,
    * carrying fps/hosts/bands (nothing about them changes; the flip
    * stays atomic for readers). Pairs come straight from the stored
    * (band, h1, h2) buckets via the salted generator — skew-hardened,
    * never doc×doc; the replay watermark rides the roll so a
    * pre-relabel installment stays guard-refused.
    *
    * Label semantics AFTER relabel are canonical (min id per
    * component) — a superset-merge of the as-at-own-wave labels:
    * serving joins keep working (assignment resolves through
    * coalesce(comp, id) and min-aggregates candidates, both
    * label-monotone).
    */
  def relabelWetNear(s: SparkSession,
      manifest: String): StoreManifest.Prepared =
    StoreManifest.roll(s, manifest, "wetnear", nearRoles,
        carry = Set("fps", "hosts", "bands")) { (live, next) =>
      val pairs = graft.operators.Similarity.saltedPairs(
        s.table(live("bands"))
          .select(col("band"), col("h1"), col("h2"),
            struct(col("doc_id").as("id")).as("m")),
        Seq("band", "h1", "h2"), 4)
        .select(col("pa.id").as("da"), col("pb.id").as("db"))
        .distinct()
        // pinned: labelEdges' bounded strategy choice reads the count
        // off the cache, and propagate's adj union referenced the
        // unpinned pair generation twice anyway
        .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
      val labels = graft.operators.Dedup.labelEdges(pairs)
      val full = s.table(live("comps")).select(col("doc_id")).distinct()
        .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
          "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("comp"))
      DeltaStore.compact(s, live("comps"), next("comps"), full,
        Seq("doc_id"))
    }

  /** [[startWet]] in NEAR mode with all FOUR stores resolved through
    * the version manifest (family `wetnear`, roles `fps` + `hosts` +
    * `bands` + `comps` — one family, so a compaction flips readers to
    * all four new tables atomically; a reader can never mix a
    * compacted band table with a pre-compaction component table).
    */
  def startWetNearFromManifest(files: DataFrame, manifest: String,
      budget: Int, outDir: String, checkpoint: String,
      epochBase: Long = 0L,
      rules: Option[DataFrame] = None): StreamingQuery = {
    val (_, cur) = StoreManifest.currentRequired(
      files.sparkSession, manifest, "wetnear")
    startWet(files, cur("fps"), cur("hosts"), budget, outDir,
      checkpoint, epochBase, rules,
      near = Some((cur("bands"), cur("comps"))))
  }

  /** [[startWet]] with BOTH stores resolved through the version
    * manifest (family `wet`, roles `fps` + `hosts` — one family, so a
    * compaction flips readers to both new tables atomically).
    */
  def startWetFromManifest(files: DataFrame, manifest: String,
      budget: Int, outDir: String, checkpoint: String,
      epochBase: Long = 0L,
      rules: Option[DataFrame] = None,
      clfTable: Option[String] = None): StreamingQuery = {
    val (_, cur) = StoreManifest.currentRequired(
      files.sparkSession, manifest, "wet")
    startWet(files, cur("fps"), cur("hosts"), budget, outDir,
      checkpoint, epochBase, rules, clfTable = clfTable)
  }

  /** [[startWithFold]] with the fingerprint store resolved through
    * the version manifest (family `fp`) — the production entry, same
    * three-line glue as the other manifest-resolved ingests.
    */
  def startFromManifest(files: DataFrame, manifest: String,
      outDir: String, checkpoint: String,
      epochBase: Long = 0L): StreamingQuery = {
    val (_, cur) = StoreManifest.currentRequired(
      files.sparkSession, manifest, "fp")
    startWithFold(files, cur("fps"), outDir, checkpoint, epochBase)
  }

  /** Set-semantics compaction: rows are unique by the novel-only
    * fold, so the view is a plain projection; the DeltaStore core
    * carries the replay watermark forward.
    */
  def compactFpStore(s: SparkSession, table: String,
      newTable: String): Unit =
    DeltaStore.compact(s, table, newTable,
      s.table(table).select(col("fp")), Seq("fp"))

  /** Read everything landed so far (committed batches only). */
  def readStats(s: SparkSession, outDir: String): DataFrame =
    s.read.schema(statsSchema).parquet(outDir)
      .select(col("file_id"), col("rec_idx"), col("n_bytes"), col("fp"),
        col("quality"), col("dup_of_store"), col("dup_in_batch"),
        col("batch_id"))
}
