package graft.operators

import graft.{QueryDef, Tables}
import graft.stores.DeltaStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents`: exact (hash-groupBy),
  * n-gram Jaccard near-dup via an inverted shingle index, MinHash+LSH
  * (shingle → minhash → band → bucket-join), and SimHash.
  *
  * Scale notes (the whole point of these formulations):
  *  - exact dedup is one shuffle on the 128-bit content hash — never on
  *    the document text;
  *  - Jaccard candidates come from the inverted-index equi-join on
  *    shingles (cost Σ df(s)²), NOT an all-pairs cross join (n²);
  *  - MinHash/LSH reduces that further: the only join is on (band,
  *    band-key), so near-constant per document at 100 TB;
  *  - all hashing is md5-based so the DuckDB oracle can reproduce it
  *    bit-for-bit (no engine-private hash functions in results).
  */
object Dedup {

  /** Document-frequency ceiling for the Jaccard inverted index (q35):
    * posting lists longer than this are dropped before pair
    * generation, bounding the worst shingle key at C(cap, 2) pairs
    * instead of C(df, 2) — the skew guard that keeps one boilerplate
    * shingle from emitting ~df² pairs at 100 TB. Part of the
    * operator's semantics (the oracle applies the same cap). 64 is
    * above every df at the tested SFs (max 25 at sf0.1), so small-SF
    * results equal the uncapped formulation.
    */
  val JaccardDfCap = 64

  /** Oracle-side distinct word-3-gram shingles (duplicates are
    * irrelevant to the min() consumers, but DISTINCT keeps the SQL
    * self-describing).
    */
  private val shinglesSql =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |       FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
      |       WHERE len(t) >= 3)""".stripMargin

  /** Exploded (doc_id, shingle-id) rows. Shingles are keyed by a
    * 60-bit md5-derived integer id: the shuffle key for the inverted
    * index is 8 bytes instead of a ~20 byte string. Both engines
    * derive the id the same way, so the (astronomically unlikely)
    * collision would merge identically on both sides — semantics stay
    * oracle-exact. Rows are NOT pre-deduplicated: the per-doc
    * duplicate shingles collapse inside the downstream collect_set /
    * min aggregates, which is free, where a distinct() would be a
    * full extra shuffle.
    *
    * The md5+conv run on FLAT rows (post-explode) so they stay inside
    * whole-stage codegen — hashing inside the transform lambda is
    * interpreted per element, measured ~5× slower for the same hash
    * count.
    */
  private[graft] def hashedShingles(s: SparkSession, d: String): DataFrame =
    hashedShinglesOf(Tables.parallel(s, d, "documents"))

  /** [[hashedShingles]] over an arbitrary (doc_id, text) frame — the
    * q212 sampled eval feeds a filtered corpus through the same
    * shingle arithmetic.
    */
  private[graft] def hashedShinglesOf(docs: DataFrame): DataFrame = {
    graft.functions.Md5Long.register(docs.sparkSession)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"))
        .as("s"))
      .select(col("doc_id"),
        expr("md5long(s)").as("sid"))
  }

  private val hashedShinglesSql =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))::BIGINT AS sid
      |       FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
      |       WHERE len(t) >= 3)""".stripMargin

  /** MinHash+LSH candidate pairs (q36's body, reused by the
    * connected-components resolution in q57 and the cross-source
    * report in q59): 8 md5-based minhashes in one partial-aggregating
    * pass, 4 bands × 2 rows each, then pair generation through
    * [[Similarity.saltedPairs]] chunk-pair blocks. Two skew guards
    * (both result-set-neutral, proven by the unchanged oracle):
    *  - a hot bucket (one template duplicated n times puts all n
    *    members in the SAME bucket of every band) explodes per
    *    chunk-pair BLOCK, so its C(n,2) pairs fan out over
    *    C(K+1,2) tasks instead of serializing in one;
    *  - cross-band duplicates die in a codegen'd filter — each
    *    member carries its full 8-hash signature and a pair is
    *    emitted only from the FIRST band whose (h1,h2) collide —
    *    replacing a distinct() that shuffled every candidate pair
    *    (the largest dataset in the query under duplication skew).
    */
  /** LSH band signatures of an arbitrary (doc_id, text) frame:
    * (doc_id, band, h1, h2, sig) — the q36/q57 banding scheme (8
    * minhashes, 4 bands × 2 rows) exposed as a reusable projection so
    * the INCREMENTAL path ([[assignToClusters]]) computes a new
    * batch's signatures with the exact same hashes the persisted
    * corpus stores were built with. `sig` carries the full 8-hash
    * array for first-colliding-band dedup.
    */
  private[graft] def bandSignatures(docs: DataFrame): DataFrame = {
    // self-register the native hash (idempotent): this projection is
    // the standalone entry point for ClusterIngest.start, whose
    // sessions may have neither run Tables() nor loaded
    // GraftExtensions — without this, the first micro-batch dies with
    // an unresolved-function AnalysisException on `md5long`.
    graft.functions.Md5Long.register(docs.sparkSession)
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"))
        .as("s"))
    val P = graft.functions.MinHashSignature.P
    val hashed = sh.select(col("doc_id"),
      expr(s"md5long(s) % $P").as("hb"))
    val sigCols = (0 to 7).map { k =>
      val (a, b) = (graft.functions.MinHashSignature.A(k),
        graft.functions.MinHashSignature.B(k))
      min((lit(a) * col("hb") + lit(b)) % lit(P)).as(s"mh$k")
    }
    val sigs = hashed.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    val bandCols = (0 to 3).map(b =>
      struct(lit(b).as("band"), col(s"mh${2 * b}").as("h1"),
        col(s"mh${2 * b + 1}").as("h2")))
    sigs
      .select(col("doc_id"),
        array((0 to 7).map(k => col(s"mh$k")): _*).as("sig"),
        explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.h1").as("h1"), col("b.h2").as("h2"), col("sig"))
  }

  // ONE md5 per shingle; the 8 minhashes are q38's universal family
  // h_k(x) = (a_k·(x mod P) + b_k) mod P over the Mersenne prime
  // P = 2³¹−1, with [[graft.functions.MinHashSignature]]'s
  // md5-derived coefficients (k < 8). The earlier family salted and
  // re-hashed md5 per seed — 8 digests per shingle row, and the
  // hash dominated this stage's CPU. (A cheaper-still h1+k·h2
  // double-hash over the digest halves was tried and REVERTED: one
  // low-valued shingle tends to win several adjacent k's at once,
  // so band rows collide together, the candidate graph densifies,
  // and at sf0.1 label propagation stopped converging — minhash
  // band rows need pairwise-independent rehashes, which the
  // multiply-add family provides at the same one-md5 cost.)
  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    pairsFromBands(bandSignatures(Tables.parallel(s, d, "documents")))

  /** q36's salted pair generation + first-colliding-band dedup over an
    * arbitrary [[bandSignatures]] frame — shared by the corpus-wide
    * closure and the store-subset closure q142 verifies the
    * incremental path against.
    */
  private[graft] def pairsFromBands(bandSigs: DataFrame): DataFrame = {
    val bands = bandSigs
      .select(col("band"), col("h1"), col("h2"),
        struct(col("doc_id").as("id"), col("sig").as("sg")).as("m"))
    Similarity.saltedPairs(bands, Seq("band", "h1", "h2"), 4)
      // keep the pair only in its FIRST colliding band
      .filter((0 to 2).map(bp =>
        (col("band") <= bp) ||
          (col("pa.sg")(2 * bp) =!= col("pb.sg")(2 * bp)) ||
          (col("pa.sg")(2 * bp + 1) =!= col("pb.sg")(2 * bp + 1)))
        .reduce(_ && _))
      .select(col("pa.id").as("da"), col("pb.id").as("db"))
  }

  /** DuckDB mirror of [[minhashPairs]] as a CTE chain ending in
    * `pairs(da, db)` (package-visible: the WET near-dup oracle
    * (WebCuration q206) re-derives the same banding over crawl
    * bodies).
    */
  private[graft] val minhashPairsSql =
    s"""$shinglesSql,
       |hh AS (SELECT doc_id,
       |         ('0x' || substr(md5(s), 1, 15))::BIGINT
       |           % ${graft.functions.MinHashSignature.P} AS hb
       |       FROM sh),
       |coef8(seed, a, b) AS (VALUES ${(0 to 7).map(k =>
            s"(${k}, ${graft.functions.MinHashSignature.A(k)}, " +
              s"${graft.functions.MinHashSignature.B(k)})").mkString(", ")}),
       |mh AS (SELECT doc_id, seed,
       |         min((a * hb + b) % ${graft.functions.MinHashSignature.P}) AS mh
       |       FROM hh CROSS JOIN coef8
       |       GROUP BY 1, 2),
       |bands AS (SELECT doc_id, seed // 2 AS band,
       |            min(CASE WHEN seed % 2 = 0 THEN mh END) AS h1,
       |            min(CASE WHEN seed % 2 = 1 THEN mh END) AS h2
       |          FROM mh GROUP BY 1, 2),
       |pairs AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |          FROM bands x JOIN bands y
       |            ON x.band = y.band AND x.h1 = y.h1 AND x.h2 = y.h2
       |               AND x.doc_id < y.doc_id)""".stripMargin

  /** Session-scoped memo of the component table. SEVEN queries consume
    * the same transitive closure (q57, q83, q120, q127, q129, q134,
    * q136), and the propagation result is tiny relative to its cost —
    * materialize it once per (session, dataset) and share the
    * localCheckpointed frame. This is the in-session analog of
    * persisting a bucketed component store, which is what a 100 TB
    * deployment would do: write (doc_id, comp) bucketed by doc_id once
    * per corpus version and let every consumer join co-partitioned.
    * Weak session keys: entries (and their checkpoint blocks) die with
    * the session's context.
    */
  private val componentMemo =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, DataFrame]]()

  /** Conf key naming a persisted component table (see
    * [[writeComponentsStore]]). When set and the table exists, every
    * consumer reads the store instead of recomputing the closure.
    */
  val ComponentsTableConf = "spark.graft.components.table"

  /** Cross-operator surface: the q57 component table (for composers
    * outside this file — q136's cluster-safe split keys on it).
    *
    * Store-or-recompute: if [[ComponentsTableConf]] names an existing
    * table (written by [[writeComponentsStore]], bucketed on doc_id),
    * read it — consumers joining on doc_id then get the store side
    * co-partitioned from disk with NO shuffle exchange
    * (ComponentStoreSpec pins the plan). Otherwise compute the
    * closure, memoized per (session, dataset dir); see
    * [[componentMemo]].
    */
  def components(s: SparkSession, d: String): DataFrame = {
    val t = s.conf.get(ComponentsTableConf, "")
    if (t.nonEmpty && s.catalog.tableExists(t))
      s.table(t).select(col("doc_id"), col("comp"))
    else componentMemo.synchronized {
      componentMemo
        .computeIfAbsent(s, _ => scala.collection.mutable.Map.empty)
        .getOrElseUpdate(d, dedupComponents(s, d))
    }
  }

  /** Persist the component table bucketed on doc_id — the production
    * shape of [[componentMemo]]'s in-session memo: at 100 TB the
    * closure is computed once per corpus version and every consumer
    * (incremental dedup, split assignment, provenance audits) joins
    * the store co-partitioned from disk, exactly like the fingerprint
    * store DedupIngest already composes (BucketedStoreSpec). Bucket
    * count defaults to spark.sql.shuffle.partitions so the batch
    * side's partitioning lines up without an extra exchange.
    */
  def writeComponentsStore(s: SparkSession, d: String, table: String,
      buckets: Int = -1): Unit = {
    val b =
      if (buckets > 0) buckets
      else s.conf.get("spark.sql.shuffle.partitions").toInt
    dedupComponents(s, d)
      .repartition(b, col("doc_id"))
      .write.bucketBy(b, "doc_id").sortBy("doc_id")
      .format("parquet").mode("overwrite").saveAsTable(table)
  }

  /** Persist the corpus' LSH band signatures bucketed on the FULL
    * (band, h1, h2) collision key — the second half of the
    * incremental-dedup store pair (with [[writeComponentsStore]]).
    * The bucket function must cover exactly the join key: Spark
    * co-partitions a sort-merge join only when both sides route rows
    * by the same key set, so a subset bucketing (h1 alone was tried)
    * makes the planner fall back to re-shuffling the corpus side —
    * the one thing the store exists to avoid.
    */
  def writeBandStore(s: SparkSession, d: String, table: String,
      buckets: Int = -1): Unit = {
    val b =
      if (buckets > 0) buckets
      else s.conf.get("spark.sql.shuffle.partitions").toInt
    bandSignatures(Tables.parallel(s, d, "documents"))
      .select(col("doc_id"), col("band"), col("h1"), col("h2"))
      .repartition(b, col("band"), col("h1"), col("h2"))
      .write.bucketBy(b, "band", "h1", "h2").sortBy("band", "h1", "h2")
      .format("parquet").mode("overwrite").saveAsTable(table)
  }

  /** INCREMENTAL store refresh on DISK — folds everything ingested
    * since the last refresh into the persisted store pair, replacing
    * the from-scratch recompute ([[writeBandStore]] +
    * [[writeComponentsStore]]) that was the last O(corpus) step in
    * the incremental dedup loop. Semantics: [[refreshDelta]] (labels
    * provably equal to a full recompute over store ∪ batch; q152).
    *
    * Cost shape, the reason this exists:
    *  - band store: delta-sized bucketed APPEND (bucketed tables
    *    accumulate files per bucket; readers still get one
    *    co-partitioned partition per bucket);
    *  - component store: the corpus side is a bucketed scan → tiny
    *    broadcast relabel → bucketed write of `newCompTable` with NO
    *    shuffle exchange (RefreshStoreSpec pins the plan) — pure
    *    parallel IO, no network; only the delta rows (batch labels +
    *    newly-paired singletons) shuffle, on frames the size of the
    *    ingest, then APPEND;
    *  - the delta propagation runs on the batch's pair graph plus one
    *    node per AFFECTED stored cluster — never the corpus graph.
    * At 100 TB that turns the per-corpus-version refresh from
    * "re-shingle and re-cluster everything" into "scan-and-rewrite
    * the (doc_id, comp) table + delta-sized work". A deployment that
    * can't afford even the rewrite IO can hold the broadcast relabel
    * map ([[refreshedParts]]) as a read-time patch and compact less
    * often — same math, deferred.
    *
    * The refreshed component table is written to `newCompTable`
    * (stores roll forward by corpus version — [[ClusterIngest]]
    * restarts pick up the new version without touching the stream's
    * offset-only checkpoint); the band store is appended in place,
    * which is safe mid-stream because band rows are immutable facts
    * about existing docs. Bucket specs are read from the catalog so
    * appends always match the existing layout.
    */
  def refreshStores(s: SparkSession, newDocs: DataFrame,
      bandTable: String, compTable: String, newCompTable: String): Unit = {
    require(newCompTable != compTable,
      "the refreshed component table rolls forward to a NEW version; " +
        "overwriting the table being read is not defined")
    def numBuckets(t: String): Int =
      s.sessionState.catalog
        .getTableMetadata(s.sessionState.sqlParser.parseTableIdentifier(t))
        .bucketSpec.map(_.numBuckets)
        .getOrElse(s.conf.get("spark.sql.shuffle.partitions").toInt)
    val newBands = bandSignatures(newDocs).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
    // the delta labels materialize (propagate checkpoints its rounds)
    // BEFORE any store write below mutates what the joins read
    val (batchLabels, storeNodes) = refreshDelta(newBands,
      newDocs.select(col("doc_id")), s.table(bandTable), s.table(compTable))
    val (relabeled, delta) =
      refreshedParts(s.table(compTable), batchLabels, storeNodes)
    // force bucketed scans even where no join would request them: the
    // corpus-side write then runs one task per bucket and emits one
    // file per bucket, instead of tasks × buckets files
    val autoBucketedScan = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = s.conf.get(autoBucketedScan, "true")
    s.conf.set(autoBucketedScan, "false")
    try {
      val bb = numBuckets(bandTable)
      newBands.select(col("doc_id"), col("band"), col("h1"), col("h2"))
        .repartition(bb, col("band"), col("h1"), col("h2"))
        .write.mode("append").bucketBy(bb, "band", "h1", "h2")
        .sortBy("band", "h1", "h2").format("parquet").saveAsTable(bandTable)
      val cb = numBuckets(compTable)
      relabeled.write.mode("overwrite").bucketBy(cb, "doc_id")
        .sortBy("doc_id").format("parquet").saveAsTable(newCompTable)
      delta.repartition(cb, col("doc_id"))
        .write.mode("append").bucketBy(cb, "doc_id")
        .sortBy("doc_id").format("parquet").saveAsTable(newCompTable)
    } finally s.conf.set(autoBucketedScan, prev)
  }

  /** STORE COMPACTION — the maintenance half of [[refreshStores]]'s
    * append discipline. Every refresh APPENDs a delta-sized file set
    * to the band store (and the component store's roll-forward writes
    * corpus + delta passes), so after K refreshes a bucket holds K+1
    * files: readers still get one co-partitioned partition per bucket
    * (bucketed scans merge a bucket's files), but per-file open/footer
    * cost grows linearly and a crash between a refresh's store append
    * and its checkpoint commit can replay the append, leaving
    * duplicate rows no consumer ever cleans. Compaction rewrites any
    * bucketed store to exactly one file per bucket with duplicate
    * rows collapsed — and does it WITHOUT a shuffle: the forced
    * bucketed scan hands each task one complete bucket, the
    * full-row distinct's ClusteredDistribution is already satisfied
    * by the scan's hash partitioning (the bucket columns are a subset
    * of the grouping columns), and the bucketed write then emits one
    * file per task. At 100 TB this is the standard nightly job shape:
    * pure parallel IO proportional to the store, zero network.
    *
    * Rolls forward to `newTable` (same convention as [[refreshStores]]
    * — overwriting a table mid-read is undefined; callers swap
    * consumers to the compacted version and drop the old one). Bucket
    * and sort specs are read from the catalog, so the compacted table
    * is a drop-in replacement for every co-partitioned join the store
    * serves ([[assignToClusters]], DedupIngest's anti-join).
    */
  def compactStore(s: SparkSession, table: String, newTable: String): Unit = {
    // resolve both names before comparing: "db.t" vs "t" under
    // current database db (or a case variant) are the SAME table, and
    // letting that through means overwriting the table being read
    require(DeltaStore.canon(s, newTable) != DeltaStore.canon(s, table),
      "compaction rolls forward to a NEW table; overwriting the table " +
        "being read is not defined")
    val spec = s.sessionState.catalog
      .getTableMetadata(s.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"$table is not bucketed — compaction targets the bucketed stores"))
    val autoBucketedScan = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = s.conf.get(autoBucketedScan, "true")
    s.conf.set(autoBucketedScan, "false")
    try {
      val sorts =
        if (spec.sortColumnNames.nonEmpty) spec.sortColumnNames
        else spec.bucketColumnNames
      compacted(s, table).write.mode("overwrite")
        .bucketBy(spec.numBuckets,
          spec.bucketColumnNames.head, spec.bucketColumnNames.tail: _*)
        .sortBy(sorts.head, sorts.tail: _*)
        .format("parquet").saveAsTable(newTable)
    } finally s.conf.set(autoBucketedScan, prev)
  }

  /** The compaction frame: a full-row distinct over the store scan.
    * Split out so StoreCompactionSpec can pin the no-exchange plan
    * (under a forced bucketed scan the distinct reuses the scan's
    * bucket partitioning — grouping on a superset of the bucket
    * columns keeps every duplicate within one task).
    */
  private[graft] def compacted(s: SparkSession, table: String): DataFrame = {
    val t = s.table(table)
    t.dropDuplicates(t.columns.toIndexedSeq)
  }

  /** PENDING-BRIDGE report — the observability face of
    * [[assignToClusters]]'s one documented remnant: when a batch
    * component bridges two or more stored clusters, assignment labels
    * the batch docs with the SMALLEST cluster's id, and the stored
    * members of the other clusters keep their stale labels until the
    * next [[refreshStores]] re-resolves them. This report enumerates
    * exactly those pending merges from the same joins assignment
    * runs — per bridging batch component: the label the batch took
    * (`store_comp_keep`), each stored cluster left stale
    * (`store_comp_stale`, one row per cluster), and the batch-doc
    * count of the bridging component (the evidence strength). Row
    * count == 0 ⇔ every store label is closure-exact right now, so
    * the report doubles as the ops staleness metric between
    * refreshes. Oracle-checked as q153; delta-sized throughout (the
    * store sides arrive bucketed, the batch graph is batch-sized).
    */
  def pendingBridges(s: SparkSession, newDocs: DataFrame,
      bandStore: DataFrame, compStore: DataFrame): DataFrame = {
    val newBands = bandSignatures(newDocs).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
    val roots = newBands
      .select(col("doc_id").as("new_id"), col("band"), col("h1"), col("h2"))
      .join(bandStore, Seq("band", "h1", "h2"))
      .join(compStore.withColumnRenamed("comp", "root"),
        Seq("doc_id"), "left")
      .select(col("new_id"), coalesce(col("root"), col("doc_id")).as("root"))
      .distinct()
    val bcomp = batchGraphLabels(newBands)
      .select(col("id").as("doc_id"), col("label").as("bkey"))
    val mem = newDocs.select(col("doc_id"))
      .join(bcomp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("bkey"), col("doc_id")).as("bkey"))
    val sizes = mem.groupBy(col("bkey"))
      .agg(count(lit(1)).as("n_batch_docs"))
    val compRoots = mem
      .join(roots.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"))
      .select(col("bkey"), col("root")).distinct()
    val bridging = compRoots.groupBy(col("bkey"))
      .agg(min(col("root")).as("store_comp_keep"),
        countDistinct(col("root")).as("k"))
      .filter(col("k") >= 2)
      .select(col("bkey"), col("store_comp_keep"))
    compRoots.join(bridging, "bkey")
      .filter(col("root") =!= col("store_comp_keep"))
      .join(sizes, "bkey")
      .select(col("bkey").as("batch_comp"), col("store_comp_keep"),
        col("root").as("store_comp_stale"), col("n_batch_docs"))
  }

  /** INCREMENTAL cluster assignment — the production path a 100 TB
    * deployment runs per ingest batch instead of re-deriving the
    * transitive closure: a new document joins the near-dup cluster of
    * any STORED document sharing a full LSH band (the same collision
    * rule q36's pair generation uses), resolved to a cluster id
    * through the persisted component table; documents with no
    * collision found nothing similar and seed their own cluster
    * (their id, the same convention the closure uses for roots).
    *
    * Plan shape: the batch's band signatures (batch-sized) join the
    * band store — bucketed on (band, h1, h2), so the corpus side
    * arrives co-partitioned from disk — then the matched (batch-sized)
    * candidate set joins the component store on doc_id (bucketed,
    * same no-exchange property; misses coalesce to the stored doc's
    * own id, exactly the closure's singleton convention). Ties take
    * min(comp), deterministic. Nothing corpus-sized ever shuffles.
    *
    * With `withinBatch = false` (the cheapest path), batch-internal
    * duplicates are NOT clustered against each other (each batch doc
    * matches only the STORE) — they meet at the next store refresh,
    * the standard trade of incremental LSH. With `withinBatch = true`
    * the batch's own pair graph is closed too (via
    * [[batchGraphLabels]] — a single-task union-find below the size
    * bound, the distributed propagation above it) and each batch
    * component takes the MINIMUM store
    * cluster its members matched, or its minimum member id when none
    * did. One deliberate remnant: when one batch component bridges
    * TWO store clusters, both batch docs take the smaller cluster's
    * label but the stored members of the larger keep theirs until the
    * next refresh re-derives the global closure — assignment never
    * relabels the store.
    *
    * @return (doc_id, comp) for every batch document.
    */
  def assignToClusters(s: SparkSession, newDocs: DataFrame,
      bandStore: DataFrame, compStore: DataFrame,
      withinBatch: Boolean = false): DataFrame =
    assignFromBands(s, bandSignatures(newDocs).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_)),
      newDocs.select(col("doc_id")), bandStore, compStore, withinBatch)

  /** [[assignToClusters]] over PRE-COMPUTED band signatures — the
    * entry for callers that already hold the batch's
    * [[bandSignatures]] frame (the WET crawl seam pins it once and
    * reuses it for the band-store fold; recomputing would double the
    * batch's shingle/minhash pass). `newBands` must be a materialized
    * (pinned) frame; `newIds` the batch's (doc_id) set.
    */
  private[graft] def assignFromBands(s: SparkSession, newBands: DataFrame,
      newIds: DataFrame, bandStore: DataFrame, compStore: DataFrame,
      withinBatch: Boolean): DataFrame = {
    val matches = newBands
      .select(col("doc_id").as("new_id"), col("band"), col("h1"), col("h2"))
      .join(bandStore, Seq("band", "h1", "h2"))
      .select(col("new_id"), col("doc_id").as("old_id"))
      .distinct()
    val storeCand = matches
      .join(compStore.withColumnRenamed("doc_id", "old_id")
        .withColumnRenamed("comp", "old_comp"), Seq("old_id"), "left")
      .select(col("new_id"),
        coalesce(col("old_comp"), col("old_id")).as("cand"))
      .groupBy(col("new_id")).agg(min(col("cand")).as("comp"))
      .withColumnRenamed("new_id", "doc_id")
    val direct = newIds
      .join(storeCand, Seq("doc_id"), "left")
    if (!withinBatch)
      direct.select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
    else {
      val bcomp = batchGraphLabels(newBands)
        .select(col("id").as("doc_id"), col("label").as("bkey"))
      val members = direct
        .join(bcomp, Seq("doc_id"), "left")
        .withColumn("bkey", coalesce(col("bkey"), col("doc_id")))
      val byKey = members.groupBy(col("bkey"))
        .agg(min(col("comp")).as("scomp"), min(col("doc_id")).as("mid"))
        .select(col("bkey"), coalesce(col("scomp"), col("mid")).as("fin"))
      members.join(byKey, "bkey")
        .select(col("doc_id"), col("fin").as("comp"))
    }
  }

  /** INCREMENTAL store refresh, delta-graph core — the piece that
    * closes the 100 TB dedup loop: fold everything ingested since the
    * last refresh back into the closure WITHOUT re-deriving anything
    * corpus-sized. The insight that makes a delta-sized refresh exact:
    * band collision is an equality on (band, h1, h2), so two STORED
    * documents that could ever be joined by a new batch document
    * already collide with each other and are in the same stored
    * cluster — a batch can merge existing clusters and absorb
    * singletons, but can never create a store↔store edge that the
    * store closure missed. Contracting each stored cluster to its
    * ROOT therefore preserves connectivity exactly, and one
    * [[propagate]] over the DELTA graph — nodes: batch doc ids plus
    * the matched roots; edges: batch-internal LSH pairs plus
    * (batch doc, matched root) — yields labels bit-equal to a full
    * recompute over store ∪ batch (min doc id per merged component:
    * each root is already the min of its stored members, so
    * min(roots, batch ids) is the global min). q152 pins that
    * equality against DuckDB's independent full-corpus closure;
    * RefreshPropertySpec replays it over sequential batches.
    *
    * Precondition for that equality: `compStore` IS the transitive
    * closure of `bandStore`'s collision graph (the invariant
    * [[writeComponentsStore]] establishes and [[refreshStores]]
    * maintains). Against a coarser store — e.g. per-source clustering
    * unioned later — the refresh still merges everything the batch
    * touches, and [[pendingBridges]] reports exactly the gap.
    *
    * @param newBands  [[bandSignatures]] of the batch (pass a
    *                  localCheckpointed frame — callers reuse it for
    *                  the band-store append)
    * @param newIds    (doc_id) frame of the batch
    * @return (batchLabels: (doc_id, comp) for EVERY batch doc
    *         (unmatched singletons label themselves),
    *         storeNodes: (id, label) for every matched store root —
    *         label == id when the cluster survives unchanged, < id
    *         never (min-label), != id when clusters merged; roots
    *         absent from the component store are store singletons
    *         drawn into a cluster for the first time).
    */
  private[graft] def refreshDelta(newBands: DataFrame, newIds: DataFrame,
      bandStore: DataFrame, compStore: DataFrame): (DataFrame, DataFrame) = {
    val matches = newBands
      .select(col("doc_id").as("new_id"), col("band"), col("h1"), col("h2"))
      .join(bandStore, Seq("band", "h1", "h2"))
      .select(col("new_id"), col("doc_id").as("old_id"))
      .distinct()
    // resolve matched docs to their cluster ROOT (store singletons —
    // docs in no stored pair — act as their own root, the closure's
    // singleton convention)
    val rootEdges = matches
      .join(compStore.withColumnRenamed("doc_id", "old_id")
        .withColumnRenamed("comp", "old_comp"), Seq("old_id"), "left")
      .select(col("new_id").as("da"),
        coalesce(col("old_comp"), col("old_id")).as("db"))
      .distinct()
    val edges = pairsFromBands(newBands).union(rootEdges)
      .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
    val labels = labelEdges(edges) // (id, label), delta-graph nodes only
    val batchLabels = newIds
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("comp"))
    val storeNodes = labels
      .join(newIds.withColumnRenamed("doc_id", "id"), Seq("id"), "left_anti")
    (batchLabels, storeNodes)
  }

  /** The refreshed component table as a FRAME (the disk shape is
    * [[refreshStores]]): existing rows keep their cluster unless its
    * root was merged away (broadcast relabel on the tiny
    * root → new-root map — the corpus side never shuffles), store
    * singletons drawn into a cluster gain their first row, and every
    * batch doc lands with its delta label. Equal to the full
    * recompute's closure over store ∪ batch, plus self-labeled rows
    * for batch singletons (the convention [[assignToClusters]]
    * already outputs).
    */
  private[graft] def refreshedComponents(compStore: DataFrame,
      batchLabels: DataFrame, storeNodes: DataFrame): DataFrame = {
    val (relabeled, delta) =
      refreshedParts(compStore, batchLabels, storeNodes)
    relabeled.union(delta)
  }

  /** [[refreshedComponents]] split for the two-write disk shape:
    * (corpus side: existing rows through the broadcast relabel — NO
    * exchange; delta side: newly-paired store singletons ∪ batch
    * labels — the only rows that shuffle).
    */
  private[graft] def refreshedParts(compStore: DataFrame,
      batchLabels: DataFrame, storeNodes: DataFrame)
      : (DataFrame, DataFrame) = {
    val relabel = storeNodes.filter(col("label") =!= col("id"))
      .select(col("id").as("comp"), col("label").as("new_comp"))
    val relabeled = compStore
      .join(broadcast(relabel), Seq("comp"), "left")
      .select(col("doc_id"),
        coalesce(col("new_comp"), col("comp")).as("comp"))
    // matched roots with no component row = store singletons newly
    // drawn into a cluster (left side is delta-sized; the store side
    // arrives bucketed on doc_id from disk, so the anti-join shuffles
    // only the delta)
    val newlyPaired = storeNodes
      .join(compStore.select(col("doc_id").as("id")), Seq("id"), "left_anti")
      .select(col("id").as("doc_id"), col("label").as("comp"))
    (relabeled, newlyPaired.union(batchLabels))
  }

  /** Cross-operator surface: [[minhashPairsSql]] for oracle chains
    * built outside this file (must run under `WITH RECURSIVE`).
    */
  def minhashPairsCtes: String = minhashPairsSql

  /** Min-label propagation over the [[minhashPairs]] near-dup graph —
    * q57's operator body, shared with q83's canonical selection.
    * Output: (doc_id, comp) for every doc that appears in a pair.
    *
    * Each round combines a one-hop neighbor-min with a POINTER-JUMP
    * (L'(id) = L(L(id)) — every label is itself a node id, so the
    * label table doubles as the parent table): reach at least doubles
    * per round, so convergence takes O(log diameter) rounds instead of
    * O(diameter). Near-dup clusters still converge in 2–3 rounds (the
    * jump is a cheap self-join on the tiny label table), but a
    * pathological chain-shaped corpus — adversarial paraphrase chains
    * at 100 TB — now costs ~log₂(chain length) shuffles, not one per
    * link. The 40-round cap is therefore unreachable for any finite
    * graph (2⁴⁰ diameter); hitting it means the propagation itself is
    * broken, and shipping non-converged labels would surface only as
    * an opaque oracle hash mismatch — so fail loudly with the live
    * label-churn count instead.
    */
  private def dedupComponents(s: SparkSession, d: String): DataFrame = {
    // materialize the pair graph ONCE before the symmetric union
    // (both union arms would otherwise re-run the whole minhash
    // pipeline)
    val edges = minhashPairs(s, d).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
    labelEdges(edges).select(col("id").as("doc_id"), col("label").as("comp"))
  }

  /** Connected components of ONE micro-batch's band-collision graph —
    * the within-batch piece of incremental assignment. The
    * corpus-scale path (salted pair explosion + iterative
    * [[propagate]]) is the wrong tool at batch size: its cost is
    * driver-round SCHEDULING, not data (profiled at the WET seam:
    * 4.4 s of a 5.6 s assignment on a 4k-record batch, ~2.9× the
    * whole exact-mode verdict chain), because every propagate round
    * is 3 eager jobs no matter how tiny the graph. A batch graph is
    * batch-local by definition, so under [[BatchUfMaxRows]] band rows
    * the components come from a
    * SINGLE-TASK union-find over the doc–bucket edges instead — one
    * job, no pair explosion (an all-duplicates batch generates C(n,2)
    * pairs but only 4n doc–bucket edges), labels identical to
    * propagate's (min doc id per component; connectivity is the same
    * "shares a (band,h1,h2) bucket" relation the pair generator
    * walks). The task holds O(batch band rows) — the same
    * batch-must-fit contract the landing pin already imposes; above
    * the bound the distributed path takes over unchanged. This is
    * mapPartitions-as-designed: genuinely partition-local imperative
    * logic, not a bypass of a relational plan.
    */
  private[graft] val BatchUfMaxRows = 2000000L

  /** The shared imperative union-find core (advice fix: the two
    * mapPartitions bodies carried verbatim copies): consumes (a, b)
    * union ops, emits (id, root) for every node seen in any op.
    * Union-by-smaller-root + path compression, so the root IS the
    * component's min id and the walk stays near-linear. A self-op
    * (d, d) registers a node without uniting anything — callers use
    * it for singleton membership.
    */
  private def unionFindLabels(
      ops: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    ops.foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toArray.iterator.map(d => (d, find(d)))
  }

  private[graft] def batchGraphLabels(
      newBands: DataFrame, limit: Long = BatchUfMaxRows): DataFrame = {
    // newBands is pinned by contract — the count is a cache scan
    if (newBands.count() <= limit) batchComponents(newBands)
    else propagate(pairsFromBands(newBands))._1
  }

  /** The single-task union-find of [[batchGraphLabels]]: rows in the
    * same (band, h1, h2) bucket union (each against the bucket's
    * first doc — same connectivity, linear edges), larger root under
    * smaller so the root IS the component's min id. Emits (id, label)
    * for every banded doc; non-colliding docs self-label (a superset
    * of propagate's pair-node output — both call sites left-join and
    * coalesce to self, so the extra rows are identities).
    */
  private[graft] def batchComponents(newBands: DataFrame): DataFrame = {
    val s = newBands.sparkSession
    import s.implicits._
    newBands
      .select(col("band"), col("h1"), col("h2"), col("doc_id"))
      .as[(Int, Long, Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        // each row unions against its bucket's first doc (same
        // connectivity, linear ops); a bucket's first doc registers
        // itself via a self-op so singletons still emit
        val first =
          scala.collection.mutable.HashMap.empty[(Int, Long, Long), Long]
        unionFindLabels(it.map { case (b, x, y, d) =>
          first.get((b, x, y)) match {
            case None => first((b, x, y)) = d; (d, d)
            case Some(f) => (f, d)
          }
        })
      }
      .toDF("id", "label")
  }

  /** Connected-component labels of a PINNED (da, db) edge frame with
    * the same size-bounded strategy choice as [[batchGraphLabels]]
    * (round 17): under [[BatchUfMaxRows]] edge rows (the count is a
    * cache scan — callers pass localCheckpointed frames by contract)
    * the labels come from [[edgeComponents]]' single-task union-find
    * — ONE job instead of [[propagate]]'s 3 eager jobs per round,
    * which profiling pinned as pure driver-round scheduling at
    * micro-batch scale (the incremental family runs a propagate per
    * wave over a batch-local delta graph). Above the bound the
    * iterative path takes over unchanged, so corpus-scale closures
    * (100 TB) keep the distributed algorithm. Labels are identical
    * by construction: both produce min-node-id per component over
    * exactly the edge-endpoint node set.
    */
  private[graft] def labelEdges(edges: DataFrame): DataFrame = {
    if (edges.count() <= BatchUfMaxRows) edgeComponents(edges)
    else propagate(edges)._1
  }

  /** The single-task union-find of [[labelEdges]] — [[batchComponents]]'
    * imperative core over an explicit edge list (union-by-smaller-root,
    * so the root IS the component's min id; path compression keeps it
    * near-linear). Emits (id, label) for every edge endpoint — the
    * exact node set [[propagate]] labels (its self-arm keeps every
    * endpoint).
    */
  private[graft] def edgeComponents(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    edges.select(col("da"), col("db")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions(unionFindLabels)
      .toDF("id", "label")
  }

  /** The pointer-doubling min-label propagation over an undirected
    * (da, db) edge frame, exposed for fixture testing (a planted
    * 50-deep chain must converge in ≤ ⌈log₂ 50⌉ + seed rounds, which
    * the adversarial-graph spec pins). Returns the converged
    * (id, label) frame and the number of rounds taken.
    */
  private[graft] def propagate(edges: DataFrame): (DataFrame, Int) = {
    val adj = edges.select(col("da").as("src"), col("db").as("dst"))
      .union(edges.select(col("db").as("src"), col("da").as("dst")))
      .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
    // seed one propagation step ahead: min(self, direct neighbors)
    // falls out of the same aggregation that enumerates the nodes
    // (replaces a distinct() AND saves a full round)
    var labels = adj.groupBy(col("src"))
      .agg(min(col("dst")).as("nbr"))
      .select(col("src").as("id"),
        least(col("src"), col("nbr")).as("label"))
      .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
    var converged = false
    var rounds = 0
    while (!converged && rounds < 40) {
      // Hop: min over the neighbors' labels. The round's OLD label
      // rides through the aggregation (the self-arm of the union
      // carries it; max() recovers it since each id has exactly one
      // self row), so the convergence probe is a filter over the
      // checkpointed frame, not an extra join.
      val hop = adj.join(labels, adj("dst") === labels("id"))
        .select(adj("src").as("id"), labels("label").as("label"),
          lit(null).cast("long").as("old"))
        .union(labels.select(col("id"), col("label"),
          col("label").as("old")))
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"), max(col("old")).as("old"))
        .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
      // Jump: L'(id) = L(L(id)). Labels are node ids and every node
      // has a row (the self-arm keeps it), so the inner self-join is
      // total; the min-label invariant L(x) ≤ x makes the parent's
      // label the smaller of the two (least() documents the intent).
      val next = hop.as("c")
        .join(hop.as("p"), col("c.label") === col("p.id"))
        .select(col("c.id").as("id"),
          least(col("c.label"), col("p.label")).as("label"),
          col("c.old").as("old"))
        .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
      converged = next.filter(col("label") < col("old")).isEmpty
      labels = next.select(col("id"), col("label"))
      rounds += 1
    }
    if (!converged) {
      val churning = labels.as("now")
        .join(labels.as("then"), col("now.id") === col("then.label"))
        .count() // diagnostic only — never reached for a finite graph
      throw new IllegalStateException(
        s"q57 label propagation did not converge within $rounds " +
          s"pointer-doubling rounds (~$churning labels still " +
          "churning): the pair graph or the propagation is broken; " +
          "refusing to ship a non-transitive closure.")
    }
    (labels, rounds)
  }


  /** q35's capped-inverted-index exact Jaccard pairs (da, db, jac) —
    * shared with the q110 sketch-accuracy eval. The input goes through
    * [[Tables.parallel]]: the md5-per-kgram shingle stage is the
    * measured dominant cost, and a low-partition parquet corpus would
    * otherwise pin it to the file's split count instead of the
    * executor cores (a regression the q35/q110 path picked up when the
    * pairs logic was refactored behind [[jaccardPairsOf]]).
    */
  private[graft] def jaccardPairs(s: SparkSession, d: String): DataFrame =
    jaccardPairsOf(s, Tables.parallel(s, d, "documents"))

  /** The sampled sketch-accuracy eval (q212/q214) parameterized by the
    * sample modulus: keep the docs whose salted hash ≡ 0 (mod `mod`) —
    * a deterministic 1/mod doc sample — and run q110's exact-vs-sketch
    * chain over the sample. Pair volume drops with the rate SQUARED
    * (both endpoints must survive), which is what makes the full-
    * corpus eval's measured-linear cost affordable at 100 TB. One
    * QueryDef per declared rate so each oracle replays its own pinned
    * modulus. The salt is pinned per rate too: a declared query whose
    * correctness row is empty at the driver gate's scale factor would
    * be a trivially-green gate (round-16 verdict), so each rate's
    * salt is chosen to keep at least one q110 pair in the sample at
    * sf0.01 — the oracle SQL replays the same salt, so the choice is
    * hash-gated, not free.
    */
  private def minhashErrorSampledDef(name: String, mod: Int,
      salt: String = "mh-eval-"): QueryDef =
    QueryDef(
      name,
      (s, d) => {
        graft.functions.Md5Long.register(s)
        // Tables.parallel, not Tables: the shingle stage downstream is
        // the dominant cost and must not inherit a low-partition
        // parquet split count (same fix as jaccardPairs).
        val docs = Tables.parallel(s, d, "documents")
          .filter(expr(
            s"pmod(md5long(concat('$salt', cast(doc_id as string))), $mod)")
            === 0)
          .localCheckpoint(true)
        val P = graft.functions.MinHashSignature.P
        val sigCols = (0 to 7).map { k =>
          val (a, b) = (graft.functions.MinHashSignature.A(k),
            graft.functions.MinHashSignature.B(k))
          min((lit(a) * (col("sid") % P) + lit(b)) % lit(P)).as(s"mh$k")
        }
        val sigs = hashedShinglesOf(docs)
          .groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
        val sa = sigs.select(col("doc_id").as("da") +:
          (0 to 7).map(k => col(s"mh$k").as(s"a$k")): _*)
        val sb = sigs.select(col("doc_id").as("db") +:
          (0 to 7).map(k => col(s"mh$k").as(s"b$k")): _*)
        jaccardPairsOf(s, docs)
          .join(sa, "da").join(sb, "db")
          .withColumn("matches",
            (0 to 7).map(k =>
              when(col(s"a$k") === col(s"b$k"), 1).otherwise(0))
              .reduce(_ + _))
          .select(col("da"), col("db"), col("jac"),
            (col("matches") / lit(8.0)).as("est"),
            round(col("matches") / lit(8.0) - col("jac"), 4).as("err"))
      },
      Some(s"""WITH documents AS (
              |  SELECT * FROM main.documents
              |  WHERE ('0x' || substr(md5('$salt' || doc_id::VARCHAR),
              |          1, 15))::BIGINT % $mod = 0),
              |$jaccardPairsSql,
              |coefq(seed, a, b) AS (VALUES ${(0 to 7).map(k =>
                s"(${k}, ${graft.functions.MinHashSignature.A(k)}, " +
                  s"${graft.functions.MinHashSignature.B(k)})").mkString(", ")}),
              |mhq AS (SELECT doc_id, seed,
              |          min((a * (sid % ${graft.functions.MinHashSignature.P}) + b)
              |              % ${graft.functions.MinHashSignature.P}) AS mh
              |        FROM sh CROSS JOIN coefq GROUP BY 1, 2),
              |agree AS (SELECT jp.da, jp.db, jp.jac,
              |            CAST(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END)
              |                 AS BIGINT) AS matches
              |          FROM jp
              |          JOIN mhq x ON x.doc_id = jp.da
              |          JOIN mhq y ON y.doc_id = jp.db AND y.seed = x.seed
              |          GROUP BY 1, 2, 3)
              |SELECT da, db, jac,
              |  matches / CAST(8 AS DOUBLE) AS est,
              |  round(matches / CAST(8 AS DOUBLE) - jac, 4) AS err
              |FROM agree""".stripMargin))

  /** [[jaccardPairs]] over an arbitrary (doc_id, text) frame (the
    * q212 sampled eval) — identical capped-inverted-index arithmetic.
    */
  private[graft] def jaccardPairsOf(s: SparkSession, docs: DataFrame): DataFrame = {
        // Inverted index as posting lists: the md5 shingle subtree is
        // shuffled ONCE (the sole sid exchange), each sid's sorted
        // member list is built by collect_list, and candidate pairs
        // come from exploding the per-list combinations — no
        // self-join, so no second/third pass over the shingle subtree
        // (every join-based cap variant measured 2-3× slower here:
        // the optimizer either duplicated the md5 subtree around the
        // broadcast, or paid an extra full shuffle). Per-doc sizes
        // come from the same row-local arrays (size of the distinct
        // sid array) — a shuffle-free scan that broadcasts into the
        // final join.
        //
        // The df cap bounds skew: an uncapped inverted index costs
        // Σ df(s)² pairs, so one boilerplate shingle with df ~10⁶
        // yields ~10¹² pairs from a single key at 100 TB. Shingles
        // with df > JaccardDfCap carry no discriminating signal (any
        // pair they'd find shares rarer shingles, or is an exact dup
        // the q34 pre-pass catches), so over-cap posting lists are
        // dropped before the combination explode — a free filter on
        // size(ds), bounding the worst key at C(cap, 2) pairs and one
        // df·8-byte list. The cap is part of the operator's semantics
        // (the oracle applies the same one); at the tested SFs
        // max df = 25, so results equal the uncapped formulation.
        //
        // ObjectHashAggregate fallback threshold is raised engine-wide
        // in [[graft.Tables]] (the posting build was 2× slower on the
        // sort-based path; buffers here are bounded: one row per sid,
        // lists ≤ df elements).
        // Per-doc distinct-shingle counts need no hashing at all:
        // distinct STRINGS == distinct 60-bit ids (modulo the same
        // astronomically-unlikely collision both engines accept), so
        // n is size(array_distinct(...)) over the row's own shingle
        // array — a shuffle-free scan that broadcasts into the final
        // join. coalesce makes n NON-NULLABLE by construction:
        // otherwise constraint propagation infers isnotnull(n) from
        // the jaccard arithmetic, substitutes the alias, and pushes
        // the whole shingle transform below the exchange into the
        // scan filter — a second, serial evaluation per join side
        // (measured 2× the entire query).
        val cnt = docs
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 3)
          .select(col("doc_id"),
            coalesce(size(array_distinct(expr(
              "transform(sequence(0, size(t)-3), i -> " +
                "concat_ws(' ', t[i], t[i+1], t[i+2]))"))), lit(0))
              .cast("long").as("n"))
        val pairs = hashedShinglesOf(docs)
          .groupBy(col("sid"))
          .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
          .filter(size(col("ds")).between(2, JaccardDfCap))
          // The posting rows are small (≤ cap ids each) so AQE
          // coalesces the agg exchange to ~one partition — but their
          // EXPLODED output is the pair stream (~50× larger), a size
          // AQE cannot see. Spread the posting rows explicitly so the
          // combination explode and the pair-count partial aggregate
          // run cluster-wide.
          .repartition(s.sparkContext.defaultParallelism)
          // nested codegen explodes, not flatten(transform(...)): the
          // HOF generator builds each posting's whole pair block
          // through interpreted lambdas (see saltedPairs); ds is
          // sorted-distinct, so da < db keeps exactly the i < j pairs
          .withColumn("da", explode(col("ds")))
          .withColumn("db", explode(col("ds")))
          .filter(col("da") < col("db"))
          .groupBy(col("da"), col("db"))
          .agg(count(lit(1)).as("inter"))
        pairs
          .join(cnt.withColumnRenamed("doc_id", "da_").withColumnRenamed("n", "na"),
            col("da") === col("da_"))
          .join(cnt.withColumnRenamed("doc_id", "db_").withColumnRenamed("n", "nb"),
            col("db") === col("db_"))
          .withColumn("jac", col("inter") / (col("na") + col("nb") - col("inter")))
          .filter(col("jac") >= 0.2)
          .select(col("da"), col("db"), round(col("jac"), 4).as("jac"))
  }

  /** DuckDB mirror of [[jaccardPairs]] as a CTE chain ending in
    * `jp(da, db, jac)`.
    */
  private val jaccardPairsSql =
    s"""$hashedShinglesSql,
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |ok AS (SELECT sid FROM sh GROUP BY sid
       |       HAVING count(*) BETWEEN 2 AND $JaccardDfCap),
       |shok AS (SELECT sh.* FROM sh JOIN ok USING (sid)),
       |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |          FROM shok a JOIN shok b
       |            ON a.sid = b.sid AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |jp AS (SELECT da, db, round(inter / (ca.n + cb.n - inter), 4) AS jac
       |       FROM pairs
       |       JOIN cnt ca ON da = ca.doc_id
       |       JOIN cnt cb ON db = cb.doc_id
       |       WHERE inter / (ca.n + cb.n - inter) >= 0.2)""".stripMargin

  /** (doc_id, t: token array, n_tokens) — the q164/q165 base frame. */
  private def tokenizedDocs(docs0: DataFrame): DataFrame =
    docs0.select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("n_tokens", size(col("t")).cast("long"))

  /** Maximal cross-document duplicated token runs, one row per
    * (doc_id, island) member interval: every 8-gram occurring in ≥ 2
    * distinct docs marks [start, start+7]; overlapping marks merge via
    * window island detection (`start > max(end) over preceding` + a
    * running flag sum). Marking is LINEAR in gram occurrences — a
    * df=10⁶ boilerplate gram costs 10⁶ marked rows, not C(10⁶,2)
    * pairs — so unlike the pair generators above there is no df² term
    * and no cap to tune. Shuffles: gram df + the dup-mark semi join
    * (both on the 60-bit gid), then the per-doc window's doc_id
    * exchange; island arithmetic is doc-local.
    */
  private def dupIslands(docs: DataFrame): DataFrame = {
    val dupGids = gramDf(docs).filter(col("df") >= 2).select(col("gid"))
    islandsFrom(positionedGrams(docs).join(dupGids, "gid"))
  }

  /** Positioned 8-gram occurrences: (doc_id, start, end, gid). */
  private def positionedGrams(docs: DataFrame): DataFrame =
    docs.filter(col("n_tokens") >= 8)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(t)-7),
          |  i -> struct(cast(i as bigint) as start,
          |              md5long(concat_ws(' ', slice(t, i, 8))) as gid))"""
          .stripMargin)).as("o"))
      .select(col("doc_id"), col("o.start").as("start"),
        (col("o.start") + 7).as("end"), col("o.gid").as("gid"))

  /** Distinct-doc frequency per gram: (gid, df) — the gram-store
    * frame ([[writeGramStore]]) and the df≥2 gate of [[dupIslands]].
    */
  private[graft] def gramDf(docs: DataFrame): DataFrame =
    positionedGrams(docs).select(col("gid"), col("doc_id")).distinct()
      .groupBy(col("gid")).agg(count(lit(1)).as("df"))

  /** Merge marked intervals into maximal islands (doc-local). */
  private def islandsFrom(marked: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    marked
      .withColumn("pmax", max(col("end"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("fresh",
        when(col("pmax").isNull || col("start") > col("pmax"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("fresh"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"), col("island"), col("start"), col("end"))
  }

  /** [[gramDf]] over raw (doc_id, text) rows — the store frame as a
    * composable unit (SpanIngestSpec builds subset stores from it).
    */
  private[graft] def gramFrequencies(docs: DataFrame): DataFrame =
    gramDf(tokenizedDocs(docs))

  /** (doc_id, gid) gram-occurrence sites over raw (doc_id, text)
    * rows — the Round9OpsSpec staleness recount hook.
    */
  private[graft] def gramOccurrences(docs: DataFrame): DataFrame =
    positionedGrams(tokenizedDocs(docs)).select(col("doc_id"), col("gid"))

  /** q164's frame over raw (doc_id, text) rows: per-doc duplicated-
    * span coverage. Package-visible so SpanPropertySpec can drive it
    * over generated corpora against a sequential interval-union
    * reference.
    */
  private[graft] def spanCoverage(docs0: DataFrame): DataFrame = {
    graft.functions.Md5Long.register(docs0.sparkSession)
    val docs = tokenizedDocs(docs0)
    val perDoc = dupIslands(docs)
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("end")) - min(col("start")) + 1).as("ilen"))
      .groupBy(col("doc_id")).agg(sum(col("ilen")).as("dup"))
    docs.select(col("doc_id"), col("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup"), lit(0L)).cast("double")
          / col("n_tokens").cast("double"), 6).as("coverage"))
  }

  /** Persist the corpus' per-gram distinct-doc frequencies bucketed
    * on gid — the span-coverage twin of [[writeBandStore]]. Consumers
    * ([[spanCoverageAgainstStore]], `SpanIngest`) join batch grams
    * against it on the bucket key, so the corpus-sized side never
    * re-shuffles; only the batch's gram frame routes to the buckets.
    */
  def writeGramStore(s: SparkSession, d: String, table: String,
      buckets: Int = -1): Unit =
    // batch_id 0 marks the base build; installments append 1, 2, …
    // and [[refreshGramStore]] uses max(batch_id) as the replay
    // watermark (the shared DeltaStore contract)
    DeltaStore.write(s,
      gramDf(tokenizedDocs(Tables.parallel(s, d, "documents"))),
      table, Seq("gid"), buckets)

  /** Fold an ingest batch's gram frequencies into the persisted gram
    * store — the span-coverage face of [[refreshStores]]: a
    * delta-sized bucketed APPEND of (gid, df_delta, batch_id) rows,
    * nothing corpus-sized moves. Disjoint installments make the union
    * df the SUM of per-installment dfs, so the store is exact under
    * any number of appends as long as readers aggregate per gid at
    * scan time ([[readGramStore]]). NOTE [[compactStore]]'s full-row
    * DISTINCT is wrong for this store (deltas must sum, not dedup) —
    * compaction here is [[compactGramStore]].
    *
    * REPLAY GUARD (the round-9 verdict's watch item): disjointness of
    * installments is no longer assumed — it is ENFORCED at the store
    * boundary. Every append is stamped with its monotone `batchId`
    * (SpanIngest's micro-batch id, or any caller-monotone epoch).
    * Three cases (round-10 advice — replay and non-monotone novelty
    * are no longer conflated):
    *   - `batchId` already recorded → genuine REPLAY (crash after
    *     append, re-delivered micro-batch, re-run backfill): NO-OP,
    *     returns false — a replayed batch can never double-count.
    *   - `batchId` below the watermark but never recorded → NOVEL
    *     data carrying a non-monotone id (e.g. a streaming checkpoint
    *     reset restarting micro-batch ids at 0): THROWS — silently
    *     refusing it would under-count the store; the caller must
    *     re-base the epoch past the watermark.
    *   - otherwise → folded, returns true.
    * [[compactGramStore]] collapses the recorded-id set to the
    * watermark alone, so after compaction a replay of a
    * PRE-compaction id (necessarily older than the last batch — the
    * only one micro-batch recovery ever re-delivers) also lands in
    * the loud-fail branch: conservative by design, an operator
    * decision instead of a silent guess in either direction. The
    * recorded-id read is a column-pruned scan of one BIGINT column
    * (distinct ids are installment-count sized); the append itself is
    * atomic at parquet job commit, so crash-before-commit leaves
    * nothing visible (retry appends fresh) and crash-after-commit is
    * exactly the replay the guard absorbs.
    */
  def refreshGramStore(s: SparkSession, batch: DataFrame,
      table: String, batchId: Long): Boolean =
    DeltaStore.refresh(s, gramFrequencies(batch),
      table, Seq("gid"), batchId)

  /** Sum-on-read view of the gram store — exact after any number of
    * [[refreshGramStore]] appends (the shared DeltaStore view;
    * SpanIngestSpec pins the exchange-free plan).
    */
  def readGramStore(s: SparkSession, table: String): DataFrame =
    DeltaStore.readSum(s, table, Seq("gid"), Seq("df"))

  /** Collapse K refresh appends to one summed row per gid, one file
    * per bucket — [[compactStore]]'s job with SUM semantics. Rolls
    * forward to `newTable` (overwriting a table mid-read is
    * undefined); shuffle-free for the same reason as compactStore:
    * the forced bucketed scan already clusters each gid in one task.
    * The store's replay watermark (max batch_id) is carried onto
    * every compacted row via a 1-row broadcast — a scalar cross that
    * keeps the bucket partitioning — so a batch replayed AFTER
    * compaction is still refused by [[refreshGramStore]]'s guard.
    */
  def compactGramStore(s: SparkSession, table: String,
      newTable: String): Unit =
    DeltaStore.compact(s, table, newTable,
      readGramStore(s, table), Seq("gid"))

  /** INCREMENTAL duplicated-span coverage: q164 for an ingest batch
    * against a persisted corpus, without touching the corpus. A batch
    * gram is duplicated iff it appears in ≥ 2 distinct docs of
    * store ∪ batch — and because the two doc sets are disjoint that
    * is exactly `store_df + batch_df ≥ 2`, so the batch marks itself
    * from its own gram counts plus one delta-sized lookup into the
    * (gid)-bucketed gram store (batch side shuffles to the buckets;
    * the store side never moves). Equality with the full recompute is
    * BY CONSTRUCTION, and q166 proves it under the driver hash gate.
    * The remnant mirrors assignment's bridge rule: STORED docs whose
    * coverage the new batch raised keep their stale numbers until the
    * next gram-store refresh — the never-rewrite-the-store trade
    * every incremental consumer here makes.
    *
    * `gramStore`: (gid: Long, df: Long) — [[writeGramStore]] output
    * or any frame with those columns.
    */
  def spanCoverageAgainstStore(batch: DataFrame,
      gramStore: DataFrame): DataFrame = {
    graft.functions.Md5Long.register(batch.sparkSession)
    val tok = tokenizedDocs(batch)
    val occ = positionedGrams(tok)
    val bdf = occ.select(col("gid"), col("doc_id")).distinct()
      .groupBy(col("gid")).agg(count(lit(1)).as("bdf"))
    val dupG = bdf
      // sum-on-read INSIDE the operator (round-10 advice): a caller
      // may pass the raw multi-installment table, where a gid carries
      // one delta row per append — joining it un-aggregated would
      // multiply occurrence rows into the island derivation. Over a
      // readGramStore view or a single-installment store the agg is a
      // no-op-cheap pass; over the raw bucketed table it is
      // exchange-free (bucket partitioning satisfies the grouping).
      .join(gramStore.groupBy(col("gid")).agg(sum(col("df")).as("df")),
        Seq("gid"), "left")
      .filter(col("bdf") + coalesce(col("df"), lit(0L)) >= 2)
      .select(col("gid"))
    val perDoc = islandsFrom(occ.join(dupG, "gid"))
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("end")) - min(col("start")) + 1).as("ilen"))
      .groupBy(col("doc_id")).agg(sum(col("ilen")).as("dup"))
    tok.select(col("doc_id"), col("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup"), lit(0L)).cast("double")
          / col("n_tokens").cast("double"), 6).as("coverage"))
  }

  /** Incremental boilerplate STRIP against the persisted gram store —
    * q170's rewrite for an ingest batch, the transform
    * [[graft.streaming.SpanIngest.startWithStrip]] deploys per
    * micro-batch. Dup marking is `store_df + batch_df ≥ 2`
    * ([[spanCoverageAgainstStore]]'s rule — equal to the full-corpus
    * recompute by installment disjointness, the q166/q175 claim);
    * docs whose coverage EXCEEDS `minCoverage` get their islands
    * stripped, docs at or below pass through verbatim (0.0 strips
    * every island — exactly q170; a curation deployment typically
    * strips only heavy-boilerplate docs and lets light duplication
    * ride). Same cost shape as the scorer: linear marking, one
    * delta-sized store lookup, islands and the token filter doc-local.
    *
    * Output: (doc_id, n_tokens, dup_tokens, coverage, n_kept,
    * clean_text, clean_fp) — fingerprint via the native md5long, so
    * the rewrite is provable per batch without shipping text around.
    */
  def stripAgainstStore(batch: DataFrame, gramStore: DataFrame,
      minCoverage: Double = 0.0): DataFrame = {
    graft.functions.Md5Long.register(batch.sparkSession)
    val tok = tokenizedDocs(batch)
    val occ = positionedGrams(tok)
    val bdf = occ.select(col("gid"), col("doc_id")).distinct()
      .groupBy(col("gid")).agg(count(lit(1)).as("bdf"))
    val dupG = bdf
      // sum-on-read INSIDE the operator (round-10 advice): a caller
      // may pass the raw multi-installment table, where a gid carries
      // one delta row per append — joining it un-aggregated would
      // multiply occurrence rows into the island derivation. Over a
      // readGramStore view or a single-installment store the agg is a
      // no-op-cheap pass; over the raw bucketed table it is
      // exchange-free (bucket partitioning satisfies the grouping).
      .join(gramStore.groupBy(col("gid")).agg(sum(col("df")).as("df")),
        Seq("gid"), "left")
      .filter(col("bdf") + coalesce(col("df"), lit(0L)) >= 2)
      .select(col("gid"))
    val isl = islandsFrom(occ.join(dupG, "gid"))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("start")).as("a"), max(col("end")).as("b"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("a"), col("b"))).as("isl"),
        sum(col("b") - col("a") + 1).as("dup"))
    tok.join(isl, Seq("doc_id"), "left")
      .withColumn("dup_tokens", coalesce(col("dup"), lit(0L)))
      .withColumn("coverage",
        round(col("dup_tokens").cast("double")
          / col("n_tokens").cast("double"), 6))
      .withColumn("kept",
        when(col("isl").isNull || col("coverage") <= lit(minCoverage),
          col("t"))
          .otherwise(expr(
            "filter(t, (x, i) -> not exists(isl, s -> i + 1 >= s.a and i + 1 <= s.b))")))
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
        col("coverage"), size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("clean_text"),
        expr("md5long(concat_ws(' ', kept))").as("clean_fp"))
  }

  /** The q164/q165 oracle chain: tokens → positioned 8-gram gids →
    * cross-doc duplicated gids → marked intervals → islands.
    */
  private val dupSpanChainSql =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |      FROM documents),
      |g AS (SELECT doc_id, CAST(j AS BIGINT) AS s, CAST(j + 7 AS BIGINT) AS e,
      |        ('0x' || substr(md5(array_to_string(toks[j:j+7], ' ')), 1, 15))::BIGINT
      |          AS gid
      |      FROM t, UNNEST(generate_series(1, len(toks) - 7)) AS u(j)
      |      WHERE len(toks) >= 8),
      |dup AS (SELECT gid FROM (SELECT gid, count(DISTINCT doc_id) AS df
      |                         FROM g GROUP BY 1) WHERE df >= 2),
      |m AS (SELECT doc_id, s, e,
      |        max(e) OVER (PARTITION BY doc_id ORDER BY s
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |          AS pmax
      |      FROM g JOIN dup USING (gid)),
      |i AS (SELECT doc_id, s, e,
      |        sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY doc_id ORDER BY s
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS island
      |      FROM m)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // ---- q34: exact dedup (hash-groupBy on content fingerprint) --------
    QueryDef(
      "q34_dedup_exact",
      (s, d) =>
        Tables(s, d, "documents")
          .groupBy(md5(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n")),
      Some("""SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n
             |FROM documents GROUP BY 1""".stripMargin)),

    // ---- q91: incremental dedup (new batch vs historical store) ---------
    // The operational shape q34 doesn't cover: dedup an INCOMING batch
    // (source 'src4') against the already-ingested store plus itself.
    // Each batch doc is classified: duplicate of a store fingerprint,
    // duplicate of an earlier batch doc (first-writer-wins by doc_id),
    // or kept. At 100 TB the store fingerprint set is corpus-sized —
    // never broadcastable — so the membership test is a co-partitioned
    // sort-merge LEFT join on the 128-bit fp, and the within-batch
    // keeper window rides the SAME fp-hash exchange the join needs
    // (one shuffle of each side, total). In production the store side
    // is a bucketed fingerprint table, which deletes its half of the
    // exchange entirely.
    QueryDef(
      "q91_incremental_dedup",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
        val store = docs.filter(col("source") =!= "src4")
          .select(col("fp")).distinct().withColumn("in_store", lit(1))
        val wFp = Window.partitionBy(col("fp"))
        docs.filter(col("source") === "src4")
          .withColumn("batch_keeper", min(col("doc_id")).over(wFp))
          .join(store, Seq("fp"), "left")
          .select(col("doc_id"), col("fp"),
            when(col("in_store").isNotNull, "dup_of_store")
              .when(col("doc_id") =!= col("batch_keeper"), "dup_in_batch")
              .otherwise("kept").as("status"),
            when(col("in_store").isNull && col("doc_id") =!= col("batch_keeper"),
              col("batch_keeper")).as("keeper"))
      },
      Some("""WITH f AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
             |store AS (SELECT DISTINCT fp FROM f WHERE source <> 'src4'),
             |b AS (SELECT doc_id, fp,
             |        min(doc_id) OVER (PARTITION BY fp) AS batch_keeper
             |      FROM f WHERE source = 'src4')
             |SELECT doc_id, b.fp,
             |  CASE WHEN store.fp IS NOT NULL THEN 'dup_of_store'
             |       WHEN doc_id <> batch_keeper THEN 'dup_in_batch'
             |       ELSE 'kept' END AS status,
             |  CASE WHEN store.fp IS NULL AND doc_id <> batch_keeper
             |       THEN batch_keeper END AS keeper
             |FROM b LEFT JOIN store ON b.fp = store.fp""".stripMargin)),

    // ---- q102: prefix-filtering similarity join (PPJoin-style) ----------
    // The algorithmic upgrade over q35's full inverted index for HIGH
    // thresholds (Chaudhuri et al. SSJoin / Xiao et al. PPJoin):
    // order each document's shingle set by global rarity (df, sid)
    // and index only its PREFIX — the first ⌊n/2⌋+1 elements for
    // τ = 0.5, the shortest prefix two τ-similar sets must overlap
    // in. Rare-first ordering makes prefix postings short by
    // construction, so the candidate count tracks the number of TRUE
    // near-pairs instead of Σ df² over all shingles — at 100 TB this
    // is the difference between indexing every shingle and indexing
    // ~half of each document's rarest. Verification is exact:
    // intersection on the full sorted sets, and the τ test is the
    // integer cross-multiplication 3·|A∩B| ≥ |A|+|B| (no float in
    // the decision). The df table shuffles with the shingle stream
    // (vocab-sized — only broadcastable when known small); lists are
    // materialized once and reused for prefix explode and both
    // verify joins.
    QueryDef(
      "q102_prefix_join",
      (s, d) => {
        val sh = hashedShingles(s, d)
          .select(col("doc_id"), col("sid")).distinct()
        // df rides a sid-partitioned window count (the q75 precedent):
        // one sid exchange annotates every occurrence in place, where
        // the aggregate-then-join formulation paid the dfreq aggregate
        // PLUS a sid join over the full occurrence stream (measured
        // 5.0 → 3.2 s for the list build on the adversarial corpus,
        // identical df values so the rare-first order is unchanged)
        val wdf = Window.partitionBy(col("sid"))
        val lists = sh.withColumn("df", count(lit(1)).over(wdf))
          .groupBy(col("doc_id"))
          .agg(expr("transform(sort_array(collect_list(struct(df, sid))), x -> x.sid)")
            .as("ts"))
          .withColumn("n", size(col("ts")))
          // NOT adaptiveRead (round 17): consumers explode + intersect
          // the ts arrays — per-row work here is array-heavy, so the
          // byte-derived partition count underestimates it (measured
          // +0.2 s coalesced at sf0.1)
          .localCheckpoint(true)
        val pre = lists
          .select(col("doc_id"), col("n"),
            explode(expr("slice(ts, 1, cast(n div 2 as int) + 1)")).as("psid"))
        // length filter: J ≥ τ forces min/max ≥ τ, so τ = 0.5 kills
        // any candidate whose sizes differ by more than 2× BEFORE the
        // array-carrying verify joins — the standard SSJoin companion
        // to the prefix filter, integer-only
        val cands = pre.join(
            pre.select(col("psid"), col("doc_id").as("db"), col("n").as("nb2")), "psid")
          .filter(col("doc_id") < col("db")
            && greatest(col("n"), col("nb2")) <= lit(2) * least(col("n"), col("nb2")))
          .select(col("doc_id").as("da"), col("db")).distinct()
        cands
          .join(lists.select(col("doc_id").as("da"), col("ts").as("ta"),
            col("n").as("na")), "da")
          .join(lists.select(col("doc_id").as("db"), col("ts").as("tb"),
            col("n").as("nb")), "db")
          .withColumn("o", size(array_intersect(col("ta"), col("tb"))))
          .filter(lit(3) * col("o") >= col("na") + col("nb"))
          .select(col("da"), col("db"), col("o").as("overlap"),
            round(col("o") / (col("na") + col("nb") - col("o")), 4).as("jac"))
      },
      Some(s"""WITH $hashedShinglesSql,
              |dfq AS (SELECT sid, count(*) AS df FROM sh GROUP BY 1),
              |lists AS (SELECT doc_id,
              |            list(sid ORDER BY df, sid) AS ts,
              |            CAST(count(*) AS INTEGER) AS n
              |          FROM sh JOIN dfq USING (sid) GROUP BY doc_id),
              |pre AS (SELECT doc_id, n, u.psid
              |        FROM lists, UNNEST(ts[1 : n // 2 + 1]) AS u(psid)),
              |cands AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |          FROM pre a JOIN pre b
              |            ON a.psid = b.psid AND a.doc_id < b.doc_id
              |               AND greatest(a.n, b.n) <= 2 * least(a.n, b.n)),
              |v AS (SELECT da, db,
              |        CAST(len(list_intersect(la.ts, lb.ts)) AS INTEGER) AS o,
              |        la.n AS na, lb.n AS nb
              |      FROM cands
              |      JOIN lists la ON la.doc_id = da
              |      JOIN lists lb ON lb.doc_id = db)
              |SELECT da, db, o AS overlap,
              |  round(o / (na + nb - o), 4) AS jac
              |FROM v WHERE 3 * o >= na + nb""".stripMargin)),

    // ---- q35: n-gram Jaccard near-dup (capped inverted index) ----------
    QueryDef(
      "q35_ngram_jaccard",
      (s, d) => jaccardPairs(s, d),
      Some(s"""WITH $jaccardPairsSql
              |SELECT da, db, jac FROM jp""".stripMargin)),

    // ---- q36: MinHash + LSH candidate pairs ----------------------------
    // 8 md5-based minhashes, 4 bands × 2 rows: candidate iff some band's
    // concatenated signature collides.
    QueryDef(
      "q36_minhash_lsh",
      (s, d) => {
        // All 8 minhashes in ONE partial-aggregating pass over the
        // exploded shingle rows. The md5 calls run on FLAT rows so
        // they stay inside whole-stage codegen — hashing inside a
        // higher-order-function lambda is interpreted per element and
        // measured ~5× slower for the same hash count. Minhashes are
        // 60-bit md5-derived BIGINTs, not hex strings: numeric agg
        // buffers keep the aggregation in HashAggregate (a string min
        // falls back to SortAggregate — measured 5× slower), and
        // map-side partial aggregation means the shuffle carries ≤8
        // longs per (doc, partition), not the shingle rows. No
        // distinct on shingles: min() is duplicate-insensitive.
        // Candidate pairs come from exploding each LSH bucket's
        // member list — a single pass, no self-join recomputing the
        // signature subtree on both sides. Per-document cost is
        // constant: the MinHash/LSH dedup scale path at 100 TB.
        minhashPairs(s, d)
      },
      Some(s"""WITH $minhashPairsSql
              |SELECT da, db FROM pairs""".stripMargin)),

    // ---- q57: dedup cluster resolution (connected components) ----------
    // Near-dup PAIRS aren't the end of a dedup pipeline — transitive
    // matches (A~B, B~C) must collapse into ONE cluster with one
    // keeper, or the pipeline deletes too little (pairwise keep-min
    // leaves B∈{B,C} alive) . Components come from iterative min-label
    // propagation over the q36 candidate graph: every node starts as
    // its own label, each round takes the min of its neighbors'
    // labels, fixpoint after O(diameter) rounds (near-dup clusters
    // are shallow — 2-4 rounds here). Each round is one shuffle of
    // the (tiny) label frontier joined against the edge list; the
    // driver loop only reads a converged-yet count, it never touches
    // the data (this is the label-propagation half of GraphX-style
    // connected components, without dragging in RDD graphs).
    // localCheckpoint truncates the per-round lineage so the plan
    // doesn't grow with iteration count (at cluster scale: reliable
    // checkpoint to the checkpoint dir instead).
    QueryDef(
      "q57_dedup_components",
      (s, d) => components(s, d),
      Some(s"""WITH RECURSIVE $minhashPairsSql,
              |sym AS (SELECT da AS a, db AS b FROM pairs
              |        UNION ALL SELECT db, da FROM pairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |)
              |SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a""".stripMargin)),

    // ---- q83: canonical selection within dup clusters -------------------
    // The stage after component resolution: each near-dup cluster
    // keeps ONE representative (the longest member, ties to the
    // lowest id — "best quality wins" drops in by swapping the rank
    // key) and every other member becomes a drop. The cluster labels
    // come from the same label propagation as q57; the per-cluster
    // argmax is a packed struct-max in HashAggregate (never a window
    // over the corpus), so the added cost on top of q57 is one join
    // against the doc-length projection plus a cluster-count-sized
    // aggregate.
    QueryDef(
      "q83_canonical",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
        components(s, d)
          .join(docs, "doc_id")
          .groupBy(col("comp"))
          .agg(count(lit(1)).as("n_members"),
            max(struct(col("n_tokens").as("nt"),
              (-col("doc_id")).as("nid"))).as("b"))
          .select(col("comp"), (-col("b.nid")).as("canonical"),
            col("b.nt").as("canon_tokens"), col("n_members"))
      },
      Some(s"""WITH RECURSIVE $minhashPairsSql,
              |sym AS (SELECT da AS a, db AS b FROM pairs
              |        UNION ALL SELECT db, da FROM pairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |),
              |lab AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a),
              |dt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER)
              |         AS n_tokens FROM documents),
              |r AS (SELECT comp, doc_id, n_tokens,
              |        row_number() OVER (PARTITION BY comp
              |          ORDER BY n_tokens DESC, doc_id) AS rn,
              |        count(*) OVER (PARTITION BY comp) AS n_members
              |      FROM lab JOIN dt USING (doc_id))
              |SELECT comp, doc_id AS canonical, n_tokens AS canon_tokens,
              |  n_members
              |FROM r WHERE rn = 1""".stripMargin)),
    // ---- q64: shingle containment (one-sided duplication) --------------
    // Jaccard misses inclusions: a short document fully quoted inside
    // a long one scores |A|/|B| ≈ 0 Jaccard but containment
    // |A∩B|/|A| = 1. Same capped inverted index as q35 (one sid
    // shuffle, posting-list pair explode, per-doc sizes broadcast
    // back); only the denominator changes — both directions are
    // emitted so the consumer can pick "drop the contained side".
    QueryDef(
      "q64_containment",
      (s, d) => {
        val cnt = Tables(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 3)
          .select(col("doc_id"),
            coalesce(size(array_distinct(expr(
              "transform(sequence(0, size(t)-3), i -> " +
                "concat_ws(' ', t[i], t[i+1], t[i+2]))"))), lit(0))
              .cast("long").as("n"))
        val pairs = hashedShingles(s, d)
          .groupBy(col("sid"))
          .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
          .filter(size(col("ds")).between(2, JaccardDfCap))
          .repartition(s.sparkContext.defaultParallelism)
          // nested codegen explodes, not flatten(transform(...)): the
          // HOF generator builds each posting's whole pair block
          // through interpreted lambdas (see saltedPairs); ds is
          // sorted-distinct, so da < db keeps exactly the i < j pairs
          .withColumn("da", explode(col("ds")))
          .withColumn("db", explode(col("ds")))
          .filter(col("da") < col("db"))
          .groupBy(col("da"), col("db"))
          .agg(count(lit(1)).as("inter"))
        pairs
          .join(cnt.withColumnRenamed("doc_id", "da_").withColumnRenamed("n", "na"),
            col("da") === col("da_"))
          .join(cnt.withColumnRenamed("doc_id", "db_").withColumnRenamed("n", "nb"),
            col("db") === col("db_"))
          .filter(greatest(col("inter") / col("na"), col("inter") / col("nb")) >= 0.5)
          .select(col("da"), col("db"),
            round(col("inter") / col("na"), 4).as("c_a"),
            round(col("inter") / col("nb"), 4).as("c_b"))
      },
      Some(s"""WITH $hashedShinglesSql,
              |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
              |ok AS (SELECT sid FROM sh GROUP BY sid
              |       HAVING count(*) BETWEEN 2 AND $JaccardDfCap),
              |shok AS (SELECT sh.* FROM sh JOIN ok USING (sid)),
              |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
              |          FROM shok a JOIN shok b
              |            ON a.sid = b.sid AND a.doc_id < b.doc_id
              |          GROUP BY 1, 2)
              |SELECT da, db,
              |  round(inter / ca.n, 4) AS c_a,
              |  round(inter / cb.n, 4) AS c_b
              |FROM pairs
              |JOIN cnt ca ON da = ca.doc_id
              |JOIN cnt cb ON db = cb.doc_id
              |WHERE greatest(inter / ca.n, inter / cb.n) >= 0.5""".stripMargin)),

    // ---- q61: SimHash near-dup pairs (pigeonhole-banded hamming) --------
    // The pair-finding stage q37's signatures feed: all document pairs
    // within hamming distance ≤ 3 of a 60-bit SimHash. Banding is the
    // PIGEONHOLE split — 4 bands × 15 bits, so any pair within
    // distance 3 agrees exactly on ≥ 1 whole band — which makes this
    // search EXACT (100% recall by construction, unlike probabilistic
    // LSH): candidates come from band-key equi-buckets (via
    // [[Similarity.saltedPairs]] blocks), cross-band duplicates die in
    // the first-colliding-band bitwise filter (no distinct shuffle),
    // and the final hamming test is one codegen'd xor+popcount per
    // candidate. 60 bits (not 64) keeps 1<<j inside signed-BIGINT
    // range on both engines.
    QueryDef(
      "q61_simhash_neardup",
      (s, d) => {
        // All 60 bit-sums in ONE partial-aggregating pass over the
        // (doc, word-hash) rows — no ×60 bit explode, no second
        // aggregation stage (the exploded two-stage formulation
        // measured ~2× slower; the oracle keeps it as the readable
        // spec). Bit j of the majority: +1 votes are s_j of n words,
        // so the signed sum 2·s_j − n is positive iff 2·s_j > n.
        //
        // The word hash is parsed hex→long ONCE per row; each bit-sum
        // is then a shift-and-mask on that long. (The first cut ran
        // substr+conv per BIT — 60 string parses per row, ~180M at
        // sf0.1 — and the signature pass dominated the query at
        // 4.3 s; one parse + integer ops cut it to ~1.6 s.) Bit j in
        // oracle terms is bit (j%4) of 1-based hex digit (j/4 + 1);
        // that digit sits at nibble (14 − j/4) of the parsed long, so
        // the shift is 4·(14 − j/4) + (j%4).
        val words = Tables.parallel(s, d, "documents")
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("w"))
          .select(col("doc_id"),
            expr("md5long(w)").as("hv"))
        val aggs = (0 until 60).map { j =>
          val shift = 4 * (14 - j / 4) + (j % 4)
          sum(expr(s"shiftright(hv, $shift) & 1")).as(s"s$j")
        } :+ count(lit(1)).as("nw")
        val sig = words.groupBy(col("doc_id"))
          .agg(aggs.head, aggs.tail: _*)
          .select(col("doc_id"),
            (0 until 60).map(j =>
              when(col(s"s$j") * 2 > col("nw"), lit(1L << j)).otherwise(0L))
              .reduce(_ + _).as("sh"))
        val bands = sig.select(col("doc_id"), col("sh"), explode(expr(
          "transform(sequence(0, 3), b -> " +
            "struct(b AS band, (shiftright(sh, 15*b) & 32767) AS bk))")).as("x"))
          .select(col("x.band").as("band"), col("x.bk").as("bk"),
            struct(col("doc_id").as("id"), col("sh").as("sg")).as("m"))
        Similarity.saltedPairs(bands, Seq("band", "bk"), 4)
          .select(col("band"), col("pa.id").as("da"), col("pa.sg").as("sa"),
            col("pb.id").as("db"), col("pb.sg").as("sb"))
          .filter((0 to 2).map(bp =>
            (col("band") <= bp) ||
              ((shiftright(col("sa"), 15 * bp) % 32768) =!=
                (shiftright(col("sb"), 15 * bp) % 32768))).reduce(_ && _))
          .withColumn("dist", expr("cast(bit_count(sa ^ sb) as int)"))
          .filter(col("dist") <= 3)
          .select(col("da"), col("db"), col("dist"))
      },
      Some("""WITH tok AS (SELECT DISTINCT doc_id, u.w
             |             FROM documents, UNNEST(string_split(text, ' ')) AS u(w)),
             |bits AS (SELECT doc_id, g.j,
             |           CASE WHEN ((('0x' || substr(md5(w), (g.j // 4) + 1, 1))::INT
             |                       >> (g.j % 4)) & 1) = 1 THEN 1 ELSE -1 END AS hb
             |         FROM tok, UNNEST(generate_series(0, 59)) AS g(j)),
             |sums AS (SELECT doc_id, j, sum(hb) AS sb FROM bits GROUP BY 1, 2),
             |sig AS (SELECT doc_id,
             |          CAST(sum(CASE WHEN sb > 0 THEN (1::BIGINT << j) ELSE 0 END)
             |               AS BIGINT) AS sh
             |        FROM sums GROUP BY 1),
             |bands AS (SELECT doc_id, sh, b.b AS band, (sh >> (15*b.b)) & 32767 AS bk
             |          FROM sig, UNNEST(generate_series(0, 3)) AS b(b)),
             |cands AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
             |                 x.sh AS sa, y.sh AS sb
             |          FROM bands x JOIN bands y
             |            ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id)
             |SELECT da, db, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS dist
             |FROM cands WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin)),

    // ---- q59: cross-source duplication report ---------------------------
    // The dedup-ops rollup a data owner actually reads: which source
    // pairs leak documents into each other. Near-dup pairs (q36's
    // graph) joined to each endpoint's source — both lookups
    // broadcast (the pair stream is the small side here after LSH,
    // but at 100 TB the doc→source map is the dimension side and
    // broadcasts instead) — then one tiny rollup on the ordered
    // source pair.
    QueryDef(
      "q59_cross_source_dups",
      (s, d) => {
        val src = Tables(s, d, "documents").select(col("doc_id"), col("source"))
        minhashPairs(s, d)
          .join(src.withColumnRenamed("doc_id", "da").withColumnRenamed("source", "sa"), "da")
          .join(src.withColumnRenamed("doc_id", "db").withColumnRenamed("source", "sb"), "db")
          .select(least(col("sa"), col("sb")).as("src_a"),
            greatest(col("sa"), col("sb")).as("src_b"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_dups"))
      },
      Some(s"""WITH $minhashPairsSql
              |SELECT least(x.source, y.source) AS src_a,
              |       greatest(x.source, y.source) AS src_b,
              |       count(*) AS n_dups
              |FROM pairs
              |JOIN documents x ON pairs.da = x.doc_id
              |JOIN documents y ON pairs.db = y.doc_id
              |GROUP BY 1, 2""".stripMargin)),

    // ---- q38: 128-wide MinHash signature (one-buffer sketch agg) -------
    // The full-resolution signature table a production dedup pipeline
    // materializes once and reuses for banding at any (bands, rows)
    // setting. At K=128 the "K parallel min() columns" plan stops
    // being reasonable (128 aggregate expressions, a 128-column
    // buffer schema); [[graft.functions.MinHashSignature]] keeps one
    // long[128] buffer per doc, one update per shingle row (128
    // multiply-adds over a universal hash family — ONE md5 per
    // shingle), and merges partials elementwise. Output is the exact
    // signature digested to scalar columns; the oracle recomputes
    // every hash value bit-for-bit (integer arithmetic below 2^62).
    QueryDef(
      "q38_minhash_sig",
      (s, d) => {
        graft.functions.MinHashSignature.register(s)
        hashedShingles(s, d)
          .groupBy(col("doc_id"))
          .agg(expr("minhash_sig(sid)").as("sig"))
          .select(col("doc_id"),
            expr("sig[0]").as("mh0"),
            expr("sig[127]").as("mh127"),
            expr("aggregate(sig, 0L, (acc, x) -> acc + x)").as("sig_sum"),
            array_min(col("sig")).as("sig_min"),
            array_max(col("sig")).as("sig_max"))
      },
      Some(s"""WITH $hashedShinglesSql,
              |coef(k, a, b) AS (VALUES ${graft.functions.MinHashSignature.coefSqlValues}),
              |mins AS (SELECT doc_id, k,
              |           min(((sid % ${graft.functions.MinHashSignature.P}) * a + b)
              |               % ${graft.functions.MinHashSignature.P}) AS mh
              |         FROM sh CROSS JOIN coef GROUP BY 1, 2)
              |SELECT doc_id,
              |  CAST(sum(CASE WHEN k = 0 THEN mh END) AS BIGINT) AS mh0,
              |  CAST(sum(CASE WHEN k = 127 THEN mh END) AS BIGINT) AS mh127,
              |  CAST(sum(mh) AS BIGINT) AS sig_sum,
              |  CAST(min(mh) AS BIGINT) AS sig_min,
              |  CAST(max(mh) AS BIGINT) AS sig_max
              |FROM mins GROUP BY doc_id""".stripMargin)),

    // ---- q37: SimHash (32-bit, per-bit token-hash majority) ------------
    // Bit j of the fingerprint is the majority vote over distinct tokens
    // of the high bit of hex digit j of md5(token) — md5-derived so the
    // oracle reproduces it exactly.
    QueryDef(
      "q37_simhash",
      (s, d) => {
        // One partial-aggregating pass, same shape as q61: the word
        // hash parses hex→long ONCE (two 64-bit halves — bit j is the
        // HIGH bit of hex digit j+1, so all 32 digits contribute) and
        // each bit-vote is a shift-and-mask — no ×32 bit explode, no
        // second aggregation stage. Digit p (1-based) of a 16-digit
        // half sits at nibble (16−p), so its high bit is shift
        // 4·(16−p)+3; conv() of 16 digits may wrap negative, which is
        // harmless — arithmetic shiftright then & 1 still reads the
        // original bit. Majority of ±1 votes over n words is positive
        // iff 2·(count of 1s) > n.
        val words = Tables(s, d, "documents")
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("w"))
          .select(col("doc_id"), md5(col("w")).as("h"))
          // toBase −10 → conv renders the 64-bit value as SIGNED, so
          // halves with the top bit set still cast to BIGINT (the
          // unsigned rendering overflows the ANSI cast)
          .select(col("doc_id"),
            expr("cast(conv(substr(h, 1, 16), 16, -10) as bigint)").as("h1"),
            expr("cast(conv(substr(h, 17, 16), 16, -10) as bigint)").as("h2"))
        val aggs = (0 until 32).map { j =>
          val p = j + 1 // 1-based hex digit position in the 32-digit md5
          val (half, shift) =
            if (p <= 16) ("h1", 4 * (16 - p) + 3)
            else ("h2", 4 * (32 - p) + 3)
          sum(expr(s"shiftright($half, $shift) & 1")).as(s"s$j")
        } :+ count(lit(1)).as("nw")
        words.groupBy(col("doc_id"))
          .agg(aggs.head, aggs.tail: _*)
          .select(col("doc_id"),
            (0 until 32).map(j =>
              when(col(s"s$j") * 2 > col("nw"), lit(1L << j)).otherwise(0L))
              .reduce(_ + _).as("simhash"))
      },
      Some("""WITH tok AS (SELECT DISTINCT doc_id, u.w
             |             FROM documents, UNNEST(string_split(text, ' ')) AS u(w)),
             |bits AS (SELECT doc_id, g.j,
             |           CASE WHEN substr(md5(w), g.j + 1, 1)
             |                  IN ('8','9','a','b','c','d','e','f')
             |                THEN 1 ELSE -1 END AS hb
             |         FROM tok, UNNEST(generate_series(0, 31)) AS g(j)),
             |sums AS (SELECT doc_id, j, sum(hb) AS sb FROM bits GROUP BY 1, 2)
             |SELECT doc_id,
             |  CAST(sum(CASE WHEN sb > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
             |       AS BIGINT) AS simhash
             |FROM sums GROUP BY 1""".stripMargin)),

    // ---- q110: MinHash sketch-accuracy eval (est vs true Jaccard) ------
    // The q90-style eval for the DEDUP sketches: how well does the
    // 8-hash minhash family estimate the true Jaccard on the pairs
    // the pipeline actually acts on? Slot-agreement fraction
    // (matches/8 — an exact power-of-two divide, bit-identical
    // cross-engine) against q35's exact Jaccard for its near-dup
    // pair set. Production tuning reads this table to decide band
    // geometry (more hashes vs more bands) the way q90's recall@k
    // tunes the ANN probes. Scale shape: the pair set is the q35
    // output (already bounded), the signature table aggregates the
    // shingle stream once, and both rejoin on doc ids — no new
    // corpus-sized dataset appears.
    QueryDef(
      "q110_minhash_error",
      (s, d) => {
        val P = graft.functions.MinHashSignature.P
        val sigCols = (0 to 7).map { k =>
          val (a, b) = (graft.functions.MinHashSignature.A(k),
            graft.functions.MinHashSignature.B(k))
          min((lit(a) * (col("sid") % P) + lit(b)) % lit(P)).as(s"mh$k")
        }
        val sigs = hashedShingles(s, d)
          .groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
        val sa = sigs.select(col("doc_id").as("da") +:
          (0 to 7).map(k => col(s"mh$k").as(s"a$k")): _*)
        val sb = sigs.select(col("doc_id").as("db") +:
          (0 to 7).map(k => col(s"mh$k").as(s"b$k")): _*)
        jaccardPairs(s, d)
          .join(sa, "da").join(sb, "db")
          .withColumn("matches",
            (0 to 7).map(k =>
              when(col(s"a$k") === col(s"b$k"), 1).otherwise(0))
              .reduce(_ + _))
          .select(col("da"), col("db"), col("jac"),
            (col("matches") / lit(8.0)).as("est"),
            round(col("matches") / lit(8.0) - col("jac"), 4).as("err"))
      },
      Some(s"""WITH $jaccardPairsSql,
              |coefq(seed, a, b) AS (VALUES ${(0 to 7).map(k =>
                s"(${k}, ${graft.functions.MinHashSignature.A(k)}, " +
                  s"${graft.functions.MinHashSignature.B(k)})").mkString(", ")}),
              |mhq AS (SELECT doc_id, seed,
              |          min((a * (sid % ${graft.functions.MinHashSignature.P}) + b)
              |              % ${graft.functions.MinHashSignature.P}) AS mh
              |        FROM sh CROSS JOIN coefq GROUP BY 1, 2),
              |agree AS (SELECT jp.da, jp.db, jp.jac,
              |            CAST(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END)
              |                 AS BIGINT) AS matches
              |          FROM jp
              |          JOIN mhq x ON x.doc_id = jp.da
              |          JOIN mhq y ON y.doc_id = jp.db AND y.seed = x.seed
              |          GROUP BY 1, 2, 3)
              |SELECT da, db, jac,
              |  matches / CAST(8 AS DOUBLE) AS est,
              |  round(matches / CAST(8 AS DOUBLE) - jac, 4) AS err
              |FROM agree""".stripMargin)),

    // ---- q212: SAMPLED sketch-accuracy eval — q110's 100 TB shape ------
    // The round-15 third scale point measured q110 as linear with the
    // corpus (isolated t100 60.2 s, tail slope 1.124;
    // the exact-Jaccard candidate stage dominates,
    // in-cap pair volume 4,168 → 424,185 — linear by the df-cap
    // design). Linear is the FLOOR for exact-vs-sketch accuracy over
    // the full corpus (every candidate needs its true Jaccard), but
    // sketch-accuracy tuning doesn't need the full corpus — it needs a
    // confidence interval, and an unbiased one comes from a
    // deterministic doc sample: hash-select half the docs (pmod 2 —
    // the rate is the caller's knob; the query pins one value so the
    // oracle replays it) and run the IDENTICAL chain over the sample.
    // Pair volume drops with the sample rate SQUARED (both endpoints
    // must survive), so at a production 1% sample the eval costs
    // ~10⁻⁴ of q110 while estimating the same error distribution —
    // the same sample-vs-corpus posture as q210/q211's labeled
    // training frames. Same columns as q110, so the two reports read
    // side by side.
    minhashErrorSampledDef("q212_minhash_error_sampled", 2),

    // ---- q214: the sampled eval at a PRODUCTION rate (round 16) --------
    // q212 pinned the 50% rate; the rate² pair-volume claim ("a 1%
    // sample costs ~10⁻⁴ of the full eval") was extrapolation until a
    // low-rate point existed. Same chain, mod 10 — a 10% deterministic
    // doc sample, so the rate² curve has three points (100%, 50%, 10%),
    // and Round9OpsSpec pins the q110-restriction equality at this rate
    // exactly as it does at 50%. The salt differs from q212's
    // deliberately (round-16 verdict): under the default salt the 10%
    // sample kept zero q110 pairs at the driver gate's sf0.01, making
    // the correctness row trivially green; 'mh-eval27-' keeps 2 pairs
    // at sf0.01 and 1 at sf0.001, so the declared rate is hash-gated
    // on non-empty rows at both scales. A salt is a free parameter of
    // the sampling design — any value gives an unbiased sample; this
    // one also gives a non-vacuous gate.
    minhashErrorSampledDef("q214_minhash_error_rate10", 10,
      salt = "mh-eval27-"),

    // ---- q114: train/val/test near-dup leakage audit --------------------
    // The audit that must run AFTER splitting: q112 assigns splits by
    // a salted doc_id hash, and exact dedup collapses identical texts
    // to one keeper — but NEAR-dup pairs that survive dedup can still
    // straddle splits, silently leaking eval content into train.
    // Cross-tabulates q35's capped near-dup pair set by both members'
    // split assignment (the q112 hash, recomputed row-locally on each
    // side): off-diagonal rows are the leak report, with the pair
    // count and the worst-case similarity of a leaked pair. Scale
    // shape: the pair set is q35's output (banded, df-capped,
    // bounded); the rollup is a ≤ 6-row aggregate.
    QueryDef(
      "q114_split_leakage",
      (s, d) => {
        def splitOf(c: String): Column = {
          val h = s"pmod(md5long(concat('split-', cast($c as string))), 100)"
          expr(s"CASE WHEN $h < 80 THEN 'train' " +
            s"WHEN $h < 90 THEN 'val' ELSE 'test' END")
        }
        jaccardPairs(s, d)
          .withColumn("sa", splitOf("da"))
          .withColumn("sb", splitOf("db"))
          .select(least(col("sa"), col("sb")).as("split_lo"),
            greatest(col("sa"), col("sb")).as("split_hi"), col("jac"))
          .groupBy(col("split_lo"), col("split_hi"))
          .agg(count(lit(1)).as("n_pairs"),
            round(max(col("jac")), 4).as("max_jac"))
      },
      Some(s"""WITH $jaccardPairsSql,
              |sp AS (SELECT jac,
              |         CASE WHEN ('0x'||substr(md5('split-'||da::VARCHAR),1,15))::BIGINT % 100 < 80 THEN 'train'
              |              WHEN ('0x'||substr(md5('split-'||da::VARCHAR),1,15))::BIGINT % 100 < 90 THEN 'val'
              |              ELSE 'test' END AS sa,
              |         CASE WHEN ('0x'||substr(md5('split-'||db::VARCHAR),1,15))::BIGINT % 100 < 80 THEN 'train'
              |              WHEN ('0x'||substr(md5('split-'||db::VARCHAR),1,15))::BIGINT % 100 < 90 THEN 'val'
              |              ELSE 'test' END AS sb
              |       FROM jp)
              |SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
              |  count(*) AS n_pairs, round(max(jac), 4) AS max_jac
              |FROM sp GROUP BY 1, 2""".stripMargin)),

    // ---- q115: per-source n-gram novelty (content originality) ---------
    // Mixture curation signal the lift table (q111) cannot give:
    // what fraction of a source's DISTINCT 3-gram shingles appears in
    // no other source? Low novelty means the source mostly mirrors
    // content already held elsewhere — a candidate for down-weighting
    // before training. Plan: distinct (source, sid) in one
    // shingle-keyed exchange; the per-shingle source count is an
    // aggregate OF that aggregate and rejoins co-partitioned on sid;
    // the final rollup is |sources| rows. The novelty ratio divides
    // two identically-derived integers — exact cross-engine.
    QueryDef(
      "q115_ngram_novelty",
      (s, d) => {
        val ss = hashedShingles(s, d)
          .join(Tables(s, d, "documents")
            .select(col("doc_id"), col("source")), "doc_id")
          .select(col("source"), col("sid")).distinct()
        val ns = ss.groupBy(col("sid")).agg(count(lit(1)).as("n_src"))
        ss.join(ns, "sid")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("n_src") === 1, 1L).otherwise(0L)).as("novel"),
            round(sum(when(col("n_src") === 1, 1L).otherwise(0L))
              / count(lit(1)), 4).as("novelty"))
      },
      Some(s"""WITH $hashedShinglesSql,
              |ss AS (SELECT DISTINCT d.source, sh.sid
              |       FROM sh JOIN documents d USING (doc_id)),
              |ns AS (SELECT sid, CAST(count(*) AS BIGINT) AS n_src
              |       FROM ss GROUP BY sid)
              |SELECT source, count(*) AS n_shingles,
              |  CAST(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT) AS novel,
              |  round(CAST(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |        / count(*), 4) AS novelty
              |FROM ss JOIN ns USING (sid) GROUP BY source""".stripMargin)),

    // ---- q118: shingle document-frequency spectrum ----------------------
    // The corpus-health report behind the df cap: how is posting mass
    // distributed across df buckets, and how much of it does the cap
    // (df > 64) shave off the inverted-index queries? A boilerplate-
    // heavy crawl shows its pathology here before any pair query
    // runs. Buckets are ⌊log2 df⌋+1 via the exact binary-digit count
    // (the q93 idiom — libm log2 can mis-bucket exact powers of two).
    // One distinct + one shingle-keyed aggregate, ≤ ~30 output rows.
    QueryDef(
      "q118_df_spectrum",
      (s, d) => {
        hashedShingles(s, d).distinct()
          .groupBy(col("sid")).agg(count(lit(1)).as("df"))
          .select(length(conv(col("df"), 10, 2)).as("df_bucket"), col("df"))
          .groupBy(col("df_bucket"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(col("df")).as("postings"),
            sum(when(col("df") > JaccardDfCap, col("df")).otherwise(0L))
              .as("capped_postings"))
      },
      Some(s"""WITH $hashedShinglesSql,
              |dfq AS (SELECT sid, CAST(count(*) AS BIGINT) AS df
              |        FROM sh GROUP BY sid)
              |SELECT CAST(length(bin(df)) AS INTEGER) AS df_bucket,
              |  count(*) AS n_shingles, CAST(sum(df) AS BIGINT) AS postings,
              |  CAST(sum(CASE WHEN df > $JaccardDfCap THEN df ELSE 0 END) AS BIGINT)
              |    AS capped_postings
              |FROM dfq GROUP BY 1""".stripMargin)),

    // ---- q120: near-dup cluster-size histogram --------------------------
    // The dedup-impact report: after q57 resolves candidate pairs
    // into connected components, how big are the clusters? n_docs −
    // n_clusters summed over buckets is exactly the row count dedup
    // will remove; a fat tail means template/boilerplate families
    // (and predicts q83's canonical-selection cost). Buckets are the
    // exact binary-digit count (q93/q118 idiom). Cost is q57's
    // subtree + two tiny aggregates — the histogram itself is ≤ ~30
    // rows.
    QueryDef(
      "q120_cluster_hist",
      (s, d) =>
        components(s, d)
          .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
          .select(length(conv(col("sz"), 10, 2)).as("sz_bucket"), col("sz"))
          .groupBy(col("sz_bucket"))
          .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs")),
      Some(s"""WITH RECURSIVE $minhashPairsSql,
              |sym AS (SELECT da AS a, db AS b FROM pairs
              |        UNION ALL SELECT db, da FROM pairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |),
              |compt AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a),
              |cs AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz
              |       FROM compt GROUP BY comp)
              |SELECT CAST(length(bin(sz)) AS INTEGER) AS sz_bucket,
              |  count(*) AS n_clusters, CAST(sum(sz) AS BIGINT) AS n_docs
              |FROM cs GROUP BY 1""".stripMargin)),

    // ---- q127: cross-source duplicate provenance -------------------------
    // WHO is duplicating WHOM: for every unordered source pair, the
    // number of q57 near-dup clusters with members in both — the
    // provenance table behind "crawl B is 60% re-hosted crawl A"
    // decisions (drop a source vs dedup it). The per-component source
    // inventory collapses each cluster to ≤ |sources| DISTINCT rows
    // before the pair self-join, so a 10⁶-doc template cluster
    // contributes the same ≤ |sources|² join rows as a 2-doc one —
    // the self-join is value-domain-bounded, never corpus-bounded.
    // (comp, src_a, src_b) is unique after the `<` filter, so the
    // flow count is a plain count(*), no count-distinct pass.
    QueryDef(
      "q127_dup_provenance",
      (s, d) => {
        val srcs = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"))
        val ps = components(s, d)
          .join(srcs, "doc_id")
          .select(col("comp"), col("source")).distinct()
        ps.as("x").join(ps.as("y"),
            col("x.comp") === col("y.comp")
              && col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
          .agg(count(lit(1)).as("n_clusters"))
      },
      Some(s"""WITH RECURSIVE $minhashPairsSql,
              |sym AS (SELECT da AS a, db AS b FROM pairs
              |        UNION ALL SELECT db, da FROM pairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |),
              |compt AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a),
              |ps AS (SELECT DISTINCT comp, source
              |       FROM compt JOIN documents USING (doc_id))
              |SELECT x.source AS src_a, y.source AS src_b,
              |  count(*) AS n_clusters
              |FROM ps x JOIN ps y
              |  ON x.comp = y.comp AND x.source < y.source
              |GROUP BY 1, 2""".stripMargin)),

    // ---- q129: cluster-density histogram ---------------------------------
    // HOW TRUSTWORTHY are the q57 clusters: per component, the edge
    // density 2·|direct pairs| / (sz·(sz−1)) — 1.0 means every member
    // pair was independently detected (a clique: safe to collapse),
    // ~2/sz means a transitive chain where the endpoints may share
    // nothing (the classic over-merge failure of connected-component
    // dedup; Gopher/RefinedWeb both flag it). Reported as a
    // value-domain histogram (density decile × cluster/doc counts +
    // exact mean), so the output is ≤ 10 rows however many clusters
    // exist. Edges re-aggregate per component on the SAME comp
    // partitioning the size count uses; density is one double divide
    // of identically-derived integers, its decile one floor — exact
    // cross-engine. sz·(sz−1) stays in BIGINT: a cluster would need
    // 3·10⁹ members to overflow, at which point the dedup config is
    // the bug being reported.
    QueryDef(
      "q129_cluster_density",
      (s, d) => {
        val comp = components(s, d)
        val direct = minhashPairs(s, d)
          .join(comp.select(col("doc_id").as("da"), col("comp")), "da")
          .groupBy(col("comp")).agg(count(lit(1)).as("n_edges"))
        comp.groupBy(col("comp")).agg(count(lit(1)).as("sz"))
          .join(direct, "comp")
          .withColumn("density",
            (lit(2.0) * col("n_edges")) / (col("sz") * (col("sz") - 1)))
          .withColumn("bucket", least(lit(9L), floor(col("density") * 10)))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
            round(graft.functions.Exact.sumFixed("round(density, 6)", 6)
              / count(lit(1)), 6).as("mean_density"))
      },
      Some(s"""WITH RECURSIVE $minhashPairsSql,
              |sym AS (SELECT da AS a, db AS b FROM pairs
              |        UNION ALL SELECT db, da FROM pairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |),
              |compt AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a),
              |e AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_edges
              |      FROM pairs JOIN compt ON pairs.da = compt.doc_id
              |      GROUP BY 1),
              |cs AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz
              |       FROM compt GROUP BY 1),
              |bc AS (SELECT comp, sz, n_edges,
              |         (2.0 * n_edges) / (sz * (sz - 1)) AS density
              |       FROM cs JOIN e USING (comp)),
              |b AS (SELECT least(9, CAST(floor(density * 10) AS BIGINT)) AS bucket,
              |        sz, density
              |      FROM bc)
              |SELECT bucket, count(*) AS n_clusters,
              |  CAST(sum(sz) AS BIGINT) AS n_docs,
              |  round(${graft.functions.Exact.sumFixedSql("round(density, 6)", 6)}
              |        / count(*), 6) AS mean_density
              |FROM b GROUP BY 1""".stripMargin)),

    // ---- q134: per-source dedup impact report ----------------------------
    // What dedup will actually DO to each source, before running it:
    // exact duplicates (q34's first-writer rule — not the min-doc_id
    // keeper of their md5 group) and the ADDITIONAL near-dup losses
    // (q57 component members that are not the q83 canonical and not
    // already exact dups), with the resulting keep rate. The report
    // every mixture plan (q74/q128) should be read against — a source
    // can look token-rich and be 80% template. Composition stays on
    // the operators' own shapes: one fp exchange for the exact
    // groups, the q57/q83 component+canonical subtree for the near
    // side, one doc-keyed left join to combine, |sources| output
    // rows. Double counting is impossible by construction (near-dup
    // non-canonicals already flagged exact are excluded from
    // n_near_extra).
    QueryDef(
      "q134_dedup_impact",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"), md5(col("text")).as("fp"),
            size(split(col("text"), " ")).as("n_tokens"))
        val keep = docs.groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
        // one label-propagation run (it materializes eagerly), reused
        // by both the canonical pick and the non-canonical flagging
        val comp = components(s, d)
        val canon = comp
          .join(docs.select(col("doc_id"), col("n_tokens")), "doc_id")
          .groupBy(col("comp"))
          .agg(max(struct(col("n_tokens").as("nt"),
            (-col("doc_id")).as("nid"))).as("b"))
          .select(col("comp"), (-col("b.nid")).as("canonical"))
        val near = comp
          .join(canon, "comp")
          .filter(col("doc_id") =!= col("canonical"))
          .select(col("doc_id"), lit(1).as("near_dup"))
        docs.join(keep, "fp")
          .join(near, Seq("doc_id"), "left")
          .withColumn("exact_dup", col("doc_id") =!= col("keeper"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("exact_dup"), 1L).otherwise(0L)).as("n_exact_dup"),
            sum(when(!col("exact_dup") && col("near_dup").isNotNull, 1L)
              .otherwise(0L)).as("n_near_extra"))
          .select(col("source"), col("n_docs"), col("n_exact_dup"),
            col("n_near_extra"),
            round((col("n_docs") - col("n_exact_dup") - col("n_near_extra"))
              / col("n_docs"), 6).as("keep_rate"))
      },
      Some(s"""WITH RECURSIVE $minhashPairsSql,
              |sym AS (SELECT da AS a, db AS b FROM pairs
              |        UNION ALL SELECT db, da FROM pairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |),
              |lab AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a),
              |dd AS (SELECT doc_id, source, md5(text) AS fp,
              |         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
              |       FROM documents),
              |keepers AS (SELECT fp, min(doc_id) AS keeper FROM dd GROUP BY fp),
              |cr AS (SELECT comp, doc_id,
              |         row_number() OVER (PARTITION BY comp
              |           ORDER BY n_tokens DESC, doc_id) AS rn
              |       FROM lab JOIN dd USING (doc_id)),
              |near AS (SELECT doc_id, 1 AS near_dup FROM cr WHERE rn > 1),
              |f AS (SELECT source,
              |        CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END AS ed,
              |        CASE WHEN doc_id = keeper AND near_dup IS NOT NULL
              |             THEN 1 ELSE 0 END AS ne
              |      FROM dd JOIN keepers USING (fp)
              |      LEFT JOIN near USING (doc_id))
              |SELECT source, count(*) AS n_docs,
              |  CAST(sum(ed) AS BIGINT) AS n_exact_dup,
              |  CAST(sum(ne) AS BIGINT) AS n_near_extra,
              |  round((count(*) - CAST(sum(ed) AS BIGINT)
              |         - CAST(sum(ne) AS BIGINT)) / count(*), 6) AS keep_rate
              |FROM f GROUP BY source""".stripMargin)),

    // ---- q142: incremental cluster assignment, oracle-checked -----------
    // The [[assignToClusters]] operator itself under the hash gate:
    // docs with doc_id ≡ 3 (mod 7) play the "new ingest batch", the
    // rest the persisted corpus. The store subset's closure comes from
    // the SAME propagate/pairs code the corpus closure uses (restricted
    // pair sets are exactly corpus pairs with both endpoints stored —
    // band collision is pairwise); the batch then assigns through band
    // collisions + the store closure, never recomputing anything
    // corpus-sized. The oracle re-derives the store closure with a
    // recursive CTE and replays the assignment rule relationally.
    QueryDef(
      "q142_incremental_assign",
      (s, d) => {
        val docs = Tables.parallel(s, d, "documents")
        val store = docs.filter(col("doc_id") % 7 =!= 3)
        val batch = docs.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"), col("text"))
        // the band projection feeds both the store closure and the
        // assignment join — pin it once
        val storeBands = bandSignatures(store).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val edges = pairsFromBands(storeBands).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val comp = labelEdges(edges)
          .select(col("id").as("doc_id"), col("label").as("comp"))
        assignToClusters(s, batch,
          storeBands.select(col("doc_id"), col("band"), col("h1"), col("h2")),
          comp)
      },
      Some(s"""WITH RECURSIVE $minhashPairsSql,
              |spairs AS (SELECT da, db FROM pairs
              |           WHERE da % 7 <> 3 AND db % 7 <> 3),
              |sym AS (SELECT da AS a, db AS b FROM spairs
              |        UNION ALL SELECT db, da FROM spairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |),
              |lab AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a),
              |cand AS (SELECT n.doc_id AS new_id,
              |           coalesce(l.comp, b2.doc_id) AS cand
              |         FROM bands n JOIN bands b2
              |           ON n.band = b2.band AND n.h1 = b2.h1 AND n.h2 = b2.h2
              |          AND n.doc_id % 7 = 3 AND b2.doc_id % 7 <> 3
              |         LEFT JOIN lab l ON l.doc_id = b2.doc_id),
              |agg AS (SELECT new_id, min(cand) AS comp FROM cand GROUP BY new_id)
              |SELECT d.doc_id, coalesce(a.comp, d.doc_id) AS comp
              |FROM documents d LEFT JOIN agg a ON a.new_id = d.doc_id
              |WHERE d.doc_id % 7 = 3""".stripMargin)),

    // ---- q151: incremental assignment, within-batch closure on ----------
    // q142's operator with `withinBatch = true`: batch-internal pairs
    // close transitively (the 1:1 clone mix a real ingest carries), and
    // each batch component takes the min store cluster any member
    // matched — else its min member id. The oracle re-derives BOTH
    // closures (store subset + batch subset) with recursive CTEs and
    // replays the merge rule relationally.
    QueryDef(
      "q151_incremental_within",
      (s, d) => {
        val docs = Tables.parallel(s, d, "documents")
        val store = docs.filter(col("doc_id") % 7 =!= 3)
        val batch = docs.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"), col("text"))
        val storeBands = bandSignatures(store).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val edges = pairsFromBands(storeBands).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val comp = labelEdges(edges)
          .select(col("id").as("doc_id"), col("label").as("comp"))
        assignToClusters(s, batch,
          storeBands.select(col("doc_id"), col("band"), col("h1"), col("h2")),
          comp, withinBatch = true)
      },
      Some(s"""WITH RECURSIVE $minhashPairsSql,
              |spairs AS (SELECT da, db FROM pairs
              |           WHERE da % 7 <> 3 AND db % 7 <> 3),
              |sym AS (SELECT da AS a, db AS b FROM spairs
              |        UNION ALL SELECT db, da FROM spairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |),
              |lab AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a),
              |cand AS (SELECT n.doc_id AS new_id,
              |           coalesce(l.comp, b2.doc_id) AS cand
              |         FROM bands n JOIN bands b2
              |           ON n.band = b2.band AND n.h1 = b2.h1 AND n.h2 = b2.h2
              |          AND n.doc_id % 7 = 3 AND b2.doc_id % 7 <> 3
              |         LEFT JOIN lab l ON l.doc_id = b2.doc_id),
              |scand AS (SELECT new_id, min(cand) AS comp FROM cand GROUP BY 1),
              |bpairs AS (SELECT da, db FROM pairs
              |           WHERE da % 7 = 3 AND db % 7 = 3),
              |bsym AS (SELECT da AS a, db AS b FROM bpairs
              |         UNION ALL SELECT db, da FROM bpairs),
              |breach(a, b) AS (
              |  SELECT DISTINCT a, a FROM bsym
              |  UNION
              |  SELECT r.a, s.b FROM breach r JOIN bsym s ON r.b = s.a
              |),
              |bk AS (SELECT a AS doc_id, min(b) AS bkey FROM breach GROUP BY a),
              |mem AS (SELECT d.doc_id,
              |          coalesce(bk.bkey, d.doc_id) AS bkey, sc.comp
              |        FROM documents d
              |        LEFT JOIN bk ON bk.doc_id = d.doc_id
              |        LEFT JOIN scand sc ON sc.new_id = d.doc_id
              |        WHERE d.doc_id % 7 = 3),
              |agg2 AS (SELECT bkey, coalesce(min(comp), min(doc_id)) AS fin
              |         FROM mem GROUP BY bkey)
              |SELECT mem.doc_id, agg2.fin AS comp
              |FROM mem JOIN agg2 USING (bkey)""".stripMargin)),

    // ---- q143: LSH bucket-health audit ----------------------------------
    // The ops report that tells you whether the banding scheme is
    // sized right BEFORE the pair explosion runs: per band, how many
    // buckets, how hot the hottest is, how many docs collide at all,
    // and the exact candidate-pair volume Σ C(size, 2) the band will
    // emit. On the skew corpus the hot near-identical cluster shows up
    // here as max_bucket ≈ cluster size long before q36 pays for it.
    // Two tiny aggregations: bucket sizes shuffle on the (band, h1,
    // h2) collision key (the same key the pair join uses), the rollup
    // is 4 rows.
    QueryDef(
      "q143_lsh_bucket_audit",
      (s, d) => {
        val sizes = bandSignatures(Tables.parallel(s, d, "documents"))
          .groupBy(col("band"), col("h1"), col("h2"))
          .agg(count(lit(1)).as("sz"))
        sizes.groupBy(col("band"))
          .agg(count(lit(1)).as("n_buckets"),
            max(col("sz")).as("max_bucket"),
            sum(when(col("sz") > 1, col("sz")).otherwise(0L))
              .as("colliding_docs"),
            sum(col("sz") * (col("sz") - 1) / lit(2)).cast("long")
              .as("cand_pairs"))
      },
      Some(s"""WITH $minhashPairsSql,
              |b AS (SELECT band, h1, h2, count(*) AS sz
              |      FROM bands GROUP BY 1, 2, 3)
              |SELECT band, count(*) AS n_buckets, max(sz) AS max_bucket,
              |  CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT)
              |    AS colliding_docs,
              |  CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs
              |FROM b GROUP BY band""".stripMargin)),

    // ---- q144: quality-score vs duplication eval grid -------------------
    // Does the cheap quality score actually separate duplicated
    // content? Buckets the corpus by q32's quality (decile-width
    // buckets, floor(q·10) capped at 9 — row-local, no percentile
    // window) and reports the near-dup membership rate per bucket
    // (q57's component table = the dup labels). The judgment call a
    // data lead makes when choosing filter thresholds, as one 10-row
    // frame: corpus crosses the component join once, everything else
    // partial-aggregates.
    QueryDef(
      "q144_quality_dup_grid",
      (s, d) => {
        val q = Tables(s, d, "documents")
          .withColumn("toks", split(col("text"), " "))
          .select(col("doc_id"),
            (least(lit(1.0), size(col("toks")) / 100.0)
              * (size(array_distinct(col("toks"))) / size(col("toks"))))
              .as("quality"))
          .withColumn("qb",
            least(floor(col("quality") * 10).cast("long"), lit(9L)))
        q.join(components(s, d).select(col("doc_id"))
            .withColumn("isd", lit(1L)), Seq("doc_id"), "left")
          .na.fill(0L, Seq("isd"))
          .groupBy(col("qb"))
          .agg(count(lit(1)).as("n_docs"), sum(col("isd")).as("n_dup"))
          .withColumn("dup_rate", round(col("n_dup") / col("n_docs"), 6))
      },
      Some(s"""WITH RECURSIVE $minhashPairsSql,
              |sym AS (SELECT da AS a, db AS b FROM pairs
              |        UNION ALL SELECT db, da FROM pairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |),
              |lab AS (SELECT a AS doc_id FROM reach GROUP BY a),
              |q AS (SELECT doc_id,
              |        least(1.0, len(string_split(text, ' ')) / 100.0)
              |          * (len(list_distinct(string_split(text, ' ')))
              |             / len(string_split(text, ' '))) AS quality
              |      FROM documents),
              |qb AS (SELECT q.doc_id,
              |         least(CAST(floor(quality * 10) AS BIGINT), 9) AS qb,
              |         CASE WHEN lab.doc_id IS NULL THEN 0 ELSE 1 END AS isd
              |       FROM q LEFT JOIN lab ON q.doc_id = lab.doc_id)
              |SELECT qb, count(*) AS n_docs,
              |  CAST(sum(isd) AS BIGINT) AS n_dup,
              |  round(CAST(sum(isd) AS BIGINT) / count(*), 6) AS dup_rate
              |FROM qb GROUP BY qb""".stripMargin)),

    // ---- q146: duplicate-locality report (cluster span) -----------------
    // How far apart duplicate copies land in the ingest order: per
    // cluster, member count, doc_id span (max − min — near-zero means
    // duplicates arrive together and an ingest-window dedup would
    // catch them; corpus-wide spans demand the store-backed path),
    // and how many sources the cluster crosses. One join of the
    // component table to per-doc attributes, one keyed aggregate.
    QueryDef(
      "q146_cluster_span",
      (s, d) =>
        components(s, d)
          .join(Tables(s, d, "documents")
            .select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("comp"))
          .agg(count(lit(1)).as("n_docs"),
            (max(col("doc_id")) - min(col("doc_id"))).as("id_span"),
            countDistinct(col("source")).as("n_sources")),
      Some(s"""WITH RECURSIVE $minhashPairsSql,
              |sym AS (SELECT da AS a, db AS b FROM pairs
              |        UNION ALL SELECT db, da FROM pairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |),
              |lab AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a)
              |SELECT comp, count(*) AS n_docs,
              |  max(l.doc_id) - min(l.doc_id) AS id_span,
              |  CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources
              |FROM lab l JOIN documents d ON d.doc_id = l.doc_id
              |GROUP BY comp""".stripMargin)),

    // ---- q150: df-cap pair-volume forecast -------------------------------
    // How JaccardDfCap gets CHOSEN: for each candidate cap, the exact
    // pair volume Σ_{df≤cap} C(df,2) the capped inverted index would
    // emit and the share of shingle occurrences the cap keeps — the
    // cost/recall dial, computed from the df spectrum (a value-domain
    // aggregate: |distinct dfs| rows) without ever generating a pair.
    // At 100 TB this is the what-if you run BEFORE q35; here it is a
    // 4-row frame off one sid exchange.
    QueryDef(
      "q150_cap_forecast",
      (s, d) => {
        val spectrum = hashedShingles(s, d)
          .select(col("doc_id"), col("sid")).distinct()
          .groupBy(col("sid")).agg(count(lit(1)).as("df"))
          .groupBy(col("df")).agg(count(lit(1)).as("n_shingles"))
          .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val caps = s.createDataFrame(Seq(Tuple1(8L), Tuple1(16L),
          Tuple1(32L), Tuple1(64L))).toDF("cap")
        val tot = spectrum.agg(
          sum(col("df") * col("n_shingles")).as("occ_total"))
        caps.join(spectrum, col("df").between(2, col("cap")))
          .groupBy(col("cap"))
          .agg(sum(col("n_shingles") * col("df") * (col("df") - 1) / lit(2))
              .cast("long").as("cand_pairs"),
            sum(col("df") * col("n_shingles")).as("occ_kept"))
          .join(broadcast(tot))
          .select(col("cap"), col("cand_pairs"),
            round(col("occ_kept") / col("occ_total"), 6).as("occ_share"))
      },
      Some(s"""WITH $hashedShinglesSql,
              |dfq AS (SELECT sid, count(*) AS df FROM sh GROUP BY 1),
              |spec AS (SELECT df, count(*) AS n_shingles FROM dfq GROUP BY 1),
              |tot AS (SELECT CAST(sum(df * n_shingles) AS BIGINT)
              |          AS occ_total FROM spec),
              |caps AS (SELECT unnest([8, 16, 32, 64]) AS cap)
              |SELECT CAST(cap AS BIGINT) AS cap,
              |  CAST(sum(n_shingles * df * (df - 1) // 2) AS BIGINT)
              |    AS cand_pairs,
              |  round(CAST(sum(df * n_shingles) AS BIGINT)
              |        / tot.occ_total, 6) AS occ_share
              |FROM caps JOIN spec ON spec.df BETWEEN 2 AND caps.cap
              |CROSS JOIN tot GROUP BY cap, tot.occ_total""".stripMargin)),

    // ---- q152: incremental store refresh == full recompute --------------
    // The closing theorem of the incremental dedup story, under the
    // driver's hash gate: split the corpus into a "persisted store"
    // (doc_id ≢ 3 mod 7) and an "ingest delta" (≡ 3), derive the
    // store's closure, then fold the delta in through refreshDelta /
    // refreshedComponents — batch pair graph + one node per affected
    // store cluster, never the corpus graph — and emit the refreshed
    // label for EVERY document. The oracle knows nothing about the
    // split: it derives the full-corpus closure from scratch with a
    // recursive CTE. Equality here is exactly the claim "a delta
    // refresh loses nothing vs re-clustering the world".
    QueryDef(
      "q152_refresh_closure",
      (s, d) => {
        val docs = Tables.parallel(s, d, "documents")
        val store = docs.filter(col("doc_id") % 7 =!= 3)
        val batch = docs.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"), col("text"))
        val storeBands = bandSignatures(store).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val comp = labelEdges(pairsFromBands(storeBands).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_)))
          .select(col("id").as("doc_id"), col("label").as("comp"))
        val newBands = bandSignatures(batch).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val (batchLabels, storeNodes) = refreshDelta(newBands,
          batch.select(col("doc_id")),
          storeBands.select(col("doc_id"), col("band"), col("h1"), col("h2")),
          comp)
        docs.select(col("doc_id"))
          .join(refreshedComponents(comp, batchLabels, storeNodes),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("comp"), col("doc_id")).as("comp"))
      },
      Some(s"""WITH RECURSIVE $minhashPairsSql,
              |sym AS (SELECT da AS a, db AS b FROM pairs
              |        UNION ALL SELECT db, da FROM pairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |),
              |lab AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a)
              |SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS comp
              |FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id"""
        .stripMargin)),

    // ---- q153: pending-bridge report ------------------------------------
    // [[pendingBridges]] under the hash gate, same batch split as
    // q142/q151/q152 but with the store scenario that actually
    // produces bridges: the component store was built by clustering
    // each SOURCE independently (two crawls resolved separately and
    // unioned — the standard way a store inherits a partition
    // refinement of the true closure; this corpus' template families
    // collide in every band, so no doc-subset split can disconnect
    // them, but a per-source store leaves every cross-source family
    // as ≥ 2 clusters a batch member immediately bridges). For each
    // batch component matching ≥ 2 distinct stored clusters: one row
    // per cluster left stale by assignment's never-relabel-the-store
    // rule. The oracle re-derives the per-source store closure and
    // the batch closure recursively and replays the report
    // relationally.
    QueryDef(
      "q153_pending_bridges",
      (s, d) => {
        val docs = Tables.parallel(s, d, "documents")
        val store = docs.filter(col("doc_id") % 7 =!= 3)
        val batch = docs.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"), col("text"))
        val storeBands = bandSignatures(store).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val src = docs.select(col("doc_id"), col("source"))
        val sameSrcPairs = pairsFromBands(storeBands)
          .join(src.select(col("doc_id").as("da"), col("source").as("sa")), "da")
          .join(src.select(col("doc_id").as("db"), col("source").as("sb")), "db")
          .filter(col("sa") === col("sb"))
          .select(col("da"), col("db")).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val comp = labelEdges(sameSrcPairs)
          .select(col("id").as("doc_id"), col("label").as("comp"))
        pendingBridges(s, batch,
          storeBands.select(col("doc_id"), col("band"), col("h1"), col("h2")),
          comp)
      },
      Some(s"""WITH RECURSIVE $minhashPairsSql,
              |spairs AS (SELECT da, db FROM pairs
              |           JOIN documents x ON x.doc_id = da
              |           JOIN documents y ON y.doc_id = db
              |           WHERE da % 7 <> 3 AND db % 7 <> 3
              |             AND x.source = y.source),
              |sym AS (SELECT da AS a, db AS b FROM spairs
              |        UNION ALL SELECT db, da FROM spairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |),
              |lab AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a),
              |cand AS (SELECT DISTINCT n.doc_id AS new_id,
              |           coalesce(l.comp, b2.doc_id) AS root
              |         FROM bands n JOIN bands b2
              |           ON n.band = b2.band AND n.h1 = b2.h1 AND n.h2 = b2.h2
              |          AND n.doc_id % 7 = 3 AND b2.doc_id % 7 <> 3
              |         LEFT JOIN lab l ON l.doc_id = b2.doc_id),
              |bpairs AS (SELECT da, db FROM pairs
              |           WHERE da % 7 = 3 AND db % 7 = 3),
              |bsym AS (SELECT da AS a, db AS b FROM bpairs
              |         UNION ALL SELECT db, da FROM bpairs),
              |breach(a, b) AS (
              |  SELECT DISTINCT a, a FROM bsym
              |  UNION
              |  SELECT r.a, s.b FROM breach r JOIN bsym s ON r.b = s.a
              |),
              |bk AS (SELECT a AS doc_id, min(b) AS bkey FROM breach GROUP BY a),
              |mem AS (SELECT d.doc_id, coalesce(bk.bkey, d.doc_id) AS bkey
              |        FROM documents d LEFT JOIN bk ON bk.doc_id = d.doc_id
              |        WHERE d.doc_id % 7 = 3),
              |sizes AS (SELECT bkey, count(*) AS n_batch_docs
              |          FROM mem GROUP BY 1),
              |cr AS (SELECT DISTINCT mem.bkey, cand.root
              |       FROM mem JOIN cand ON cand.new_id = mem.doc_id),
              |br AS (SELECT bkey, min(root) AS store_comp_keep
              |       FROM cr GROUP BY bkey
              |       HAVING count(DISTINCT root) >= 2)
              |SELECT cr.bkey AS batch_comp, br.store_comp_keep,
              |  cr.root AS store_comp_stale, sizes.n_batch_docs
              |FROM cr JOIN br USING (bkey) JOIN sizes USING (bkey)
              |WHERE cr.root <> br.store_comp_keep""".stripMargin)),

    // ---- q156: refresh churn report --------------------------------------
    // The post-refresh face of the incremental loop's observability
    // (q153 reports staleness BEFORE a refresh; this reports impact
    // AFTER): for every STORED document whose cluster label the
    // refresh changed, one row per (old_comp, new_comp) transition
    // with the count of moved documents. Changes come from exactly
    // two causes — a batch doc became the new minimum of a merged
    // cluster, or a batch component fused clusters/absorbed store
    // singletons — and the report is the relabel map ops would watch
    // per refresh (alert on mass churn = bad banding or an ingest
    // anomaly). Derived from the SAME delta-graph outputs refreshStores
    // writes, so the corpus side stays a broadcast relabel
    // (delta-sized shuffles only). The oracle re-derives both closures
    // (store subset + full corpus) recursively and diffs them.
    QueryDef(
      "q156_refresh_churn",
      (s, d) => {
        val docs = Tables.parallel(s, d, "documents")
        val store = docs.filter(col("doc_id") % 7 =!= 3)
        val batch = docs.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"), col("text"))
        val storeBands = bandSignatures(store).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val comp = labelEdges(pairsFromBands(storeBands).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_)))
          .select(col("id").as("doc_id"), col("label").as("comp"))
        val newBands = bandSignatures(batch).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val (batchLabels, storeNodes) = refreshDelta(newBands,
          batch.select(col("doc_id")),
          storeBands.select(col("doc_id"), col("band"), col("h1"), col("h2")),
          comp)
        val refreshed = refreshedComponents(comp, batchLabels, storeNodes)
        val storeIds = store.select(col("doc_id"))
        val oldL = storeIds.join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("comp"), col("doc_id")).as("old_comp"))
        val newL = storeIds.join(refreshed, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("comp"), col("doc_id")).as("new_comp"))
        oldL.join(newL, "doc_id")
          .filter(col("old_comp") =!= col("new_comp"))
          .groupBy(col("old_comp"), col("new_comp"))
          .agg(count(lit(1)).as("n_docs"))
      },
      Some(s"""WITH RECURSIVE $minhashPairsSql,
              |spairs AS (SELECT da, db FROM pairs
              |           WHERE da % 7 <> 3 AND db % 7 <> 3),
              |ssym AS (SELECT da AS a, db AS b FROM spairs
              |         UNION ALL SELECT db, da FROM spairs),
              |sreach(a, b) AS (
              |  SELECT DISTINCT a, a FROM ssym
              |  UNION
              |  SELECT r.a, s.b FROM sreach r JOIN ssym s ON r.b = s.a
              |),
              |slab AS (SELECT a AS doc_id, min(b) AS comp FROM sreach GROUP BY a),
              |sym AS (SELECT da AS a, db AS b FROM pairs
              |        UNION ALL SELECT db, da FROM pairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |),
              |lab AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a),
              |diff AS (SELECT d.doc_id,
              |           coalesce(sl.comp, d.doc_id) AS old_comp,
              |           coalesce(l.comp, d.doc_id) AS new_comp
              |         FROM documents d
              |         LEFT JOIN slab sl ON sl.doc_id = d.doc_id
              |         LEFT JOIN lab l ON l.doc_id = d.doc_id
              |         WHERE d.doc_id % 7 <> 3)
              |SELECT old_comp, new_comp, count(*) AS n_docs
              |FROM diff WHERE old_comp <> new_comp
              |GROUP BY 1, 2""".stripMargin)),

    // ---- q164: duplicated-span coverage (distributed interval union) ---
    // The span-level dedup diagnostic from the exact-substring-dedup
    // literature: for each document, what FRACTION of its tokens sits
    // inside a token run that also appears verbatim in another
    // document? Every 8-gram occurring in ≥ 2 distinct docs marks the
    // interval [start, start+7] in each doc it occurs in; overlapping
    // marks merge (interval union via window island detection) so a
    // 20-token shared run counts 20 tokens, not 13 overlapping grams
    // × 8. The scale property that makes this different from every
    // pair op above: marking is LINEAR in gram occurrences — a
    // boilerplate gram with df = 10⁶ costs 10⁶ marked rows, not
    // C(10⁶,2) pairs — so there is no df² term and no cap to tune.
    // Shuffles: gram df (one exchange on gid), the dup-mark semi join
    // (same key), and the per-doc window (one exchange on doc_id);
    // islands are per-doc-local arithmetic. The 60-bit md5 gid keeps
    // the shuffle rows narrow (the gramsSql idiom); island detection
    // is `start > max(end) over preceding` + a running flag sum —
    // the same two windows DuckDB replays.
    QueryDef(
      "q164_dup_span_coverage",
      // parallel loader: the cost is per-gram md5 COMPUTE, and the sf
      // tables are single-row-group parquet (one split) — the q102/q35
      // posture. The island chain measured 1.94 -> 1.26 s isolated;
      // the remainder is the chain's two corpus explodes (df pass +
      // occurrence pass), kept as recompute because materializing the
      // occurrence frame is ~10x corpus bytes at scale
      (s, d) => spanCoverage(Tables.parallel(s, d, "documents")),
      Some(s"""WITH $dupSpanChainSql,
              |il AS (SELECT doc_id, island, max(e) - min(s) + 1 AS ilen
              |       FROM i GROUP BY 1, 2),
              |pd AS (SELECT doc_id, CAST(sum(ilen) AS BIGINT) AS dup_tokens
              |       FROM il GROUP BY 1)
              |SELECT t.doc_id, t.n_tokens,
              |  coalesce(pd.dup_tokens, 0) AS dup_tokens,
              |  round(coalesce(pd.dup_tokens, 0) / CAST(t.n_tokens AS DOUBLE), 6)
              |    AS coverage
              |FROM t LEFT JOIN pd USING (doc_id)""".stripMargin)),

    // ---- q165: top boilerplate spans by token savings -------------------
    // q164 says HOW MUCH of each doc is duplicated span; this says
    // WHICH spans to strip first — the actionable boilerplate report.
    // Each maximal island materializes its actual token run (a doc_id
    // join back to the token arrays — |islands| rows, not the gram
    // stream), identical runs group, and the top 20 rank by the
    // tokens a strip-all-but-one pass would save: (n_occ − 1) · len.
    // The ranking is a TakeOrdered top-k (per-partition heads +
    // driver merge of 20-row frames), never a full sort of the span
    // table; (savings DESC, span) is a total order so the cutoff is
    // deterministic on both engines. A df=10⁶ template costs one
    // group row with n_occ=10⁶ — the report stays |distinct spans|
    // even when the duplication is extreme.
    QueryDef(
      "q165_boilerplate_spans",
      (s, d) => {
        val docs = tokenizedDocs(Tables.parallel(s, d, "documents"))
        val spans = dupIslands(docs)
          .groupBy(col("doc_id"), col("island"))
          .agg(min(col("start")).as("a"), max(col("end")).as("b"))
          .join(docs.select(col("doc_id"), col("t")), "doc_id")
          .select(col("doc_id"),
            concat_ws(" ", slice(col("t"), col("a"),
              (col("b") - col("a") + 1).cast("int"))).as("span"),
            (col("b") - col("a") + 1).as("len"))
        spans.groupBy(col("span"))
          .agg(max(col("len")).as("len"), count(lit(1)).as("n_occ"),
            countDistinct(col("doc_id")).as("n_docs"))
          .filter(col("n_occ") >= 2)
          .withColumn("savings", (col("n_occ") - 1) * col("len"))
          .orderBy(col("savings").desc, col("span"))
          .limit(20)
          .select(col("span"), col("len"), col("n_occ"), col("n_docs"),
            col("savings"))
      },
      Some(s"""WITH $dupSpanChainSql,
              |sp AS (SELECT doc_id, island, min(s) AS a, max(e) AS b
              |       FROM i GROUP BY 1, 2),
              |tx AS (SELECT sp.doc_id,
              |         array_to_string(list_slice(t.toks, sp.a, sp.b), ' ') AS span,
              |         CAST(sp.b - sp.a + 1 AS BIGINT) AS len
              |       FROM sp JOIN t ON t.doc_id = sp.doc_id),
              |ag AS (SELECT span, CAST(max(len) AS BIGINT) AS len,
              |         count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
              |       FROM tx GROUP BY 1)
              |SELECT span, len, n_occ, n_docs,
              |  CAST((n_occ - 1) * len AS BIGINT) AS savings
              |FROM ag WHERE n_occ >= 2
              |ORDER BY savings DESC, span LIMIT 20""".stripMargin)),

    // ---- q166: incremental span coverage == full recompute --------------
    // [[spanCoverageAgainstStore]] under the hash gate, same split as
    // q142/q151/q152: the store keeps only its (gid)-bucketed gram
    // frequencies (doc_id ≢ 3 mod 7), the ingest batch (≡ 3) marks
    // itself from batch_df + store_df — one delta-sized store lookup,
    // the corpus never re-tokenizes — and the result must equal the
    // oracle's FULL-corpus recompute restricted to the batch docs.
    // (The store subset is derived inline here so the oracle can see
    // it; production reads the persisted writeGramStore table.)
    QueryDef(
      "q166_span_ingest",
      (s, d) => {
        val docs = Tables.parallel(s, d, "documents")
        val store = gramDf(tokenizedDocs(docs.filter(col("doc_id") % 7 =!= 3)))
        spanCoverageAgainstStore(
          docs.filter(col("doc_id") % 7 === 3)
            .select(col("doc_id"), col("text")),
          store)
      },
      Some(s"""WITH $dupSpanChainSql,
              |il AS (SELECT doc_id, island, max(e) - min(s) + 1 AS ilen
              |       FROM i GROUP BY 1, 2),
              |pd AS (SELECT doc_id, CAST(sum(ilen) AS BIGINT) AS dup_tokens
              |       FROM il GROUP BY 1)
              |SELECT t.doc_id, t.n_tokens,
              |  coalesce(pd.dup_tokens, 0) AS dup_tokens,
              |  round(coalesce(pd.dup_tokens, 0) / CAST(t.n_tokens AS DOUBLE), 6)
              |    AS coverage
              |FROM t LEFT JOIN pd USING (doc_id)
              |WHERE t.doc_id % 7 = 3""".stripMargin)),

    // ---- q167: gram-store refresh == one-shot store ---------------------
    // [[refreshGramStore]]'s arithmetic under the hash gate: fold the
    // ingest installment's (gid, df) deltas into the store subset's
    // and sum per gid — the exact sum-on-read a refreshed store
    // serves — then report the df spectrum (df → n_grams, the q118
    // shape). The oracle recomputes distinct-doc frequencies over the
    // FULL corpus in one shot; equality is the claim "append + sum
    // loses nothing vs re-counting the world", which holds because
    // the installments' doc sets are disjoint. Delta-sized by
    // construction on the Spark side; the spectrum is a |df-domain|
    // frame.
    QueryDef(
      "q167_gram_store_refresh",
      (s, d) => {
        val docs = Tables.parallel(s, d, "documents")
        val store = gramFrequencies(docs.filter(col("doc_id") % 7 =!= 3))
        val delta = gramFrequencies(docs.filter(col("doc_id") % 7 === 3))
        store.unionByName(delta)
          .groupBy(col("gid")).agg(sum(col("df")).as("df"))
          .groupBy(col("df")).agg(count(lit(1)).as("n_grams"))
      },
      Some(s"""WITH $dupSpanChainSql,
              |dfq AS (SELECT gid, count(DISTINCT doc_id) AS df
              |        FROM g GROUP BY 1)
              |SELECT CAST(df AS BIGINT) AS df, count(*) AS n_grams
              |FROM dfq GROUP BY df""".stripMargin)),

    // ---- q168: per-source boilerplate burden -----------------------------
    // The ops rollup of q164 — which SOURCES carry the duplication
    // (the chart a curation dashboard actually shows, and the number
    // that decides which crawl gets a template-stripping pass): doc
    // count, token mass, duplicated-token mass, and the source-level
    // coverage share, one row per source. Costs one extra broadcast-
    // size join + a |sources|-row aggregate on top of q164's linear
    // marking; the share is one IEEE divide of two exact BIGINTs
    // (q111 lesson), rounded to 6.
    QueryDef(
      "q168_source_boilerplate",
      (s, d) => {
        val docs = Tables.parallel(s, d, "documents")
        spanCoverage(docs)
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(col("dup_tokens")).as("dup_tokens"),
            round(sum(col("dup_tokens")).cast("double")
              / sum(col("n_tokens")).cast("double"), 6).as("dup_share"))
      },
      Some(s"""WITH $dupSpanChainSql,
              |il AS (SELECT doc_id, island, max(e) - min(s) + 1 AS ilen
              |       FROM i GROUP BY 1, 2),
              |pd AS (SELECT doc_id, CAST(sum(ilen) AS BIGINT) AS dup_tokens
              |       FROM il GROUP BY 1),
              |cov AS (SELECT t.doc_id, t.n_tokens,
              |          coalesce(pd.dup_tokens, 0) AS dup_tokens
              |        FROM t LEFT JOIN pd USING (doc_id))
              |SELECT d.source, count(*) AS n_docs,
              |  CAST(sum(cov.n_tokens) AS BIGINT) AS n_tokens,
              |  CAST(sum(cov.dup_tokens) AS BIGINT) AS dup_tokens,
              |  round(CAST(sum(cov.dup_tokens) AS DOUBLE)
              |        / CAST(sum(cov.n_tokens) AS DOUBLE), 6) AS dup_share
              |FROM cov JOIN documents d ON d.doc_id = cov.doc_id
              |GROUP BY d.source""".stripMargin)),

    // ---- q169: span-store staleness report ------------------------------
    // q153's role for the span loop: [[spanCoverageAgainstStore]]'s
    // documented remnant is that STORED docs whose coverage a new
    // batch raises keep stale numbers until the gram-store refresh —
    // this report quantifies exactly that, from the same delta-sized
    // frames the scorer joins. A gram goes stale-making iff the batch
    // pushes it over the dup threshold: bdf ≥ 1 ∧ sdf < 2 ∧
    // sdf + bdf ≥ 2, split by kind — `store_stale` (sdf = 1: one
    // stored doc now carries uncounted coverage per gram) vs
    // `batch_only` (sdf = 0, bdf ≥ 2: batch-internal dups the batch
    // already scored; the store is unaffected). Row count 0 ⇔ every
    // stored coverage number is exact right now, so the report
    // doubles as the refresh-cadence metric. Store side stays the
    // bucketed (gid, df) frame — nothing corpus-sized moves.
    QueryDef(
      "q169_span_staleness",
      (s, d) => {
        val docs = Tables.parallel(s, d, "documents")
        val sdf = gramFrequencies(docs.filter(col("doc_id") % 7 =!= 3))
          .select(col("gid"), col("df").as("sdf"))
        val bdf = gramFrequencies(docs.filter(col("doc_id") % 7 === 3))
          .select(col("gid"), col("df").as("bdf"))
        bdf.join(sdf, Seq("gid"), "left")
          .select(col("gid"), coalesce(col("sdf"), lit(0L)).as("sdf"),
            col("bdf"))
          .filter(col("sdf") < 2 && col("sdf") + col("bdf") >= 2)
          .withColumn("kind",
            when(col("sdf") === 1, "store_stale").otherwise("batch_only"))
          .groupBy(col("kind"))
          .agg(count(lit(1)).as("n_grams"),
            sum(col("sdf")).as("n_stale_store_slots"))
      },
      Some(s"""WITH $dupSpanChainSql,
              |fq AS (SELECT gid,
              |         count(DISTINCT CASE WHEN doc_id % 7 <> 3
              |                             THEN doc_id END) AS sdf,
              |         count(DISTINCT CASE WHEN doc_id % 7 = 3
              |                             THEN doc_id END) AS bdf
              |       FROM g GROUP BY 1),
              |x AS (SELECT gid, sdf, bdf,
              |        CASE WHEN sdf = 1 THEN 'store_stale'
              |             ELSE 'batch_only' END AS kind
              |      FROM fq WHERE bdf >= 1 AND sdf < 2 AND sdf + bdf >= 2)
              |SELECT kind, count(*) AS n_grams,
              |  CAST(sum(sdf) AS BIGINT) AS n_stale_store_slots
              |FROM x GROUP BY kind""".stripMargin)),

    // ---- q170: boilerplate strip (the transform, not the report) --------
    // q164 measures and q165 ranks; this one DOES it — the curation
    // rewrite that removes every cross-document duplicated span and
    // emits the cleaned corpus manifest: (doc_id, n_tokens, n_kept,
    // clean_fp), where clean_fp is the md5long of the rebuilt text so
    // the hash gate proves the exact reconstruction, not just counts.
    // The rewrite itself is ROW-LOCAL: each doc's islands collect to
    // a per-doc array (bounded by n_tokens/8 entries), broadcast-free
    // join back on doc_id, and a positional higher-order `filter`
    // keeps exactly the uncovered tokens — no explode of the token
    // stream, no per-token shuffle. Conservation is pinned in spec:
    // n_kept == n_tokens − q164.dup_tokens for every document.
    QueryDef(
      "q170_strip_boilerplate",
      (s, d) => {
        val docs = tokenizedDocs(Tables.parallel(s, d, "documents"))
        val isl = dupIslands(docs)
          .groupBy(col("doc_id"), col("island"))
          .agg(min(col("start")).as("a"), max(col("end")).as("b"))
          .groupBy(col("doc_id"))
          .agg(collect_list(struct(col("a"), col("b"))).as("isl"))
        docs.join(isl, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"), expr(
            """filter(t, (x, i) -> isl is null
              |  or not exists(isl, s -> i + 1 >= s.a and i + 1 <= s.b))"""
              .stripMargin).as("kept"))
          .select(col("doc_id"), col("n_tokens"),
            size(col("kept")).cast("long").as("n_kept"),
            expr("md5long(concat_ws(' ', kept))").as("clean_fp"))
      },
      Some(s"""WITH $dupSpanChainSql,
              |sp AS (SELECT doc_id, island, min(s) AS a, max(e) AS b
              |       FROM i GROUP BY 1, 2),
              |pos AS (SELECT t.doc_id, t.n_tokens, g.p, t.toks[g.p] AS tok
              |        FROM t, UNNEST(generate_series(1, len(t.toks))) AS g(p)),
              |kept AS (SELECT pos.* FROM pos
              |         WHERE NOT EXISTS (SELECT 1 FROM sp
              |                           WHERE sp.doc_id = pos.doc_id
              |                             AND pos.p BETWEEN sp.a AND sp.b)),
              |reb AS (SELECT doc_id,
              |          coalesce(string_agg(tok, ' ' ORDER BY p), '') AS clean,
              |          count(*) AS n_kept
              |        FROM kept GROUP BY doc_id)
              |SELECT t.doc_id, t.n_tokens,
              |  coalesce(reb.n_kept, 0) AS n_kept,
              |  ('0x' || substr(md5(coalesce(reb.clean, '')), 1, 15))::BIGINT
              |    AS clean_fp
              |FROM t LEFT JOIN reb ON reb.doc_id = t.doc_id"""
        .stripMargin)),

    // ---- q175: incremental strip == full-corpus strip --------------------
    // [[stripAgainstStore]] under the hash gate, the q166 pattern for
    // the REWRITE instead of the score: the batch (doc_id % 7 == 3)
    // is stripped against the store subset's gram frequencies, and
    // the result — token counts and the md5long fingerprint of the
    // rebuilt text — must equal q170's full-corpus strip restricted
    // to the batch docs. Equality is by construction (disjoint doc
    // sets ⇒ store_df + batch_df is the full df), and this pins it
    // bit-for-bit including the rebuilt-string fingerprints. This is
    // the batch transform SpanIngest.startWithStrip deploys per
    // micro-batch.
    QueryDef(
      "q175_strip_ingest",
      (s, d) => {
        val docs = Tables.parallel(s, d, "documents")
        val store = gramFrequencies(docs.filter(col("doc_id") % 7 =!= 3))
        val batch = docs.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"), col("text"))
        stripAgainstStore(batch, store)
          .select(col("doc_id"), col("n_tokens"), col("n_kept"),
            col("clean_fp"))
      },
      Some(s"""WITH $dupSpanChainSql,
              |sp AS (SELECT doc_id, island, min(s) AS a, max(e) AS b
              |       FROM i GROUP BY 1, 2),
              |pos AS (SELECT t.doc_id, t.n_tokens, g.p, t.toks[g.p] AS tok
              |        FROM t, UNNEST(generate_series(1, len(t.toks))) AS g(p)
              |        WHERE t.doc_id % 7 = 3),
              |kept AS (SELECT pos.* FROM pos
              |         WHERE NOT EXISTS (SELECT 1 FROM sp
              |                           WHERE sp.doc_id = pos.doc_id
              |                             AND pos.p BETWEEN sp.a AND sp.b)),
              |reb AS (SELECT doc_id,
              |          coalesce(string_agg(tok, ' ' ORDER BY p), '') AS clean,
              |          count(*) AS n_kept
              |        FROM kept GROUP BY doc_id)
              |SELECT t.doc_id, t.n_tokens,
              |  coalesce(reb.n_kept, 0) AS n_kept,
              |  ('0x' || substr(md5(coalesce(reb.clean, '')), 1, 15))::BIGINT
              |    AS clean_fp
              |FROM t LEFT JOIN reb ON reb.doc_id = t.doc_id
              |WHERE t.doc_id % 7 = 3""".stripMargin))
  )
}
