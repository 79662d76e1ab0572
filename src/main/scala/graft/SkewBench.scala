package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew stress-bench for the dedup/ANN path: synthesizes a corpus at
  * ~10× sf0.1 rows whose skew is ADVERSARIAL rather than sampled —
  * the shapes the small-SF driver tables can never exhibit but a
  * 100 TB crawl always does:
  *
  *  - a boilerplate 12-word prefix on a third of all documents, so
  *    every 3-gram inside it has df ≈ nDocs/3 ≫ [[Dedup.JaccardDfCap]]
  *    (the uncapped inverted index would emit ~(nDocs/3)² pairs from
  *    those shingles alone — the df cap must make them free);
  *  - a 1000-document near-identical cluster (one unique tail word
  *    each), which lands every member in the SAME MinHash/LSH bucket
  *    of every band — the hot-bucket case the salted pair generation
  *    has to spread across tasks;
  *  - 200 planted near-dup pairs with document-unique shingles
  *    (df = 2, under the cap) so the capped Jaccard query still has
  *    true positives to find;
  *  - a 2000-vector near-identical embedding cluster that collapses
  *    into one sign-LSH bucket per band for the q44 path.
  *
  * Everything is hash-derived from ids (murmur3 via `hash()`), so the
  * corpus is bit-identical across runs — timings compare across
  * commits. Emits one BENCH-style JSON line (plus SKEWBENCH_OUT.json)
  * with per-query seconds AND result-row counts; the counts prove the
  * skew materialized (e.g. the hot bucket really yields ≥ C(1000,2)
  * candidate pairs) instead of silently degenerating into a uniform
  * corpus.
  */
object SkewBench {

  val HotDocs = 1000      // near-identical docs → one LSH bucket
  val PairBase = 1000     // [PairBase, PairBase+PlantedPairs*2): near-dup pairs
  val PlantedPairs = 200
  val HotVecs = 2000      // near-identical embeddings → one sign-LSH bucket

  /** Deterministic skewed corpus; `documents.parquet` + `embeddings.parquet`
    * under `dir`, schema-identical to the driver tables (TESTDATA.md).
    */
  def writeCorpus(spark: SparkSession, dir: String, nDocs: Long, nVecs: Long): Unit = {
    val boilerplate =
      "terms of service apply to all content on this site please read carefully"
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      expr(
        s"""CASE
           |  WHEN id < $HotDocs THEN concat(
           |    concat_ws(' ', transform(sequence(0, 58),
           |      i -> concat('t', pmod(hash(7, i), 997)))),
           |    ' u', id)
           |  WHEN id < ${PairBase + 2L * PlantedPairs} THEN concat(
           |    concat_ws(' ', transform(sequence(0, 59),
           |      i -> concat('w', pmod(hash(id - id % 2, i), 997)))),
           |    ' v', id)
           |  WHEN id % 3 = 0 THEN concat('$boilerplate ',
           |    concat_ws(' ', transform(sequence(0, 47),
           |      i -> concat('w', pmod(hash(id, i), 997)))))
           |  ELSE concat_ws(' ', transform(sequence(0, 59),
           |    i -> concat('w', pmod(hash(id, i), 997))))
           |END""".stripMargin).as("text"),
      expr("CASE WHEN id % 10 = 0 THEN 'de' ELSE 'en' END").as("lang"),
      expr("concat('crawl-', pmod(id, 4))").as("source"))
      .withColumn("n_chars", length(col("text")))
    docs.repartition(32).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

    val vecs = spark.range(nVecs).select(
      col("id").as("vec_id"),
      expr(
        s"""CASE WHEN id < $HotVecs THEN
           |  transform(sequence(0, 63), i -> cast(
           |    pmod(hash(77, i), 1000) / 1000.0
           |      + pmod(hash(id, i), 7) / 100000.0 + 0.001 as float))
           |ELSE
           |  transform(sequence(0, 63), i -> cast(
           |    (pmod(hash(id, i), 2000) - 1000) / 1000.0 + 0.0005 as float))
           |END""".stripMargin).as("embedding"),
      expr("cast(pmod(id, 8) as int)").as("label"))
    vecs.repartition(8).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
  }

  /** The queries whose plans carry the skew guards under test. */
  val Targets: Seq[String] = Seq(
    "q34_dedup_exact", "q35_ngram_jaccard", "q36_minhash_lsh",
    "q38_minhash_sig", "q44_embed_neardup", "q53_semdedup",
    "q57_dedup_components", "q61_simhash_neardup", "q64_containment",
    "q65_ann_scaled",
    // round-4 second wave: chunk-level dedup (fp window under hot
    // duplicate chunks), winnowing pairs (capped postings under
    // boilerplate), and the prefix-filter join — whose rare-first
    // prefixes should shrug the boilerplate shingles off entirely
    "q86_chunk_dedup", "q95_winnow_pairs", "q102_prefix_join",
    // round-6 wave: minhash-vs-exact error (inherits q35's pair set —
    // the banding-tuning eval must survive the same boilerplate), and
    // aligned chunk runs (the planted near-dup pairs share their
    // first 60 tokens → 2 aligned chunks at diagonal 0 each, so
    // rows == PlantedPairs proves recall; the 1000-doc hot cluster's
    // shared chunk has df ≫ 64 and must be capped away)
    "q110_minhash_error", "q113_aligned_dups",
    // round-6 third wave: collocation mining — the boilerplate
    // bigrams ("terms of", "of service", …) occur in a third of the
    // corpus, making them the hot keys of the (w1, w2) aggregate and
    // of both marginal joins; partial aggregation must collapse them
    // map-side and the unhinted joins must not tip over
    "q122_collocations",
    // round-8: the bucket-health audit must SEE the hot cluster (its
    // max_bucket is the 1000-doc near-identical block) while staying
    // cheap — it aggregates bucket sizes, never expands pairs
    "q143_lsh_bucket_audit",
    // round-9: the incremental IVF path under the 2000-vector
    // near-identical cluster — the hot block collapses into ONE cell,
    // so assignment must stay a broadcast argmax (no shuffle to tip)
    // and search must pay only the probed hot cell's rerank, never an
    // all-pairs expansion
    "q154_ivf_incremental_assign", "q155_ivf_incremental_search",
    // round-9: duplicated-span coverage IS the boilerplate-measurement
    // op, so the boilerplate corpus is its home game: every 8-gram in
    // the 1000-doc hot block carries df ≈ 1000, which a pair op would
    // square into 10⁶ candidates — the linear-marking claim (cost ∝
    // occurrences, no df² term) is exactly what this target times.
    // The report pair rides the same chain: q165's span group must
    // collapse the hot block's 1000 identical islands into ONE
    // |distinct spans| row (never a pair set), and q168's source
    // rollup stays a broadcast join over the linear marks
    "q164_dup_span_coverage", "q165_boilerplate_spans",
    "q168_source_boilerplate",
    // round-10: the incremental strip (q175) rides the same linear
    // marking against a store-subset split — the rewrite must stay
    // occurrence-proportional under the hot block exactly like the
    // score; and the perceptual-hash family: q172 is a pure
    // projection (skew-immune by construction — the timing pins
    // that), while q173's banded hamming join meets its adversary
    // head-on: the 1000-doc near-identical cluster collapses into
    // ONE dHash band bucket, so the candidate set is the hot
    // block's C(1000,2)-ish pair mass — the same output-bound shape
    // q36 carries, split across 4 band keys and AQE skew handling,
    // never an all-pairs corpus scan
    "q172_phash", "q173_phash_neardup", "q175_strip_ingest",
    // round-11: the PQ-coded serving path under the one-cell hot
    // block — a query probing the hot cell admits its ~2000
    // candidates into ADC ranking, which must stay 8 integer lookups
    // per candidate over the packed codes (no vector is read), and
    // the exact rerank must fetch full vectors for only the kAdc
    // admitted rows — never the probed cell's membership
    "q177_pq_store_adc", "q178_pq_serve",
    // round-11 second wave: the audio near-dup join at 10× rows —
    // its candidate/verify machinery IS q173's (saltedPairs + struct-
    // carried bands), so the hot-bucket guard is already timed there;
    // this target times the NEW upstream at scale: the WAV synthesis
    // (JVM builder), the partition-parallel RIFF decode, and the
    // 64-block envelope reduction over ~13M decoded samples — all
    // linear, shuffle-free until the band join
    "q185_audio_neardup",
    // round-11 third wave: the video triad at 10× rows — q187 times
    // the container decode + fused block-mean hash over ~44k frames
    // (linear, shuffle-free until the per-doc window); q191 times the
    // cross-modal capstone: all four modality chains (text, RIFF
    // decode, y4m decode, payload phash) meeting in doc_id equi-joins
    "q187_y4m_decode_phash", "q191_multimodal_curation",
    // round-12: the crawl front door at 10× rows — ~97 member chains
    // of ~500 gzip members each, so the per-file SEQUENTIAL framing
    // constraint (a .wet.gz has no random access) meets real chain
    // lengths while files decode partition-parallel; the fp dedup agg
    // rides hash-partitioned md5 keys (uniform by construction — the
    // near-identical hot block differs per doc, so exact dedup must
    // NOT collapse it, and the count proves that)
    "q196_crawl_pipeline",
    // round-12 second wave: host-level curation where the corpus has
    // FOUR hosts — every host is a mega-host (~12.5k records at 10×),
    // the exact adversary of per-host ranking: an unfiltered window
    // would sort each host's full record set in one task (4 busy
    // cores, 28 idle); Catalyst's inferred partial WindowGroupLimit
    // caps what each map task ships to 15 rows per host, so the only
    // per-host sort sees ≤ partitions·15 candidates
    "q199_host_curation",
    // the URL-aware capstone under the same 4-host corpus: the
    // revisit agg's url keys are BRUTALLY hot (4 sources × 13 pages
    // = 52 urls over 50k records ≈ 960 fetches per url) — max/min
    // per-key aggs must collapse map-side (partial agg), and the
    // join-backs ride the same 52-key exchange without tipping
    "q203_web_pipeline",
    // round-13: incremental near-dup assignment at the crawl seam
    // under the 1000-doc near-identical cluster — the hot block's
    // band rows accumulate in the STORE across waves, so the
    // candidate join (batch bands × stored bands on (band,h1,h2))
    // grows |batch∩bucket|·|store∩bucket| inside one bucket; the
    // min-label aggregate collapses candidates map-side right after
    // the join, and the timing pins that the seam absorbs the hot
    // block instead of tipping a task
    "q206_wet_neardup")

  def main(args: Array[String]): Unit = {
    val loadAtStart = Bench.hostLoad()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR",
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-skew"
      else s"${System.getProperty("java.io.tmpdir")}/graft-skew")
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_SKEW_DOCS", "50000").toLong
    val nVecs = sys.env.getOrElse("SPARK_GRAFT_SKEW_VECS", "20000").toLong
    val repeat = sys.env.get("SPARK_GRAFT_SKEW_REPEAT").map(_.toInt).getOrElse(2)
    val spark = LocalSession()

    writeCorpus(spark, dir, nDocs, nVecs)
    val calibBefore = Bench.calibrate(spark)

    // Same timing discipline as [[Bench]]: drain the ContextCleaner
    // between queries, min-of-N, Bench.force as the action (hash
    // every output column — a bare count() lets the optimizer delete
    // final enrichment joins; see Bench.force).
    // optional comma-separated subset for single-query iteration
    val subset = sys.env.get("SPARK_GRAFT_SKEW_ONLY")
      .map(_.split(",").toSet)
    val selected = Targets.filter(n => subset.forall(_.contains(n)))
      .flatMap(n => Seq.fill(repeat)(n))
    val raw = selected.map { name =>
      System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(500)
      val t0 = System.nanoTime()
      val n = Bench.force(SparkEntry.queries(name)(spark, dir))
      (name, (System.nanoTime() - t0) / 1e9, n)
    }
    val byName = raw.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (n, rs) => (n, rs.map(_._2).min, rs.map(_._3).max) }
    val qs = byName.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val rows = byName.map { case (k, _, n) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val total = byName.map(_._2).sum
    val calibAfter = Bench.calibrate(spark)
    val json = s"""{"metric":"skew_total","value":$total,"unit":"sec",""" +
      s""""queries":$qs,"rows":$rows,"docs":$nDocs,"vecs":$nVecs""" +
      s"""${Bench.calibJson(calibBefore, calibAfter)}""" +
      s"""${Bench.loadJson(loadAtStart)}}"""
    println(json)
    System.err.println(json)
    val out = sys.env.getOrElse("SPARK_GRAFT_SKEW_OUT", "SKEWBENCH_OUT.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
