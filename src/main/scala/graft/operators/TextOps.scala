package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (token stats, language ID heuristic,
  * quality scoring, content fingerprinting). All expressed as built-in
  * codegen'd expressions (no UDFs): at 100 TB these run inside
  * whole-stage codegen directly over the parquet scan, embarrassingly
  * parallel, no shuffle except the final (tiny) aggregations.
  */
object TextOps {

  /** Small English stopword set for the n-gram/stopword language-ID
    * heuristic. Deterministic and identical on the oracle side.
    */
  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private val enStopSql = enStop.map(w => s"'$w'").mkString(", ")

  /** The deterministic quality score shared by the calibration
    * queries (q105, q109): length saturation × distinct-token ratio,
    * rounded once so both engines carry the identical double.
    */
  private def qualityDocs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables(s, d, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("source"),
        round(least(lit(1.0), size(col("toks")) / 100.0)
          * (size(array_distinct(col("toks"))) / size(col("toks"))), 6)
          .as("quality"))

  private val qualitySql =
    """d AS (SELECT doc_id, source,
      |        round(least(1.0, len(string_split(text, ' ')) / 100.0)
      |          * (len(list_distinct(string_split(text, ' ')))
      |             / len(string_split(text, ' '))), 6) AS quality
      |      FROM documents)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // ---- q30: token counting (whitespace + alpha-regex) ----------------
    QueryDef(
      "q30_token_stats",
      (s, d) =>
        Tables(s, d, "documents").select(
          col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("n_alpha_tokens"),
          length(col("text")).as("len_chars"),
          round(length(col("text")) / size(split(col("text"), " ")), 4).as("avg_tok_len")),
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
             |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS n_alpha_tokens,
             |  CAST(length(text) AS INTEGER) AS len_chars,
             |  round(length(text) / len(string_split(text, ' ')), 4) AS avg_tok_len
             |FROM documents""".stripMargin)),

    // ---- q31: language-ID heuristic (stopword ratio) -------------------
    QueryDef(
      "q31_lang_id",
      (s, d) =>
        Tables(s, d, "documents")
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n_stop",
            size(filter(col("toks"), t => t.isin(enStop: _*))))
          .select(
            col("doc_id"),
            round(col("n_stop") / size(col("toks")), 4).as("en_ratio"),
            when(col("n_stop") / size(col("toks")) >= 0.15, "en")
              .otherwise("other").as("guess")),
      Some(s"""SELECT doc_id,
              |  round(len(list_filter(string_split(text, ' '),
              |            t -> t IN ($enStopSql))) / len(string_split(text, ' ')), 4)
              |    AS en_ratio,
              |  CASE WHEN len(list_filter(string_split(text, ' '),
              |              t -> t IN ($enStopSql))) / len(string_split(text, ' ')) >= 0.15
              |       THEN 'en' ELSE 'other' END AS guess
              |FROM documents""".stripMargin)),

    // ---- q32: quality scoring (length × type-token ratio) --------------
    QueryDef(
      "q32_quality",
      (s, d) =>
        Tables(s, d, "documents")
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n", size(col("toks")))
          .withColumn("nd", size(array_distinct(col("toks"))))
          .select(
            col("doc_id"),
            round(col("nd") / col("n"), 4).as("ttr"),
            round(least(lit(1.0), col("n") / 100.0) * (col("nd") / col("n")), 4)
              .as("quality")),
      Some("""SELECT doc_id,
             |  round(len(list_distinct(string_split(text, ' ')))
             |        / len(string_split(text, ' ')), 4) AS ttr,
             |  round(least(1.0, len(string_split(text, ' ')) / 100.0)
             |        * (len(list_distinct(string_split(text, ' ')))
             |           / len(string_split(text, ' '))), 4) AS quality
             |FROM documents""".stripMargin)),

    // ---- q33: document fingerprinting ----------------------------------
    QueryDef(
      "q33_fingerprint",
      (s, d) =>
        Tables(s, d, "documents").select(
          col("doc_id"),
          md5(col("text")).as("fp"),
          md5(substring(col("text"), 1, 64)).as("prefix_fp")),
      Some("""SELECT doc_id, md5(text) AS fp,
             |  md5(substr(text, 1, 64)) AS prefix_fp
             |FROM documents""".stripMargin)),

    // ---- q39: winnowing fingerprints (rolling k-gram window minima) ----
    // Moss-style winnowing: hash every character 8-gram, slide a
    // 4-hash window, keep each window's minimum — the classic
    // position-robust fingerprint set for plagiarism/overlap detection
    // (a shared substring of ≥ 11 chars guarantees a shared
    // fingerprint). One native expression per row
    // ([[graft.functions.WinnowFps]]): a Karp–Rabin double-rolling
    // hash at two multiply-adds per character — the round-15 rewrite
    // of the md5-per-position HOF chain the third scale point
    // measured as the suite's dominant 100× cost. The oracle replays
    // the identical polynomial (all intermediates < 2⁶², plain
    // BIGINT) via the DIRECT per-position fold — algebraically the
    // rolling recurrence's value, so the hashes agree bit-for-bit.
    QueryDef(
      "q39_winnow_fp",
      (s, d) =>
        Tables.parallel(s, d, "documents")
          .filter(length(col("text")) >= 11) // k + w - 1
          .select(col("doc_id"), expr("winnow_fps(text)").as("fps"))
          .select(
            col("doc_id"),
            coalesce(size(col("fps")), lit(0)).as("n_fps"),
            array_min(col("fps")).as("fp_min"),
            array_max(col("fps")).as("fp_max"),
            expr("aggregate(fps, 0L, (acc, x) -> acc + pmod(x, 2147483647))")
              .as("fp_modsum")),
      Some("""WITH h AS (SELECT doc_id, u.i AS i,
             |            list_reduce(list_transform(generate_series(0, 7),
             |                j -> unicode(substr(text, u.i + j, 1))::BIGINT),
             |              (acc, x) -> (acc * 257 + x) % 2147483647) * 2147483648
             |            + list_reduce(list_transform(generate_series(0, 7),
             |                j -> unicode(substr(text, u.i + j, 1))::BIGINT),
             |              (acc, x) -> (acc * 263 + x) % 2147483647) AS kh
             |          FROM documents, UNNEST(generate_series(1, length(text) - 7)) AS u(i)
             |          WHERE length(text) >= 11),
             |w AS (SELECT doc_id, i,
             |        min(kh) OVER (PARTITION BY doc_id ORDER BY i
             |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             |        max(i) OVER (PARTITION BY doc_id) AS n
             |      FROM h),
             |fps AS (SELECT DISTINCT doc_id, fp FROM w WHERE i <= n - 3)
             |SELECT doc_id,
             |  CAST(count(*) AS INTEGER) AS n_fps,
             |  min(fp) AS fp_min,
             |  max(fp) AS fp_max,
             |  CAST(sum(fp % 2147483647) AS BIGINT) AS fp_modsum
             |FROM fps GROUP BY doc_id""".stripMargin)),

    // ---- q58: vocabulary heavy hitters (global top-k terms) ------------
    // Corpus vocabulary stats: global term frequencies, top 20. The
    // orderBy+limit compiles to TakeOrderedAndProject — per-partition
    // top-k then a k-row merge on the driver, NEVER a global sort of
    // the vocabulary (the scale shape for heavy hitters; at extreme
    // cardinality you'd front a count-min sketch, same output
    // contract). Tie-broken on the term so the result is total-order
    // deterministic.
    QueryDef(
      "q58_vocab_topk",
      (s, d) =>
        Tables(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("term").asc)
          .limit(20),
      Some("""SELECT u.term, count(*) AS n
             |FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
             |GROUP BY 1 ORDER BY n DESC, term LIMIT 20""".stripMargin)),

    // ---- q60: grouped top-k (top terms per language) -------------------
    // The per-stratum complement of q58: rank inside each language
    // partition. The rank window re-shuffles only the (lang, term)
    // AGGREGATE — vocabulary-sized, not corpus-sized — and each
    // language sorts independently; with a bounded k you'd swap the
    // window for the q40-style argmax struct when strata are huge.
    QueryDef(
      "q60_grouped_topk",
      (s, d) => {
        val counts = Tables(s, d, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("term"))
          .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("n").desc, col("term").asc)
        counts.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("lang"), col("term"), col("n"), col("rk"))
      },
      Some("""WITH c AS (SELECT lang, u.term, count(*) AS n
             |          FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
             |          GROUP BY 1, 2),
             |r AS (SELECT lang, term, n,
             |        CAST(row_number() OVER (PARTITION BY lang
             |               ORDER BY n DESC, term) AS INTEGER) AS rk
             |      FROM c)
             |SELECT lang, term, n, rk FROM r WHERE rk <= 3""".stripMargin)),

    // ---- q63: BPE-style pretokenization counts -------------------------
    // Token accounting under a GPT-2-style pretokenizer (letter runs,
    // digit runs, punctuation runs, whitespace runs — each optionally
    // space-prefixed), restricted to the RE2-compatible subset (no
    // lookahead) so Java regex and the oracle's RE2 agree. This is
    // the "how many tokens will the tokenizer see" estimate a data
    // mixture is budgeted with — whitespace word counts (q30)
    // undercount punctuation splits.
    QueryDef(
      "q63_bpe_pretokenize",
      (s, d) => {
        val pat = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
        Tables(s, d, "documents").select(
          col("doc_id"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("n_pretok"),
          size(array_distinct(regexp_extract_all(col("text"), lit(pat), lit(0))))
            .as("n_distinct"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, ' ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))
             |       AS INTEGER) AS n_pretok,
             |  CAST(len(list_distinct(regexp_extract_all(text, ' ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')))
             |       AS INTEGER) AS n_distinct
             |FROM documents""".stripMargin)),

    // ---- q66: repetition stats (Gopher/MassiveText-style) --------------
    // Per-document repetition signals used by crawl-quality filters:
    // top-unigram fraction, top-bigram fraction, duplicate-word
    // fraction. Scale shape: the unigram/bigram counts shuffle
    // per-DOCUMENT keys (doc_id, term) with map-side partial
    // aggregation — grouped cardinality is bounded by each doc's own
    // vocabulary, never the corpus's, and the per-doc maxima collapse
    // back to one row per document before the 3-way join of tiny
    // aggregates. All fractions are exact IEEE divisions of counts,
    // so the oracle compares bit-for-bit.
    QueryDef(
      "q66_repetition",
      (s, d) => {
        val toks = Tables(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("t"))
        val base = toks.select(
          col("doc_id"), size(col("t")).as("n"),
          size(array_distinct(col("t"))).as("nd"))
        val topUni = toks
          .select(col("doc_id"), explode(col("t")).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(max(col("c")).as("mu"))
        val topBi = toks
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(t)-1), i -> concat_ws(' ', slice(t, i, 2)))"))
            .as("bg"))
          .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(max(col("c")).as("mb"))
        base.join(topUni, Seq("doc_id")).join(topBi, Seq("doc_id"), "left")
          .select(
            col("doc_id"), col("n").as("n_tokens"),
            round(col("mu") / col("n"), 4).as("top_uni_frac"),
            round(coalesce(col("mb"), lit(0L)) / (col("n") - 1), 4)
              .as("top_bi_frac"),
            round(lit(1.0) - col("nd") / col("n"), 4).as("dup_word_frac"),
            (coalesce(col("mb"), lit(0L)) / (col("n") - 1) >= 0.06)
              .as("repetitive"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |base AS (SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS nd FROM toks),
             |uni AS (SELECT doc_id, max(c) AS mu FROM (
             |          SELECT doc_id, u.term, count(*) AS c
             |          FROM toks, UNNEST(t) AS u(term) GROUP BY 1, 2) GROUP BY 1),
             |bi AS (SELECT doc_id, max(c) AS mb FROM (
             |         SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bg, count(*) AS c
             |         FROM toks, UNNEST(generate_series(1, len(t)-1)) AS s(i)
             |         WHERE len(t) >= 2 GROUP BY 1, 2) GROUP BY 1)
             |SELECT base.doc_id, CAST(n AS INTEGER) AS n_tokens,
             |  round(mu / n, 4) AS top_uni_frac,
             |  round(coalesce(mb, 0) / (n - 1), 4) AS top_bi_frac,
             |  round(1.0 - nd / n, 4) AS dup_word_frac,
             |  (coalesce(mb, 0) / (n - 1) >= 0.06) AS repetitive
             |FROM base JOIN uni USING (doc_id) LEFT JOIN bi USING (doc_id)""".stripMargin)),

    // ---- q67: TF-IDF top terms per document ----------------------------
    // Keyword extraction: per-doc top-3 terms by tf·idf with a
    // RATIONAL idf (N/df, no transcendental log — ln() is libm-
    // dependent and not bit-reproducible across engines; N/df ranks
    // identically for fixed tf and keeps the oracle exact). Two
    // corpus-sized shuffles — (doc, term) tf and (term) df — both
    // partial-aggregated; the df side is vocabulary-sized and joins
    // back onto the tf aggregate, and the doc-count scalar is a
    // broadcast single row. Final ranking windows over per-doc term
    // lists only.
    QueryDef(
      "q67_tfidf",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val tf = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("term"))
          .agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term").asc)
        tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
          .withColumn("score", col("tf") * (col("n_docs") / col("df")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            round(col("score"), 4).as("score"), col("rk"))
      },
      Some("""WITH tf AS (SELECT doc_id, u.term, count(*) AS tf
             |          FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
             |          GROUP BY 1, 2),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |s AS (SELECT doc_id, term, tf, df,
             |        tf * ((SELECT count(DISTINCT doc_id) FROM documents) / df) AS score
             |      FROM tf JOIN df USING (term)),
             |r AS (SELECT doc_id, term, tf, df, score,
             |        CAST(row_number() OVER (PARTITION BY doc_id
             |               ORDER BY score DESC, term) AS INTEGER) AS rk
             |      FROM s)
             |SELECT doc_id, term, tf, df, round(score, 4) AS score, rk
             |FROM r WHERE rk <= 3""".stripMargin)),

    // ---- q70: vocabulary coverage curve --------------------------------
    // Tokenizer-budget planning: what fraction of all token
    // occurrences do the top-100 vocabulary terms cover? Term counts
    // collapse the corpus to vocabulary size with partial
    // aggregation; the top-100 prefix is then selected with the q58
    // orderBy+limit shape (TakeOrderedAndProject: per-task 100-row
    // heaps, driver merges |tasks|·100 rows) so the vocabulary —
    // which grows with the corpus — never funnels through a
    // single-partition window. Rank and running sum operate on the
    // ≤ 100 surviving rows only; the cumulative share at rank ≤ 100
    // needs exactly that prefix plus the corpus total, which rides in
    // as one broadcast row.
    QueryDef(
      "q70_vocab_coverage",
      (s, d) => {
        val counts = Tables(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("n"))
        val total = counts.agg(sum(col("n")).as("tot"))
        val top = counts.orderBy(col("n").desc, col("term").asc).limit(100)
        // the empty-partitionBy window is bounded by the limit above
        // (≤ 100 rows), not by the vocabulary
        val w = Window.orderBy(col("n").desc, col("term").asc)
        top.crossJoin(broadcast(total))
          .withColumn("rk", row_number().over(w))
          .withColumn("cum", sum(col("n")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("rk"), col("term"), col("n"),
            round(col("cum") / col("tot"), 6).as("cum_frac"))
      },
      Some("""WITH c AS (SELECT u.term, count(*) AS n
             |          FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
             |          GROUP BY 1),
             |r AS (SELECT term, n,
             |        CAST(row_number() OVER (ORDER BY n DESC, term) AS INTEGER) AS rk,
             |        sum(n) OVER (ORDER BY n DESC, term
             |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |      FROM c)
             |SELECT rk, term, n, round(cum / (SELECT sum(n) FROM c), 6) AS cum_frac
             |FROM r WHERE rk <= 100""".stripMargin)),

    // ---- q69: unigram-LM commonness scoring ----------------------------
    // The rational-arithmetic stand-in for unigram-perplexity quality
    // filtering: score each document by how common its tokens are in
    // the corpus unigram model (mean corpus count, minimum count, and
    // the fraction of tokens rarer than the vocabulary's median
    // count). Documents of improbable tokens — the perplexity
    // outliers — surface with low avg_cnt / high rare_frac. Integer
    // corpus counts stand in for log-probs so the oracle compares
    // exactly (transcendental log is libm-dependent across engines).
    //
    // Scale shape: token counts partial-aggregate the corpus down to
    // VOCABULARY size — but RAW whitespace vocabulary grows with the
    // corpus (typos, URLs, numbers reach 10⁸–10⁹ terms at 100 TB), so
    // the vocab join back onto the token stream carries NO broadcast
    // hint: it is a term-keyed shuffle join the planner is free to
    // turn into a broadcast only when runtime stats say the build side
    // fits (as they do at test SF) — the q104 posture, not a forced
    // OOM. The median-count threshold is likewise computed in the
    // VALUE domain (counts-of-counts: ≤ ~√(2·corpus_tokens) distinct
    // count values by the pigeonhole sum bound, ~4.5M rows at 10¹³
    // tokens) rather than `percentile(c, 0.5)`, whose exact
    // implementation buffers every one of the vocab's count values in
    // a single aggregation buffer — the same unbounded-vocab hazard
    // as the broadcast. Interpolation ranks ⌊h⌋+1/⌈h⌉+1 (h=(V−1)/2)
    // reproduce percentile_cont exactly: halfway interpolation of two
    // Longs is exact in FP, so the c < med_c comparison stays
    // deterministic cross-engine.
    QueryDef(
      "q69_unigram",
      (s, d) => {
        val toks = Tables.parallel(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
        val wOrd = Window.orderBy(col("c"))
        val cc = vocab.groupBy(col("c")).agg(count(lit(1)).as("k"))
          .withColumn("cumk", sum(col("k")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("v", sum(col("k")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        val med = cc
          .agg(
            min(when(col("cumk") >= expr("(v - 1) div 2 + 1"), col("c"))).as("c_lo"),
            min(when(col("cumk") >= expr("v div 2 + 1"), col("c"))).as("c_hi"))
          .select(((col("c_lo") + col("c_hi")) / 2).as("med_c"))
        toks.join(vocab, "term").crossJoin(broadcast(med))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_tokens"),
            round(sum(col("c")) / count(lit(1)), 4).as("avg_cnt"),
            min(col("c")).as("min_cnt"),
            round(sum(when(col("c") < col("med_c"), 1).otherwise(0))
              / count(lit(1)), 4).as("rare_frac"))
      },
      Some("""WITH toks AS (SELECT doc_id, u.term
             |             FROM documents, UNNEST(string_split(text, ' ')) AS u(term)),
             |v AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
             |m AS (SELECT quantile_cont(c, 0.5) AS med_c FROM v)
             |SELECT doc_id, count(*) AS n_tokens,
             |  round(CAST(sum(c) AS BIGINT) / count(*), 4) AS avg_cnt,
             |  min(c) AS min_cnt,
             |  round(CAST(sum(CASE WHEN c < med_c THEN 1 ELSE 0 END) AS BIGINT)
             |        / count(*), 4) AS rare_frac
             |FROM toks JOIN v USING (term), m
             |GROUP BY doc_id""".stripMargin)),

    // ---- q81: robust per-stratum dispersion (median + MAD) -------------
    // The outlier-threshold statistics quality cutoffs should be set
    // from: per language, the median token count, the median absolute
    // deviation, and how many documents sit beyond the 3×MAD robust
    // z-band (mean/stddev would let the outliers move their own
    // threshold). Same shape as q47: two tiny per-stratum exact
    // percentiles (|langs| groups), each broadcast back onto the
    // scan — the corpus shuffles only into the |langs|-row final
    // aggregate. Exactness: median of integers (or of the
    // integer-spaced deviations) interpolates halfway at worst, which
    // is exact in FP whatever formula the engine uses, so the 3×MAD
    // comparison is deterministic cross-engine.
    QueryDef(
      "q81_mad",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).as("nt"))
        val med = docs.groupBy(col("lang"))
          .agg(expr("percentile(nt, 0.5)").as("med"))
        val dev = docs.join(broadcast(med), "lang")
          .withColumn("ad", abs(col("nt") - col("med")))
        val mad = dev.groupBy(col("lang"))
          .agg(expr("percentile(ad, 0.5)").as("mad"))
        dev.join(broadcast(mad), "lang")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            max(col("med")).as("med"),
            max(col("mad")).as("mad"),
            sum(when(col("ad") > lit(3.0) * col("mad"), 1).otherwise(0))
              .as("n_outliers"))
      },
      Some("""WITH d AS (SELECT doc_id, lang,
             |            CAST(len(string_split(text, ' ')) AS INTEGER) AS nt
             |          FROM documents),
             |m AS (SELECT lang, quantile_cont(nt, 0.5) AS med FROM d GROUP BY 1),
             |dev AS (SELECT d.lang, nt, abs(nt - med) AS ad, med
             |        FROM d JOIN m USING (lang)),
             |md AS (SELECT lang, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1)
             |SELECT dev.lang, count(*) AS n_docs, max(med) AS med, max(mad) AS mad,
             |  CAST(sum(CASE WHEN ad > 3.0::DOUBLE * mad THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_outliers
             |FROM dev JOIN md USING (lang) GROUP BY dev.lang""".stripMargin)),

    // ---- q77: BM25 retrieval scoring -----------------------------------
    // Full-text relevance the way retrieval pipelines actually score
    // (tf saturation k1=1.2 + length normalization b=0.75), with the
    // RATIONAL Robertson idf (N−df+0.5)/(df+0.5) — no transcendental
    // log, so both engines compute bit-identical doubles: +,×,/ are
    // exactly-rounded IEEE ops and the expression tree is written
    // identically on both sides (the same trick as q67's N/df idf;
    // ln() would rank the same but is libm-dependent). Query terms
    // are the 5 highest-df vocabulary terms — deterministic, data-
    // derived, non-empty at every sf.
    //
    // Scale shape: the (doc,term) tf aggregate is the only corpus-
    // sized shuffle and is shared by dl/df; query terms and corpus
    // stats broadcast (5 rows / 1 row); the per-term top-10 windows
    // over the ~5×matched-docs candidate slice only. At huge corpora
    // the candidate slice for a high-df term is corpus-sized — there
    // you bound it with the q58 per-partition top-k merge first; the
    // scoring arithmetic is unchanged.
    QueryDef(
      "q77_bm25",
      (s, d) => {
        // LAZY pin (round 18): tf feeds the df aggregate, the per-doc
        // lengths AND the score join — unpinned, the tokenize+explode
        // corpus pass ran three times (same fix as bm25AgainstStore).
        val tf = Tables(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
          .localCheckpoint(false)
        val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
        val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
        val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val qterms = dfreq.orderBy(col("df").desc, col("term").asc).limit(5)
        val w = Window.partitionBy(col("term"))
          .orderBy(col("score").desc, col("doc_id").asc)
        tf.join(broadcast(qterms), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          // every constant is an explicit DOUBLE literal: a bare 0.5
          // parses as DECIMAL in both engines, and decimal arithmetic
          // rounds differently from IEEE doubles
          .withColumn("score", expr(
            "((n_docs - df + 0.5D) / (df + 0.5D)) * (tf * 2.2D / (tf + 1.2D * (0.25D + 0.75D * dl / (tot_dl / n_docs))))"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10)
          .select(col("term"), col("doc_id"), col("tf"),
            round(col("score"), 4).as("score"), col("rk"))
      },
      Some(bm25OracleSql)),

    // ---- q93: sequence-length histogram (log2 buckets) ------------------
    // The length-distribution report sequence packing (q54) and
    // context-window budgeting are planned from: per (source,
    // power-of-two length bucket) document and token counts. The
    // bucket is ⌊log2 n⌋ + 1 computed EXACTLY as the binary-digit
    // count of n (length of the base-2 rendering — pure integer/
    // string ops on both engines; floor(log2(n)) through libm doubles
    // can mis-bucket exact powers of two). One partial-aggregating
    // pass, |sources|×~12 output rows.
    QueryDef(
      "q93_length_hist",
      (s, d) =>
        Tables(s, d, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).as("n"))
          .select(col("source"), length(conv(col("n"), 10, 2)).as("len_bucket"),
            col("n"))
          .groupBy(col("source"), col("len_bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens")),
      Some("""WITH d AS (SELECT source,
             |            CAST(len(string_split(text, ' ')) AS INTEGER) AS n
             |          FROM documents)
             |SELECT source, CAST(length(bin(n)) AS INTEGER) AS len_bucket,
             |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS tokens
             |FROM d GROUP BY 1, 2""".stripMargin)),

    // ---- q94: token-concentration scoring (Simpson index) ---------------
    // Degenerate-text detection beyond q66's top-share: the FULL
    // distribution's concentration Σcᵢ²/n² (Simpson index — 1/n for
    // perfectly diverse text, →1 for one token repeated) plus the
    // type-token ratio. All-rational arithmetic (integer sums, one
    // final exactly-rounded divide), so the oracle is exact without
    // the libm-log entropy formulation this stands in for. Two
    // exchanges, both partial-aggregated: (doc, token) counts, then
    // the per-doc moment rollup.
    QueryDef(
      "q94_concentration",
      (s, d) =>
        Tables.parallel(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"),
            sum(col("c") * col("c")).as("c2"))
          .select(col("doc_id"), col("n"), col("n_types"),
            round(col("c2") / (col("n") * col("n")), 6).as("simpson"),
            round(col("n_types") / col("n"), 4).as("ttr")),
      Some("""WITH tc AS (SELECT doc_id, u.tok, count(*) AS c
             |          FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
             |          GROUP BY 1, 2),
             |m AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
             |        count(*) AS n_types, CAST(sum(c * c) AS BIGINT) AS c2
             |      FROM tc GROUP BY 1)
             |SELECT doc_id, n, n_types,
             |  round(c2 / (n * n), 6) AS simpson,
             |  round(n_types / n, 4) AS ttr
             |FROM m""".stripMargin)),

    // ---- q105: cross-source score calibration (percentile rank) ---------
    // Quality scores are not comparable across sources (a 0.6 from a
    // clean crawl ≠ a 0.6 from a noisy one); mixing pipelines
    // calibrate by replacing each score with its percentile WITHIN
    // its source. percent_rank = (rank−1)/(n−1): integer rank over a
    // unique (quality, doc_id) order and ONE exact divide, so both
    // engines agree bit-for-bit. The naive per-source window is the
    // textbook skewed-key shuffle — a handful of sources at 100 TB is
    // ~20 TB per reducer — so the rank is the q88 two-phase bucket
    // scheme per source: quality lives in [0,1], so floor(q·100)
    // gives a deterministic value-domain bucket; per-(source, bucket)
    // counts (a |sources|·101-row aggregate) turn into cumulative
    // offsets with a tiny window, broadcast back, and rank = offset +
    // row_number within (source, bucket) — every reducer holds one
    // bucket of one source, not a whole source. n per source rides
    // the same broadcast. Sources of a single document yield NULL on
    // both engines (the (rk−1)/(n−1) divide is 0/0 there — Spark
    // Divide returns NULL, DuckDB IEEE division NaN, so the guard
    // must be explicit and identical).
    QueryDef(
      "q105_calibrate",
      (s, d) => {
        val docs = qualityDocs(s, d)
          .withColumn("b", floor(col("quality") * 100).cast("long"))
        val wOff = Window.partitionBy(col("source")).orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = docs.groupBy(col("source"), col("b"))
          .agg(count(lit(1)).as("bn"))
          .withColumn("off", coalesce(sum(col("bn")).over(wOff), lit(0L)))
          .withColumn("n", sum(col("bn"))
            .over(Window.partitionBy(col("source"))))
          .select(col("source"), col("b"), col("off"), col("n"))
        val wIn = Window.partitionBy(col("source"), col("b"))
          .orderBy(col("quality"), col("doc_id"))
        docs.join(broadcast(offs), Seq("source", "b"))
          .withColumn("rk", col("off") + row_number().over(wIn))
          .select(col("doc_id"), col("source"), col("quality"),
            when(col("n") > 1,
              round((col("rk") - 1) / (col("n") - 1), 6)).as("pct_rank"))
      },
      Some(s"""WITH $qualitySql
              |SELECT doc_id, source, quality,
              |  CASE WHEN count(*) OVER (PARTITION BY source) > 1 THEN
              |    round((row_number() OVER (PARTITION BY source
              |             ORDER BY quality, doc_id) - 1)
              |          / (count(*) OVER (PARTITION BY source) - 1), 6)
              |  END AS pct_rank
              |FROM d""".stripMargin)),

    // ---- q106: exact weighted median per group ---------------------------
    // The robust-stats companion to q81's MAD: per language, the
    // token-count value at which HALF the corpus' TOKENS lie below —
    // the weighted median (weight = the doc's own length), which
    // resists both outlier documents AND many-tiny-docs skew in a way
    // the plain median doesn't. Selection rule: smallest value whose
    // running weight reaches half the total.
    //
    // Two-phase value-domain plan (the q99/q105/q109 scheme): docs
    // partial-aggregate to per-(lang, n) weight sums in ONE map-side-
    // combinable exchange; the cumulative/total windows then run over
    // that DISTINCT-VALUE table — |values per lang| rows through each
    // reducer, never |docs| (the doc-granular per-language sort window
    // this replaces funnels a language's entire corpus through one
    // reducer at 100 TB). The collapse to the value domain is exact:
    // the first doc (ordered by n, doc_id) whose running weight
    // crosses half sits inside the first VALUE whose value-level
    // cumulative crosses half — every doc before it contributes to
    // strictly-smaller values' cumulative, every doc tied with it to
    // the same value's. The DOC-granular oracle is kept verbatim as
    // the executable proof of that equivalence.
    QueryDef(
      "q106_weighted_median",
      (s, d) => {
        val byValue = Tables(s, d, "documents")
          .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n"))
          .groupBy(col("lang"), col("n"))
          .agg(sum(col("n")).as("w"))
        val wCum = Window.partitionBy(col("lang")).orderBy(col("n"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wTot = Window.partitionBy(col("lang"))
        byValue
          .withColumn("cum", sum(col("w")).over(wCum))
          .withColumn("tot", sum(col("w")).over(wTot))
          .filter(lit(2) * col("cum") >= col("tot"))
          .groupBy(col("lang"))
          .agg(min(col("n")).as("weighted_median_tokens"),
            max(col("tot")).as("total_tokens"))
      },
      Some("""WITH d AS (SELECT doc_id, lang,
             |            CAST(len(string_split(text, ' ')) AS BIGINT) AS n
             |          FROM documents),
             |c AS (SELECT lang, doc_id, n,
             |        sum(n) OVER (PARTITION BY lang ORDER BY n, doc_id
             |                     ROWS UNBOUNDED PRECEDING) AS cum,
             |        sum(n) OVER (PARTITION BY lang) AS tot
             |      FROM d),
             |k AS (SELECT lang, n, doc_id, tot FROM c WHERE 2 * cum >= tot),
             |r AS (SELECT lang, n, tot,
             |        row_number() OVER (PARTITION BY lang ORDER BY n, doc_id) AS rn
             |      FROM k)
             |SELECT lang, n AS weighted_median_tokens,
             |  CAST(tot AS BIGINT) AS total_tokens
             |FROM r WHERE rn = 1""".stripMargin)),

    // ---- q104: bigram-LM fluency proxy -----------------------------------
    // The corpus-statistics stand-in for model-perplexity filtering:
    // score each document by the mean corpus conditional probability
    // of its bigrams, P(w2|w1) = count(w1 w2)/count(w1 ·) — fluent
    // (high-probability) word sequences score high, shuffled or
    // gibberish ones low. The per-bigram ratio is one exact IEEE
    // divide; the per-doc mean goes through [[Exact.sumFixed]] (each
    // term rounded to 1e-6 then integer-summed) so partial-
    // aggregation order cannot change the result. Plan: the corpus
    // bigram stream aggregates once into the conditional table
    // (bigram-keyed — vocab², joined co-partitioned, NEVER collected)
    // and once per doc; the w1 marginal rides the same bigram table.
    QueryDef(
      "q104_bigram_lm",
      (s, d) => {
        val bi = Tables.parallel(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(t)-1), i -> struct(t[i-1] AS w1, t[i] AS w2))"))
            .as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val counts = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        val marg = counts.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
        val cond = counts.join(marg, "w1")
        bi.join(cond, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            round(graft.functions.Exact.sumFixed("c12 / c1", 6)
              / count(lit(1)), 4).as("mean_cond_p"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
              |             FROM documents WHERE len(string_split(text, ' ')) >= 2),
              |bi AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
              |       FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)),
              |counts AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
              |marg AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
              |         FROM counts GROUP BY 1)
              |SELECT doc_id, count(*) AS n_bigrams,
              |  round(${graft.functions.Exact.sumFixedSql("c12 / c1", 6)}
              |        / count(*), 4) AS mean_cond_p
              |FROM bi JOIN counts USING (w1, w2) JOIN marg USING (w1)
              |GROUP BY doc_id""".stripMargin)),

    // ---- q103: count-min sketch heavy-hitter estimation ------------------
    // The frequency sketch q58's exact top-k would be fronted with at
    // extreme vocabulary cardinality: 4 rows × 1024 buckets of
    // counters keyed by the engine's universal hash family
    // ((a_r·h + b_r) mod P mod 1024 — MinHashSignature's coefficients,
    // so both engines hash identically and, unlike the built-in
    // count_min_sketch/HLL (q17, rows-only by necessity), the whole
    // sketch is oracle-exact). The corpus collapses to ≤ 4096 counter
    // cells via partial aggregation — the sketch IS the shuffle
    // payload, independent of corpus size; estimates join the true
    // top-20 (q58's TakeOrderedAndProject) to report the classic
    // overestimate-only error. est ≥ true always; est == true for
    // tokens with no bucket collisions.
    QueryDef(
      "q103_countmin",
      (s, d) => {
        val P = graft.functions.MinHashSignature.P
        val toks = Tables(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("term"))
          .withColumn("h",
            expr(s"md5long(term) % $P"))
        val rowsExpr = (0 to 3).map { r =>
          val (a, b) = (graft.functions.MinHashSignature.A(r),
            graft.functions.MinHashSignature.B(r))
          s"struct(${r}L AS r, (($a * h + $b) % $P) % 1024 AS bkt)"
        }.mkString("array(", ", ", ")")
        val cells = toks
          .select(explode(expr(rowsExpr)).as("x"))
          .groupBy(col("x.r").as("r"), col("x.bkt").as("bkt"))
          .agg(count(lit(1)).as("c"))
        val top = toks.groupBy(col("term"), col("h"))
          .agg(count(lit(1)).as("true_n"))
          .orderBy(col("true_n").desc, col("term").asc).limit(20)
        val est = top.select(col("term"), col("h"), col("true_n"),
            explode(expr(rowsExpr)).as("x"))
          .join(broadcast(cells),
            col("x.r") === col("r") && col("x.bkt") === col("bkt"))
          .groupBy(col("term"), col("true_n"))
          .agg(min(col("c")).as("est_n"))
        est.select(col("term"), col("true_n"), col("est_n"),
          (col("est_n") - col("true_n")).as("overcount"))
      },
      Some {
        val P = graft.functions.MinHashSignature.P
        val coefs = (0 to 3).map(r =>
          s"(${r}, ${graft.functions.MinHashSignature.A(r)}, " +
            s"${graft.functions.MinHashSignature.B(r)})").mkString(", ")
        s"""WITH toks AS (SELECT u.term,
           |         ('0x' || substr(md5(u.term), 1, 15))::BIGINT % $P AS h
           |       FROM documents, UNNEST(string_split(text, ' ')) AS u(term)),
           |coef(r, a, b) AS (VALUES $coefs),
           |cells AS (SELECT r, ((a * h + b) % $P) % 1024 AS bkt,
           |            count(*) AS c
           |          FROM toks CROSS JOIN coef GROUP BY 1, 2),
           |top AS (SELECT term, h, count(*) AS true_n FROM toks
           |        GROUP BY 1, 2 ORDER BY true_n DESC, term LIMIT 20),
           |est AS (SELECT term, true_n, min(c) AS est_n
           |        FROM top CROSS JOIN coef
           |        JOIN cells ON cells.r = coef.r
           |          AND cells.bkt = ((a * h + b) % $P) % 1024
           |        GROUP BY 1, 2)
           |SELECT term, true_n, est_n, est_n - true_n AS overcount
           |FROM est""".stripMargin
      }),

    // ---- q95: winnowing-fingerprint pair matching (MOSS-style) ----------
    // The pair-finding stage q39's fingerprints exist FOR (Schleimer
    // et al., SIGMOD 2003): two documents sharing any ≥8-char run
    // share a winnow fingerprint by the scheme's guarantee, so
    // matching docs pair through an inverted index on the SPARSE
    // fingerprint set — ~1/(w=4) the density of the raw k-gram
    // index, which is winnowing's entire scale advantage over q35's
    // full shingle index. Same capped posting-list shape as q35
    // (df ≤ 64 guards boilerplate keys; the cap is part of the
    // semantics, mirrored in the oracle), pair counts partial-
    // aggregate, and the per-doc fingerprint totals rejoin for the
    // containment-style score shared/min(|A|,|B|).
    QueryDef(
      "q95_winnow_pairs",
      (s, d) => {
        // materialized ONCE: the winnow projection walks every char
        // position (one native rolling-hash pass per doc — see q39's
        // round-15 note), and both consumers below — the per-doc
        // totals and the inverted index — would re-run it under
        // Spark's plan duplication. The fingerprint stream is 1/w the
        // corpus' k-gram density, so pinning it and paying two cheap
        // exchanges (doc_id partial-aggregates to ≤1 row per task;
        // fp is the index build) beats rehashing the corpus — at any
        // scale.
        val fps = Tables.parallel(s, d, "documents")
          .filter(length(col("text")) >= 11)
          // winnow_fps is already distinct per doc by contract
          .select(col("doc_id"), explode(expr("winnow_fps(text)")).as("fp"))
          .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val cnt = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        // Pair generation is a SLIM SELF-JOIN on the df-capped keys
        // (round 15; the oracle's own shape), not collect_set +
        // double explode: the set shape copied the full ≤ 64-long
        // posting array into every one of its ~df exploded
        // intermediate rows, and the object-hash collect_set buffered
        // the whole index — measured 36–69 s vs 21–24 s for the join
        // on the 100× corpus (156M in-band pairs),
        // identical pair counts. Scale shape: `ok` is the in-band key
        // set (df partial-aggregates map-side); the fok probe and the
        // self-join shuffle only in-band (fp, doc_id) pairs — 16
        // bytes a row, volume bounded by the df cap — and AQE picks
        // broadcast for the key-set join when it fits (never forced:
        // at 100 TB the in-band key set outgrows a broadcast and the
        // planner must be free to shuffle it). Per-key join work is
        // C(df ≤ 64, 2)-bounded, so no salt is needed.
        val ok = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
          .filter(col("df").between(2, 64))
          .select(col("fp"))
        val fok = fps.join(ok, "fp")
        val pairs = fok.as("a")
          .join(fok.as("b"),
            col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .agg(count(lit(1)).as("shared"))
        pairs.filter(col("shared") >= 2)
          .join(cnt.withColumnRenamed("doc_id", "da_").withColumnRenamed("n", "na"),
            col("da") === col("da_"))
          .join(cnt.withColumnRenamed("doc_id", "db_").withColumnRenamed("n", "nb"),
            col("db") === col("db_"))
          // ≥ 0.5 containment: random short-vocab text shares plenty
          // of isolated 8-char runs (92k pairs at sf0.01 with a bare
          // shared ≥ 2), but real matches dominate the shared/min
          // ratio — 0.5 keeps exactly the near-dup set here
          .filter(col("shared") / least(col("na"), col("nb")) >= 0.5)
          .select(col("da"), col("db"), col("shared"),
            round(col("shared") / least(col("na"), col("nb")), 4).as("sim"))
      },
      Some("""WITH h AS (SELECT doc_id, u.i AS i,
             |            list_reduce(list_transform(generate_series(0, 7),
             |                j -> unicode(substr(text, u.i + j, 1))::BIGINT),
             |              (acc, x) -> (acc * 257 + x) % 2147483647) * 2147483648
             |            + list_reduce(list_transform(generate_series(0, 7),
             |                j -> unicode(substr(text, u.i + j, 1))::BIGINT),
             |              (acc, x) -> (acc * 263 + x) % 2147483647) AS kh
             |          FROM documents, UNNEST(generate_series(1, length(text) - 7)) AS u(i)
             |          WHERE length(text) >= 11),
             |w AS (SELECT doc_id, i,
             |        min(kh) OVER (PARTITION BY doc_id ORDER BY i
             |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             |        max(i) OVER (PARTITION BY doc_id) AS n
             |      FROM h),
             |fps AS (SELECT DISTINCT doc_id, fp FROM w WHERE i <= n - 3),
             |cnt AS (SELECT doc_id, count(*) AS n FROM fps GROUP BY 1),
             |ok AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND 64),
             |fok AS (SELECT fps.* FROM fps JOIN ok USING (fp)),
             |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
             |          FROM fok a JOIN fok b
             |            ON a.fp = b.fp AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2)
             |SELECT da, db, shared,
             |  round(shared / least(ca.n, cb.n), 4) AS sim
             |FROM pairs
             |JOIN cnt ca ON da = ca.doc_id
             |JOIN cnt cb ON db = cb.doc_id
             |WHERE shared >= 2 AND shared / least(ca.n, cb.n) >= 0.5""".stripMargin)),

    // ---- q107: text normalization (canonical form + fingerprint) --------
    // The first stage of every real ingestion pipeline: lowercase,
    // strip non-alphanumerics, collapse runs of whitespace — then
    // fingerprint the CANONICAL form, so near-identical crawls that
    // differ only in case/punctuation dedup exactly (q34 on norm_fp
    // instead of raw text). Entirely row-local (regexes run inside
    // whole-stage codegen over the scan, no shuffle, no UDF); the
    // character classes are shared by Java regex and RE2, so both
    // engines canonicalize identically.
    QueryDef(
      "q107_normalize",
      (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"), col("text"),
            trim(regexp_replace(regexp_replace(lower(col("text")),
              "[^a-z0-9 ]", " "), " +", " ")).as("norm"))
          .select(col("doc_id"), md5(col("norm")).as("norm_fp"),
            size(split(col("norm"), " ")).as("n_norm"),
            (col("norm") =!= col("text")).as("changed")),
      Some("""WITH n AS (SELECT doc_id, text,
             |            trim(regexp_replace(regexp_replace(lower(text),
             |              '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
             |          FROM documents)
             |SELECT doc_id, md5(norm) AS norm_fp,
             |  CAST(len(string_split(norm, ' ')) AS INTEGER) AS n_norm,
             |  norm <> text AS changed
             |FROM n""".stripMargin)),

    // ---- q108: adjacent-repetition profile (run-length quality) ---------
    // The degenerate-generation signal q66's n-gram repetition does
    // not isolate: immediately repeated tokens ("the the", stuttering
    // model output). Counts adjacent-equal positions per document and
    // the run-collapsed length — row-local array arithmetic, no
    // shuffle; the sequence guard avoids Spark's descending-sequence
    // surprise on single-token documents.
    QueryDef(
      "q108_token_runs",
      (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .select(col("doc_id"), size(col("t")).as("n"),
            expr("CASE WHEN size(t) < 2 THEN 0 ELSE " +
              "size(filter(sequence(1, size(t)-1), i -> t[i] = t[i-1])) END")
              .as("adj_dups"))
          .select(col("doc_id"), col("n"), col("adj_dups"),
            (col("n") - col("adj_dups")).as("collapsed_n"),
            round(col("adj_dups") / col("n"), 4).as("adj_frac")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t
             |          FROM documents),
             |r AS (SELECT doc_id, CAST(len(t) AS INTEGER) AS n,
             |        CASE WHEN len(t) < 2 THEN 0 ELSE
             |          CAST(len(list_filter(generate_series(2, len(t)),
             |            i -> t[i] = t[i-1])) AS INTEGER) END AS adj_dups
             |      FROM t)
             |SELECT doc_id, n, adj_dups, n - adj_dups AS collapsed_n,
             |  round(adj_dups / n, 4) AS adj_frac
             |FROM r""".stripMargin)),

    // ---- q109: per-source exact quality deciles (calibration map) -------
    // The FIT half of q105's calibration: the nine exact decile
    // boundaries of the quality score per source — the piecewise map
    // a mixing pipeline persists and applies to future batches.
    // Same two-phase selection as q99, but GROUPED: value-domain
    // buckets (quality ∈ [0,1] → floor(q·100)), per-(source, bucket)
    // counts to cumulative offsets over a |sources|·101-row aggregate,
    // then only the target buckets rank — partitioned by (source, b,
    // decile) so deciles sharing a bucket rank their own copy (the
    // q99 shared-bucket lesson). The corpus crosses one exchange; no
    // source ever funnels through one reducer.
    QueryDef(
      "q109_source_deciles",
      (s, d) => {
        val docs = qualityDocs(s, d)
          .withColumn("b", floor(col("quality") * 100).cast("long"))
        val wOff = Window.partitionBy(col("source")).orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = docs.groupBy(col("source"), col("b"))
          .agg(count(lit(1)).as("bn"))
          .withColumn("off", coalesce(sum(col("bn")).over(wOff), lit(0L)))
          .withColumn("n", sum(col("bn"))
            .over(Window.partitionBy(col("source"))))
        val ks = offs.select(col("source"), col("n")).distinct()
          .select(col("source"), explode(expr(
            "transform(sequence(1, 9), i -> " +
              "struct(i AS decile, cast(ceil(i * n / 10.0d) as bigint) AS k))"))
            .as("t"))
          .select(col("source"), col("t.decile").as("decile"),
            col("t.k").as("k"))
        val targets = ks.join(offs, "source")
          .filter(col("k") > col("off") && col("k") <= col("off") + col("bn"))
          .select(col("source"), col("decile"), col("k"), col("b"),
            col("off"))
        val wIn = Window.partitionBy(col("source"), col("b"), col("decile"))
          .orderBy(col("quality"), col("doc_id"))
        docs.join(broadcast(targets), Seq("source", "b"))
          .withColumn("rn", row_number().over(wIn))
          .filter(col("rn") === col("k") - col("off"))
          .select(col("source"), col("decile"),
            col("quality").as("value"), col("doc_id"))
      },
      Some(s"""WITH $qualitySql,
              |r AS (SELECT source, doc_id, quality,
              |        row_number() OVER (PARTITION BY source
              |          ORDER BY quality, doc_id) AS rn,
              |        count(*) OVER (PARTITION BY source) AS n
              |      FROM d),
              |ks AS (SELECT DISTINCT source, i AS decile,
              |         CAST(ceil(i * n / 10.0) AS BIGINT) AS k
              |       FROM r, UNNEST(generate_series(1, 9)) AS g(i))
              |SELECT r.source, ks.decile, r.quality AS value, r.doc_id
              |FROM ks JOIN r ON r.source = ks.source AND r.rn = ks.k""".stripMargin)),

    // ---- q111: per-source over-represented terms (distribution drift) ---
    // Mixture monitoring: which terms does each source use FAR more
    // than the corpus does? Lift = (c_st/N_s)/(c_t/N), computed as
    // (double(c_st)·N) / (double(N_s)·c_t): the first factor of each
    // product is cast to double BEFORE multiplying, in BOTH engines —
    // a pure-integer product c_st·N overflows Long at corpus scale
    // (N ≈ 10^13 token occurrences at 100 TB), where Spark wraps
    // silently and DuckDB raises; two correctly-rounded IEEE
    // multiplies plus one divide are bit-identical across engines, so
    // parity survives without the 63-bit product bound. The token
    // stream partial-aggregates to (source, term) in one exchange;
    // term totals are an aggregate OF that aggregate (vocab-sized,
    // term-keyed); source totals and the corpus total broadcast. The
    // per-source top-10 pre-prunes per scan partition (the q92/q101
    // idiom) — the vocabulary-sized score table never funnels
    // through |sources| reducers. A c_st ≥ 5 floor keeps one-off
    // terms from claiming infinite lift.
    QueryDef(
      "q111_source_overrep",
      (s, d) => {
        val st = Tables.parallel(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("term"))
          .groupBy(col("source"), col("term"))
          .agg(count(lit(1)).as("c_st"))
        val t = st.groupBy(col("term")).agg(sum(col("c_st")).as("c_t"))
        val ns = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
        val tot = ns.agg(sum(col("n_s")).as("n_tot"))
        val scored = st.join(t, "term")
          .join(broadcast(ns), "source").crossJoin(broadcast(tot))
          .filter(col("c_st") >= 5)
          .withColumn("ratio",
            (col("c_st").cast("double") * col("n_tot")) /
              (col("n_s").cast("double") * col("c_t")))
        val wL = Window.partitionBy(col("source"), col("pid"))
          .orderBy(col("ratio").desc, col("term"))
        val wG = Window.partitionBy(col("source"))
          .orderBy(col("ratio").desc, col("term"))
        scored.withColumn("pid", spark_partition_id())
          .withColumn("lrn", row_number().over(wL)).filter(col("lrn") <= 10)
          .withColumn("rk", row_number().over(wG)).filter(col("rk") <= 10)
          .select(col("source"), col("rk"), col("term"), col("c_st"),
            round(col("ratio"), 4).as("ratio"))
      },
      Some("""WITH tk AS (SELECT source, u.term
             |           FROM documents, UNNEST(string_split(text, ' ')) AS u(term)),
             |st AS (SELECT source, term, count(*) AS c_st FROM tk GROUP BY 1, 2),
             |t AS (SELECT term, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
             |ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
             |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_tot FROM ns),
             |sc AS (SELECT source, term, c_st,
             |         (CAST(c_st AS DOUBLE) * n_tot) /
             |           (CAST(n_s AS DOUBLE) * c_t) AS ratio
             |       FROM st JOIN t USING (term) JOIN ns USING (source), tot
             |       WHERE c_st >= 5),
             |r AS (SELECT source, term, c_st, ratio,
             |        CAST(row_number() OVER (PARTITION BY source
             |          ORDER BY ratio DESC, term) AS INTEGER) AS rk
             |      FROM sc)
             |SELECT source, rk, term, c_st, round(ratio, 4) AS ratio
             |FROM r WHERE rk <= 10""".stripMargin)),

    // ---- q119: language-ID confusion matrix -----------------------------
    // The eval for q31's classifier: cross-tabulate the stopword-
    // ratio guess against the labeled lang column, with per-label
    // recall fractions — the number that decides whether the
    // heuristic's 0.15 threshold ships or needs tuning per corpus.
    // One partial-aggregated exchange into a |langs|·|guesses| table;
    // the fraction window runs over that aggregate. The ratio divides
    // two identically-derived integers — exact cross-engine.
    QueryDef(
      "q119_langid_confusion",
      (s, d) => {
        val g = Tables(s, d, "documents")
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n_stop",
            size(filter(col("toks"), t => t.isin(enStop: _*))))
          .select(col("lang"),
            when(col("n_stop") / size(col("toks")) >= 0.15, "en")
              .otherwise("other").as("guess"))
        g.groupBy(col("lang"), col("guess"))
          .agg(count(lit(1)).as("n"))
          .withColumn("frac", round(col("n")
            / sum(col("n")).over(Window.partitionBy(col("lang"))), 4))
      },
      Some(s"""WITH g AS (SELECT lang,
              |            CASE WHEN len(list_filter(string_split(text, ' '),
              |                        t -> t IN ($enStopSql)))
              |                   / len(string_split(text, ' ')) >= 0.15
              |                 THEN 'en' ELSE 'other' END AS guess
              |          FROM documents)
              |SELECT lang, guess, count(*) AS n,
              |  round(count(*) / CAST(sum(count(*)) OVER (PARTITION BY lang)
              |                        AS DOUBLE), 4) AS frac
              |FROM g GROUP BY 1, 2""".stripMargin)),

    // ---- q121: length-decile × quality calibration grid -----------------
    // Length-bias detection for the quality score: mean quality per
    // length decile — a score that mostly tracks document length
    // (monotone grid) is measuring size, not quality, and will skew
    // any quality-weighted mixture. Decile assignment is pure value
    // domain (each length VALUE takes the decile of its first doc:
    // 1 + ⌊10·off/tot⌋ from per-value counts — no per-value doc
    // window, so a hot length value cannot create a hot reducer);
    // the value→decile table is value-domain-bounded and broadcasts.
    // Mean quality goes through the Exact fixed-point sum so
    // partial-aggregation order cannot change the result.
    QueryDef(
      "q121_length_quality_grid",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .withColumn("toks", split(col("text"), " "))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n"),
            round(least(lit(1.0), size(col("toks")) / 100.0)
              * (size(array_distinct(col("toks"))) / size(col("toks"))), 6)
              .as("q"))
        val wOff = Window.orderBy(col("n"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wAll = Window.orderBy(col("n"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val vd = docs.groupBy(col("n")).agg(count(lit(1)).as("cnt"))
          .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
          .withColumn("tot", sum(col("cnt")).over(wAll))
          .select(col("n"),
            (lit(1L) + expr("(10 * off) div tot")).as("len_decile"))
        docs.join(broadcast(vd), "n")
          .groupBy(col("len_decile"))
          .agg(count(lit(1)).as("n_docs"),
            round(graft.functions.Exact.sumFixed("q", 6) / count(lit(1)), 6)
              .as("mean_quality"))
      },
      Some(s"""WITH dq AS (SELECT doc_id,
              |            CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
              |            round(least(1.0, len(string_split(text, ' ')) / 100.0)
              |              * (len(list_distinct(string_split(text, ' ')))
              |                 / len(string_split(text, ' '))), 6) AS q
              |          FROM documents),
              |vd AS (SELECT n, CAST(count(*) AS BIGINT) AS cnt FROM dq GROUP BY n),
              |vo AS (SELECT n,
              |         CAST(coalesce(sum(cnt) OVER (ORDER BY n
              |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |           AS BIGINT) AS off,
              |         CAST(sum(cnt) OVER () AS BIGINT) AS tot
              |       FROM vd),
              |dd AS (SELECT n, CAST(1 + (10 * off) // tot AS BIGINT) AS len_decile
              |       FROM vo)
              |SELECT len_decile, count(*) AS n_docs,
              |  round((${graft.functions.Exact.sumFixedSql("q", 6)}) / count(*), 6)
              |    AS mean_quality
              |FROM dq JOIN dd USING (n) GROUP BY 1""".stripMargin)),

    // ---- q122: collocation mining (bigram lift / PMI proxy) -------------
    // The phrase-discovery pass tokenizer training and stop-phrase
    // lists are built from: rank bigrams by lift
    // c12·N / (c1·c2) — the rational form of PMI (its exp), so the
    // oracle stays exact without libm log. Marginals ride the bigram
    // table itself (left marginal = Σ over w2, right = Σ over w1,
    // N = Σ c12), so the corpus token stream aggregates ONCE; the
    // min-support filter (c12 ≥ 5) prunes the join probe side before
    // either marginal join, and neither join carries a broadcast
    // hint — at web scale the raw-token marginal tables are
    // vocabulary-sized and unbounded (the q69 lesson), so the planner
    // must choose from stats. The global top-25 plans as
    // TakeOrderedAndProject (partition-local heaps, 25 rows per task
    // to the driver — never a global sort). Lift multiplies the FIRST
    // factor into double before the product (the q111 overflow
    // lesson: c12·N on BIGINTs overflows at ~10^13 tokens).
    QueryDef(
      "q122_collocations",
      (s, d) => {
        val bi = Tables.parallel(s, d, "documents")
          .select(split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(t)-1), i -> struct(t[i-1] AS w1, t[i] AS w2))"))
            .as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        // Four consumers read `counts` (probe + both marginals + N).
        // The canonical exchanges are identical, but AQE's runtime
        // stage reuse did NOT dedupe them — the executed plan scanned
        // and re-aggregated the full bigram stream 4× (round-12
        // finding; bench q122 2.4× the pinned time). Materialize the
        // aggregate once, same pin as pqCodebook: the frame is
        // distinct-bigram-bounded (Zipf-truncated, not corpus-sized),
        // so the checkpoint is index-scale, not data-scale.
        val counts = bi.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c12"))
          .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val left = counts.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
        val right = counts.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
        val tot = counts.agg(sum(col("c12")).as("n_tot"))
        counts.filter(col("c12") >= 5)
          .join(left, "w1")
          .join(right, "w2")
          .crossJoin(broadcast(tot))
          .withColumn("lift", round(
            (col("c12").cast("double") * col("n_tot"))
              / (col("c1").cast("double") * col("c2")), 6))
          .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
          .limit(25)
          .select(col("w1"), col("w2"), col("c12"), col("lift"))
      },
      Some("""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents
             |             WHERE len(string_split(text, ' ')) >= 2),
             |bi AS (SELECT t[i] AS w1, t[i+1] AS w2
             |       FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)),
             |counts AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
             |l AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
             |      FROM counts GROUP BY 1),
             |r AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2
             |      FROM counts GROUP BY 1),
             |n AS (SELECT CAST(sum(c12) AS BIGINT) AS n_tot FROM counts)
             |SELECT w1, w2, c12,
             |  round((CAST(c12 AS DOUBLE) * n_tot)
             |        / (CAST(c1 AS DOUBLE) * c2), 6) AS lift
             |FROM counts JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN n
             |WHERE c12 >= 5
             |ORDER BY lift DESC, w1, w2 LIMIT 25""".stripMargin)),

    // ---- q125: per-source length-distribution drift (TV distance) -------
    // Mixture monitoring one level deeper than q74's share table: for
    // each source, the total-variation distance between its
    // token-length distribution and the corpus-wide one —
    // ½·Σ_b |c_sb/n_s − c_b/N| over q93's exact log2 length buckets.
    // A source whose TV jumps between crawls changed its content
    // shape (truncation bug, new template, spam flood) even if its
    // row share (q74) is unchanged. Everything flows from ONE
    // (source, bucket) partial-aggregated exchange; the per-source
    // and per-bucket marginals are aggregates OF that aggregate. The
    // |sources|×|buckets| comparison grid is built by crossing the
    // source totals with the BROADCAST bucket marginal (≤ ~60 rows —
    // value-domain-bounded, the one justified broadcast) so sources
    // missing a bucket still contribute that bucket's |0 − c_b/N|
    // term. Each term is two IEEE divides of identically-derived
    // integers (exact cross-engine), rounded to 1e-9 and summed
    // fixed-point — order-independent.
    QueryDef(
      "q125_source_drift",
      (s, d) => {
        val sb = Tables(s, d, "documents")
          .select(col("source"),
            length(conv(size(split(col("text"), " ")), 10, 2)).as("bkt"))
          .groupBy(col("source"), col("bkt"))
          .agg(count(lit(1)).as("c_sb"))
        val srcTot = sb.groupBy(col("source")).agg(sum(col("c_sb")).as("n_s"))
        val gb = sb.groupBy(col("bkt")).agg(sum(col("c_sb")).as("c_b"))
        val tot = sb.agg(sum(col("c_sb")).as("n_all"))
        srcTot.crossJoin(broadcast(gb))
          .join(sb, Seq("source", "bkt"), "left")
          .withColumn("c_sb", coalesce(col("c_sb"), lit(0L)))
          .crossJoin(broadcast(tot))
          .withColumn("term", round(abs(
            col("c_sb") / col("n_s") - col("c_b") / col("n_all")), 9))
          .groupBy(col("source"))
          .agg(max(col("n_s")).as("n_docs"),
            round(graft.functions.Exact.sumFixed("term", 9) / 2.0, 6)
              .as("tv_dist"))
      },
      Some(s"""WITH d AS (SELECT source,
              |            length(bin(CAST(len(string_split(text, ' ')) AS INTEGER)))
              |              AS bkt
              |          FROM documents),
              |sb AS (SELECT source, bkt, count(*) AS c_sb FROM d GROUP BY 1, 2),
              |st AS (SELECT source, CAST(sum(c_sb) AS BIGINT) AS n_s
              |       FROM sb GROUP BY 1),
              |gb AS (SELECT bkt, CAST(sum(c_sb) AS BIGINT) AS c_b
              |       FROM sb GROUP BY 1),
              |n AS (SELECT CAST(sum(c_sb) AS BIGINT) AS n_all FROM sb),
              |grid AS (SELECT source, n_s, gb.bkt, c_b,
              |           coalesce(c_sb, 0) AS c_sb, n_all
              |         FROM st CROSS JOIN gb
              |         LEFT JOIN sb USING (source, bkt) CROSS JOIN n),
              |t AS (SELECT source, n_s,
              |        round(abs(c_sb / n_s - c_b / n_all), 9) AS term
              |      FROM grid)
              |SELECT source, max(n_s) AS n_docs,
              |  round(${graft.functions.Exact.sumFixedSql("term", 9)} / 2.0, 6)
              |    AS tv_dist
              |FROM t GROUP BY source""".stripMargin)),

    // ---- q137: per-source quality~length regression ----------------------
    // Does the quality score just measure length, PER SOURCE? The
    // least-squares slope of quality on token count — q121's global
    // grid as one exact statistic per source: a source whose slope is
    // large is length-confounded there even if the global grid looks
    // flat. Moments (Σx, Σy, Σxy, Σx²) accumulate as EXACT integers
    // (quality quantized to 1e-6, per-row products fit BIGINT up to
    // ~10⁶-token docs; the per-source sums go through DECIMAL(38)/
    // HUGEINT so corpus size never overflows them) in ONE partial-
    // aggregated exchange; the slope/intercept combine happens on
    // doubles cast from identical exact integers — every FP op has
    // identical operands in identical order on both engines, so the
    // oracle matches without any fixed-point epsilon. Degenerate
    // sources (all docs the same length ⇒ zero variance) are
    // filtered, not divided by zero.
    QueryDef(
      "q137_quality_length_slope",
      (s, d) => {
        val dq = Tables(s, d, "documents")
          .withColumn("toks", split(col("text"), " "))
          .select(col("source"),
            size(col("toks")).cast("long").as("x"),
            expr("""cast(round(round(least(1.0d, size(toks) / 100.0d)
                * (size(array_distinct(toks)) / size(toks)), 6) * 1000000d, 0)
                as bigint)""").as("yf"))
        val m = dq.groupBy(col("source")).agg(
          count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("yf").cast("decimal(38,0)")).as("sy"),
          sum((col("x") * col("yf")).cast("decimal(38,0)")).as("sxy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
        m.select(col("source"), col("n").as("n_docs"),
            col("n").cast("double").as("nd"),
            col("sx").cast("double").as("sxd"),
            col("sy").cast("double").as("syd"),
            col("sxy").cast("double").as("sxyd"),
            col("sxx").cast("double").as("sxxd"))
          .withColumn("den", col("nd") * col("sxxd") - col("sxd") * col("sxd"))
          .filter(col("den") =!= 0.0)
          .withColumn("slope_raw",
            (col("nd") * col("sxyd") - col("sxd") * col("syd")) / col("den"))
          .select(col("source"), col("n_docs"),
            round(col("slope_raw"), 6).as("slope_microq_per_token"),
            round((col("syd") - col("slope_raw") * col("sxd")) / col("nd"), 6)
              .as("intercept_microq"))
      },
      Some("""WITH dq AS (SELECT source,
             |            CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
             |            CAST(round(round(least(1.0, len(string_split(text, ' ')) / 100.0)
             |              * (len(list_distinct(string_split(text, ' ')))
             |                 / len(string_split(text, ' '))), 6) * 1000000) AS BIGINT)
             |              AS yf
             |          FROM documents),
             |m AS (SELECT source, count(*) AS n,
             |        sum(x) AS sx, sum(yf) AS sy,
             |        sum(x * yf) AS sxy, sum(x * x) AS sxx
             |      FROM dq GROUP BY source),
             |c AS (SELECT source, n AS n_docs,
             |        n::DOUBLE AS nd, sx::DOUBLE AS sxd, sy::DOUBLE AS syd,
             |        sxy::DOUBLE AS sxyd, sxx::DOUBLE AS sxxd
             |      FROM m),
             |f AS (SELECT *, nd * sxxd - sxd * sxd AS den FROM c
             |      WHERE nd * sxxd - sxd * sxd <> 0),
             |r AS (SELECT *, (nd * sxyd - sxd * syd) / den AS slope_raw FROM f)
             |SELECT source, n_docs,
             |  round(slope_raw, 6) AS slope_microq_per_token,
             |  round((syd - slope_raw * sxd) / nd, 6) AS intercept_microq
             |FROM r""".stripMargin)),

    // ---- q139: Heaps-law vocabulary growth curve ------------------------
    // The capacity-planning curve every tokenizer/vocab decision reads:
    // split the corpus into 20 ingestion batches (by doc_id, the
    // arrival order) and report cumulative distinct terms vs cumulative
    // tokens. Per-term state is ONE row (the term's first bucket =
    // min(bucket), an ordinary partial-aggregated min — no windowed
    // count-distinct, which would shuffle the token stream per bucket);
    // the curve itself is a 20-row frame, so the running sums ride a
    // single-partition window over 20 rows (a driver-sized frame at any
    // corpus scale — the token stream crosses exactly two vocab-sized
    // exchanges and nothing else). Integer-only arithmetic end to end.
    QueryDef(
      "q139_heaps_vocab",
      (s, d) => {
        val docs = Tables.parallel(s, d, "documents")
        val mx = docs.agg(max(col("doc_id")).as("mx"))
        val toks = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .join(broadcast(mx))
          .select(expr("doc_id * 20 div (mx + 1)").as("bucket"), col("term"))
        val tokens = toks.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_tokens"))
        val firsts = toks.groupBy(col("term"))
          .agg(min(col("bucket")).as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("new_terms"))
        val w = Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tokens.join(firsts, Seq("bucket"), "left")
          .na.fill(0L, Seq("new_terms"))
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
          .withColumn("cum_vocab", sum(col("new_terms")).over(w))
          .select(col("bucket"), col("n_tokens"), col("new_terms"),
            col("cum_tokens"), col("cum_vocab"))
      },
      Some("""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
             |tk AS (SELECT doc_id * 20 // (mx + 1) AS bucket, u.term
             |       FROM documents, mx,
             |            UNNEST(string_split(text, ' ')) AS u(term)),
             |tokens AS (SELECT bucket, count(*) AS n_tokens FROM tk GROUP BY 1),
             |firsts AS (SELECT bucket, count(*) AS new_terms FROM (
             |             SELECT term, min(bucket) AS bucket FROM tk
             |             GROUP BY term) GROUP BY 1)
             |SELECT t.bucket, t.n_tokens,
             |  CAST(coalesce(f.new_terms, 0) AS BIGINT) AS new_terms,
             |  CAST(sum(t.n_tokens) OVER (ORDER BY t.bucket) AS BIGINT)
             |    AS cum_tokens,
             |  CAST(sum(coalesce(f.new_terms, 0)) OVER (ORDER BY t.bucket)
             |    AS BIGINT) AS cum_vocab
             |FROM tokens t LEFT JOIN firsts f USING (bucket)""".stripMargin)),

    // ---- q148: token-length profile --------------------------------------
    // The tokenizer-planning histogram: token count and corpus share
    // per character length, plus how many distinct terms live at each
    // length. Entirely partial-aggregated (token stream → ≤ max-length
    // rows); the share divides by a broadcast 1-row total.
    QueryDef(
      "q148_token_len_profile",
      (s, d) => {
        val toks = Tables.parallel(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("term"))
        val byLen = toks.groupBy(length(col("term")).as("len"))
          .agg(count(lit(1)).as("n_tokens"))
        val dist = toks.distinct()
          .groupBy(length(col("term")).as("len"))
          .agg(count(lit(1)).as("n_terms"))
        val total = toks.agg(count(lit(1)).as("tot"))
        byLen.join(dist, Seq("len"), "left")
          .na.fill(0L, Seq("n_terms"))
          .join(broadcast(total))
          .select(col("len"), col("n_tokens"), col("n_terms"),
            round(col("n_tokens") / col("tot"), 6).as("share"))
      },
      Some("""WITH t AS (SELECT u.term FROM documents,
             |            UNNEST(string_split(text, ' ')) AS u(term)),
             |byl AS (SELECT length(term) AS len, count(*) AS n_tokens
             |        FROM t GROUP BY 1),
             |dl AS (SELECT length(term) AS len, count(*) AS n_terms
             |       FROM (SELECT DISTINCT term FROM t) GROUP BY 1),
             |tot AS (SELECT count(*) AS tot FROM t)
             |SELECT len, n_tokens,
             |  CAST(coalesce(dl.n_terms, 0) AS BIGINT) AS n_terms,
             |  round(n_tokens / tot.tot, 6) AS share
             |FROM byl LEFT JOIN dl USING (len) CROSS JOIN tot""".stripMargin)),

    // ---- q149: vocabulary coverage curve ---------------------------------
    // q139's sizing twin: what share of all token OCCURRENCES the
    // top-k most frequent terms cover, for the vocab sizes a tokenizer
    // would actually pick. Computed in the VALUE DOMAIN (the
    // q69/q106 precedent): a raw-term vocabulary is 10⁸–10⁹ rows at
    // crawl scale, so ranking it through one global row_number window
    // is the scale killer — instead aggregate counts-of-counts
    // (|distinct frequencies| rows), take running sums strictly above
    // each frequency, and close each k's curve point with the exact
    // tie arithmetic covered = above_occ + (k − above_terms)·freq,
    // which equals the ranked sum for ANY tie-break (every boundary
    // term contributes the same count). The oracle keeps the
    // straightforward ranked spelling; the hash gate proves the
    // equivalence.
    QueryDef(
      "q149_vocab_coverage",
      (s, d) => {
        val freq = Tables.parallel(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("n"))
        val cc = freq.groupBy(col("n")).agg(count(lit(1)).as("c"))
        val above = Window.orderBy(col("n").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val aug = cc
          .withColumn("m", coalesce(sum(col("c")).over(above), lit(0L)))
          .withColumn("s", coalesce(sum(col("n") * col("c")).over(above),
            lit(0L)))
          .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val total = aug.agg(sum(col("n") * col("c")).as("tot"),
          sum(col("c")).as("vocab"))
        val ks = s.createDataFrame(Seq(Tuple1(100L), Tuple1(500L),
          Tuple1(1000L), Tuple1(5000L))).toDF("k")
        ks.join(aug,
            col("m") < col("k") && col("k") <= col("m") + col("c"), "left")
          .join(broadcast(total))
          .select(col("k"),
            coalesce(col("s") + (col("k") - col("m")) * col("n"), col("tot"))
              .as("covered"),
            col("tot"), col("vocab"))
          .select(col("k"), col("covered"),
            round(col("covered") / col("tot"), 6).as("coverage"),
            least(col("k"), col("vocab")).as("vocab_used"))
      },
      Some("""WITH f AS (SELECT u.term, count(*) AS n
             |          FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
             |          GROUP BY 1),
             |r AS (SELECT n, row_number() OVER
             |        (ORDER BY n DESC, term ASC) AS rk FROM f),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
             |          count(*) AS vocab FROM r),
             |ks AS (SELECT unnest([100, 500, 1000, 5000]) AS k)
             |SELECT CAST(k AS BIGINT) AS k,
             |  CAST(sum(r.n) AS BIGINT) AS covered,
             |  round(CAST(sum(r.n) AS BIGINT) / tot.tot, 6) AS coverage,
             |  CAST(least(k, vocab) AS BIGINT) AS vocab_used
             |FROM ks JOIN r ON r.rk <= ks.k CROSS JOIN tot
             |GROUP BY k, tot.tot, tot.vocab""".stripMargin)),

    // ---- q183: BM25 off the DOCUMENT-FREQUENCY STORE -------------------
    // The retrieval-stats persistence the vocab store (q180) is for
    // tokenizers: at 100 TB the df / corpus-total statistics BM25
    // needs are a MAINTAINED STORE, not a per-scoring corpus pass.
    // Base store from two thirds of the corpus, the rest folded in as
    // two delta installments (one REPLAYED — the refusal require'd
    // in-query), then the full corpus is scored with every corpus
    // statistic (df, n_docs, tot_dl, the top-df query terms) read
    // from the store — zero corpus passes for statistics; the only
    // corpus-sized input is the docs being scored, a delta in
    // production. The oracle is q77's full-recompute chain, so the
    // hash gate proves store-refresh exactness, replay idempotence,
    // and scoring equivalence at once. (Catalog side effects
    // contained like q174's/q180's: fixed tables, swept per run.)
    QueryDef(
      "q183_bm25_store",
      (s, d) => {
        val tbl = "q183_df"
        graft.stores.DeltaStore.sweep(s, Seq(tbl, tbl + "_stats"))
        val docs = Tables.parallel(s, d, "documents")
        writeDfStoreOf(docs.filter(col("doc_id") % 3 =!= 1), tbl, 8)
        val rest = docs.filter(col("doc_id") % 3 === 1)
        require(refreshDfStore(s, rest.filter(col("doc_id") % 2 === 0),
          tbl, 1L), "installment 1 must fold")
        require(refreshDfStore(s, rest.filter(col("doc_id") % 2 =!= 0),
          tbl, 2L), "installment 2 must fold")
        require(!refreshDfStore(s, rest.filter(col("doc_id") % 2 === 0),
          tbl, 1L), "replayed installment must be refused")
        bm25AgainstStore(s, docs, tbl)
      },
      Some(bm25OracleSql))
  )

  // ---- the document-frequency store family (q183) ----------------------
  //
  // BM25's corpus statistics decomposed per installment: df sums over
  // DISJOINT doc sets (a doc contributes to a term's df in exactly one
  // installment), and (n_docs, tot_dl) sum trivially — so sum-on-read
  // is exact under any append count, the gram/vocab stores' contract.
  // Two tables — `table` (term, df, batch_id), bucketed on term, and
  // metadata-sized `table_stats` (n_docs, tot_dl, batch_id) — with the
  // TERM table as the replay guard's source of truth and the refresh
  // ordered stats-first / terms-last so a crash between the two
  // converges under retry (the StoreManifest roll-forward discipline:
  // the retry skips the already-landed stats row and re-appends only
  // the terms; production deployments additionally publish versions
  // through [[graft.stores.StoreManifest]] for atomic reader cutover).

  /** Per-(doc, term) frequency — the frame every BM25 statistic
    * derives from.
    */
  private def termFreq(docs: org.apache.spark.sql.DataFrame) =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** The totals table's name: the `_stats` naming convention unless
    * the caller (e.g. the manifest family `df`, which models it as a
    * first-class role) names it explicitly.
    */
  private def statsOf(table: String, statsTable: String): String =
    if (statsTable.isEmpty) table + "_stats" else statsTable

  /** Drop `s`'s cached relation (file listing) for the tables: an
    * append from ANOTHER session — the shape [[graft.streaming
    * .DfIngest]]'s fold mode hits, where foreachBatch hands the store
    * functions a micro-batch frame bound to a cloned session — lands
    * files and catalog rows that `s`'s relation cache does not see.
    * A stale guard read here is not a perf bug but a CORRECTNESS one:
    * it under-reads the watermark and re-folds a recorded batch.
    */
  private[graft] def uncache(s: org.apache.spark.sql.SparkSession,
      names: String*): Unit =
    graft.stores.DeltaStore.uncache(s, names: _*)

  /** Base df-store build: one corpus pass, ever. */
  def writeDfStoreOf(docs: org.apache.spark.sql.DataFrame, table: String,
      buckets: Int = -1, statsTable: String = ""): Unit = {
    val s = docs.sparkSession
    // LAZY pin (round 18): tf feeds BOTH the df aggregation and
    // dlStats — unpinned, the tokenize+explode+agg corpus pass ran
    // twice per base build (graft.Profile q183: two 5-stage job chains).
    // The lazy checkpoint materializes inside the df write's job and
    // the stats pass reads the cache.
    val tf = termFreq(docs).localCheckpoint(false)
    graft.stores.DeltaStore.write(s,
      tf.groupBy(col("term")).agg(count(lit(1)).as("df")),
      table, Seq("term"), buckets)
    dlStats(tf)
      .withColumn("batch_id", lit(0L))
      .write.format("parquet").mode("overwrite")
      .saveAsTable(statsOf(table, statsTable))
  }

  private def dlStats(tf: org.apache.spark.sql.DataFrame) =
    tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))

  /** Land an installment's stats row if (and only if) it is not
    * already there — the roll-forward half of [[refreshDfStore]],
    * separated so a crash between the two appends is testable.
    */
  private[graft] def landDfStats(s: org.apache.spark.sql.SparkSession,
      batch: org.apache.spark.sql.DataFrame, table: String,
      batchId: Long, statsTable: String = ""): Unit =
    landDfStatsOf(s, dlStats(termFreq(batch)), table, batchId, statsTable)

  /** [[landDfStats]] over a pre-derived stats frame — the shared-tf
    * path [[refreshDfStore]] uses so the batch's termFreq pass runs
    * once for stats AND terms.
    */
  private def landDfStatsOf(s: org.apache.spark.sql.SparkSession,
      stats: org.apache.spark.sql.DataFrame, table: String,
      batchId: Long, statsTable: String = ""): Unit = {
    val st = statsOf(table, statsTable)
    uncache(s, st)
    val landed = s.table(st)
      .filter(col("batch_id") === batchId).limit(1).count() > 0
    if (!landed)
      stats
        .withColumn("batch_id", lit(batchId))
        .write.format("parquet").mode("append").saveAsTable(st)
  }

  /** Fold a corpus installment into the df store under the replay
    * contract (recorded id → refused no-op returning false; novel id
    * below the watermark → throws — checkpoint reset, re-base the
    * epoch). The TERM append is the commit point: stats land first
    * (skipped if a crashed attempt already landed them), so retrying
    * a crash between the two appends converges with no double count.
    */
  def refreshDfStore(s: org.apache.spark.sql.SparkSession,
      batch: org.apache.spark.sql.DataFrame, table: String,
      batchId: Long, statsTable: String = ""): Boolean = {
    // lazy SHARED pin (round 18): the stats pass and the term delta
    // both derive from the batch's termFreq — unpinned, the batch
    // tokenized twice per fold. `lazy` + lazy checkpoint keep the
    // refused-replay path free (the guard refuses before either
    // consumer runs, so a replay never materializes the pin).
    lazy val tf = termFreq(batch).localCheckpoint(false)
    val folded = graft.stores.DeltaStore.refresh(s,
      tf.groupBy(col("term")).agg(count(lit(1)).as("df")),
      table, Seq("term"), batchId,
      // stats land BEFORE the term append (the commit point), so a
      // crash between the two appends retries into a converging
      // no-double-count — landDfStatsOf skips an already-landed row
      beforeCommit = () =>
        landDfStatsOf(s, dlStats(tf), table, batchId, statsTable))
    if (folded) uncache(s, statsOf(table, statsTable))
    folded
  }

  /** Sum-on-read df view — exact after any number of appends; the
    * aggregate groups on the bucket column, so a bucketed scan keeps
    * it exchange-free.
    */
  def readDfStore(s: org.apache.spark.sql.SparkSession,
      table: String): org.apache.spark.sql.DataFrame =
    graft.stores.DeltaStore.readSum(s, table, Seq("term"), Seq("df"))

  /** Corpus totals, summed over installments — one row. */
  def readDfStats(s: org.apache.spark.sql.SparkSession,
      table: String, statsTable: String = ""): org.apache.spark.sql.DataFrame =
    s.table(statsOf(table, statsTable))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot_dl")).as("tot_dl"))

  /** Collapse K installments to one summed row per term (and one
    * totals row), rolling forward to `newTable` — the vocab store's
    * sum-semantics compaction, term-keyed: shuffle-free via the
    * forced bucketed scan, with the replay watermark (max batch_id)
    * carried onto every compacted row so a pre-compaction batch
    * replayed afterwards still lands in [[refreshDfStore]]'s guard.
    */
  def compactDfStore(s: org.apache.spark.sql.SparkSession, table: String,
      newTable: String, statsTable: String = "",
      newStatsTable: String = ""): Unit =
    graft.stores.DeltaStore.compact(s, table, newTable,
      readDfStore(s, table), Seq("term"),
      extra = wm => readDfStats(s, table, statsTable)
        .crossJoin(broadcast(wm))
        .write.mode("overwrite").format("parquet")
        .saveAsTable(statsOf(newTable, newStatsTable)))

  /** BM25 scoring with every CORPUS statistic read from the store —
    * q77's arithmetic (rational Robertson idf, k1=1.2 / b=0.75,
    * explicit DOUBLE literals) with df / n_docs / tot_dl / the top-df
    * query terms store-sourced; only the docs being SCORED are
    * tokenized. Store stats broadcast (5 query terms, 1 totals row).
    */
  def bm25AgainstStore(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      table: String, statsTable: String = ""): org.apache.spark.sql.DataFrame = {
    // LAZY pin (round 18): tf feeds the score join AND the per-doc
    // length aggregate — unpinned, the scored frame tokenized twice.
    val tf = termFreq(docs).localCheckpoint(false)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val qterms = readDfStore(s, table)
      .orderBy(col("df").desc, col("term").asc).limit(5)
    val stats = readDfStats(s, table, statsTable)
    val w = Window.partitionBy(col("term"))
      .orderBy(col("score").desc, col("doc_id").asc)
    tf.join(broadcast(qterms), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("score", expr(
        "((n_docs - df + 0.5D) / (df + 0.5D)) * (tf * 2.2D / (tf + 1.2D * (0.25D + 0.75D * dl / (tot_dl / n_docs))))"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("term"), col("doc_id"), col("tf"),
        round(col("score"), 4).as("score"), col("rk"))
  }

  /** q77's full-recompute BM25 chain — the oracle for both q77 and
    * the store-backed q183 (store-after-folds ≡ full corpus).
    */
  private def bm25OracleSql =
    """WITH tf AS (SELECT doc_id, u.term, count(*) AS tf
      |          FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
      |          GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot_dl
      |          FROM dl),
      |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |q AS (SELECT term, df FROM dfr ORDER BY df DESC, term LIMIT 5),
      |sc AS (SELECT q.term, tf.doc_id, tf.tf,
      |         ((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE)) * (tf * 2.2::DOUBLE / (tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl / (tot_dl / n_docs))))
      |           AS score
      |       FROM tf JOIN q ON tf.term = q.term
      |       JOIN dl ON tf.doc_id = dl.doc_id, stats),
      |r AS (SELECT term, doc_id, tf, score,
      |        CAST(row_number() OVER (PARTITION BY term
      |               ORDER BY score DESC, doc_id) AS INTEGER) AS rk
      |      FROM sc)
      |SELECT term, doc_id, tf, round(score, 4) AS score, rk
      |FROM r WHERE rk <= 10""".stripMargin
}
