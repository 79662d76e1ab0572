package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data preparation operators over `documents` — the pipeline
  * stages that sit between raw crawl and tokenizer at 100 TB:
  * benchmark decontamination, deterministic stratified sampling,
  * quantile-based quality filtering, sequence packing, and term
  * scrubbing. All are built-in codegen'd expressions (no UDFs); each
  * one's shuffle story is stated at its definition.
  *
  * (The reference — nambrot/biometric-stream-processing — has no text
  * pipeline; this is the extended engine surface the build brief
  * demands, sharing the md5-keyed hashing idioms of
  * [[graft.operators.Dedup]] so the DuckDB oracle reproduces results
  * bit-for-bit.)
  */
object TrainPrep {

  /** Word 8-grams keyed by a 60-bit md5-derived id (same idiom as
    * Dedup's shingles: integer join keys, never raw strings, and
    * hashing happens on FLAT post-explode rows so it stays in
    * whole-stage codegen).
    */
  private def grams(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(1, size(t)-7), i -> concat_ws(' ', slice(t, i, 8)))"))
        .as("g"))
      .select(col("doc_id"), col("source"),
        expr("md5long(g)").as("gid"))

  private val gramsSql =
    """toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      |g AS (SELECT doc_id, source,
      |        ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT AS gid
      |      FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS s(i)
      |      WHERE len(t) >= 8)""".stripMargin

  /** Deterministic per-document sampling bucket in [0, 100): md5 of
    * the doc id, not rand() — reproducible across engines, runs, and
    * retries (a re-executed task at 100 TB must sample the same rows).
    */
  private val bucketCol =
    expr("md5long(cast(doc_id as string)) % 100")

  private val bucketSql =
    "(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100)"

  /** q76's chunker as a reusable stream: fixed 32-token windows on a
    * 24-token stride, each fingerprinted with the engine's 60-bit md5
    * id. Row-local (zero shuffles) — see q76 for the full plan notes.
    */
  private def chunks(df: DataFrame): DataFrame =
    df.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), size(col("t")).as("n"), col("t"),
        explode(expr("sequence(1, size(t), 24)")).as("st"))
      .filter(col("st") === 1 || col("st") <= col("n") - 7)
      .select(
        col("doc_id"),
        expr("cast((st - 1) div 24 as bigint)").as("chunk_idx"),
        least(lit(32), col("n") - col("st") + 1).as("chunk_tokens"),
        expr("md5long(concat_ws(' ', slice(t, st, 32)))")
          .as("chunk_fp"))

  private val chunksSql =
    """toks2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |cr AS (SELECT doc_id, CAST(len(t) AS INTEGER) AS n, t, g.st
      |       FROM toks2, UNNEST(generate_series(1, len(t), 24)) AS g(st)),
      |ch AS (SELECT doc_id, CAST((st - 1) // 24 AS BIGINT) AS chunk_idx,
      |         CAST(least(32, n - st + 1) AS INTEGER) AS chunk_tokens,
      |         ('0x' || substr(md5(array_to_string(t[st:st+31], ' ')), 1, 15))::BIGINT
      |           AS chunk_fp
      |       FROM cr WHERE st = 1 OR st <= n - 7)""".stripMargin

  /** q190's fused hashing-trick classifier as a reusable projection
    * (round 13: the crawl seam scores WET records through it): hash
    * every unigram+bigram of `textCol` into 1024 signed buckets, dot
    * with the stand-in milli-weight vector, all inside ONE
    * `aggregate()` over the scan — ZERO exchanges, integer-exact.
    * Appends `n_feat` and `clf_score` (milli-units; keep ⇔
    * clf_score·20 > n_feat, the τ = 0.05 threshold). The model is
    * IDENTICAL to the q193 broadcast-weight-table serving path —
    * q190/q193 share one oracle and q207 requires the equality at the
    * seam — so swapping the weight formula for a trained vector means
    * serving via q193's shape with the same gate.
    */
  private[graft] def withClfScore(df: DataFrame, textCol: String,
      weights: Option[Array[Long]] = None): DataFrame = {
    graft.functions.Md5Long.register(df.sparkSession)
    val base = df.withColumn("__t", split(col(textCol), " "))
      .withColumn("__bi", when(size(col("__t")) >= 2, expr(
        "transform(sequence(1, size(__t) - 1)," +
          " i -> concat_ws(' ', slice(__t, i, 2)))"))
        .otherwise(expr("cast(array() as array<string>)")))
      .withColumn("n_feat",
        (size(col("__t")) + size(col("__bi"))).cast("long"))
    val scored = weights match {
      case None =>
        base.withColumn("clf_score", expr(
          """aggregate(concat(__t, __bi), 0L, (acc, w) ->
            |  acc + (case when pmod(md5long(concat('s#', w)), 2) = 0
            |              then 1L else -1L end)
            |      * ((pmod(md5long(w), 1024) * 2654435761L) % 2001
            |         - 1000))""".stripMargin))
      case Some(w) =>
        // TRAINED path (round 14): the full 1024-bucket vector rides
        // in as ONE array literal, so the scorer keeps the fused
        // zero-exchange shape — element_at replaces the stand-in
        // arithmetic, nothing explodes, nothing shuffles
        require(w.length == ClfBuckets,
          s"clf weight vector must be dense over $ClfBuckets buckets")
        base.withColumn("__wv", typedLit(w.toSeq))
          .withColumn("clf_score", expr(
            """aggregate(concat(__t, __bi), 0L, (acc, tm) ->
              |  acc + (case when pmod(md5long(concat('s#', tm)), 2) = 0
              |              then 1L else -1L end)
              |      * element_at(__wv,
              |          cast(pmod(md5long(tm), 1024) as int) + 1))"""
              .stripMargin))
          .drop("__wv")
    }
    scored.drop("__t", "__bi")
  }

  /** The hashing-trick bucket space — fixed, so a weight vector is
    * always a dense 1024-slot array and every serving path (fused
    * literal, broadcast table, seam) agrees on addressing.
    */
  private[graft] val ClfBuckets = 1024

  /** The q193 broadcast-weight-table serving path over an arbitrary
    * keyed text frame — the shape a TRAINED model ships in (weights
    * as a 1024-row table, broadcast-joined to the exploded feature
    * stream, one doc-keyed exchange). Returns (keyCols..., n_feat,
    * clf_score). q207 pins it equal to [[withClfScore]] at the seam.
    * `trained` swaps the stand-in arithmetic for a real (j, w) weight
    * frame (sparse ok — missing buckets serve 0).
    */
  private[graft] def clfScoreBroadcast(df: DataFrame, textCol: String,
      keyCols: Seq[String], trained: Option[DataFrame] = None): DataFrame = {
    val s = df.sparkSession
    graft.functions.Md5Long.register(s)
    // trained (j, w) frames may be sparse — densify over the bucket
    // space so a missing bucket serves 0 exactly like the fused
    // element_at path
    val weights = trained match {
      case Some(w) =>
        s.range(0, ClfBuckets, 1, 1).toDF("j")
          .join(w.select(col("j"), col("w").as("w_milli")), Seq("j"), "left")
          .select(col("j"), coalesce(col("w_milli"), lit(0L)).as("w_milli"))
      case None =>
        s.range(0, ClfBuckets, 1, 1).toDF("j")
          .select(col("j"),
            ((col("j") * 2654435761L) % 2001 - 1000).as("w_milli"))
    }
    df.select(keyCols.map(col) :+ split(col(textCol), " ").as("t"): _*)
      .withColumn("bi", when(size(col("t")) >= 2, expr(
        "transform(sequence(1, size(t) - 1)," +
          " i -> concat_ws(' ', slice(t, i, 2)))"))
        .otherwise(expr("cast(array() as array<string>)")))
      .select(keyCols.map(col) :+
        explode(concat(col("t"), col("bi"))).as("term"): _*)
      .select(keyCols.map(col) :+
        pmod(expr("md5long(term)"), lit(1024)).as("j") :+
        when(pmod(expr("md5long(concat('s#', term))"), lit(2)) === 0, 1L)
          .otherwise(-1L).as("sign"): _*)
      .join(broadcast(weights), "j")
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_feat"),
        sum(col("sign") * col("w_milli")).as("clf_score"))
  }

  // ---- in-engine classifier TRAINING (round 14) -----------------------
  //
  // The round-13 surface served a stand-in weight vector; this is the
  // training side: a BATCH PERCEPTRON over the same signed
  // hashing-trick features, chosen deliberately over logistic
  // regression because every update is INTEGER arithmetic — weights,
  // margins, and deltas are exact BIGINTs in any summation order, so
  // the DuckDB oracle replays training bit-for-bit (float gradient
  // sums would diverge in the last ulp across engines). Each step is
  // three DataFrame aggs: margins (features ⋈ broadcast weights,
  // grouped per doc), the misclassified set (y·margin ≤ 0 — with w⁰=0
  // step 1 updates on every doc), and the summed update Σ y·x over it.
  //
  // Scale shape: labeled classifier corpora are SAMPLE-sized by
  // construction (fastText/CCNet train on 10⁵–10⁶ docs, not the
  // 100 TB corpus — the corpus is what gets SCORED, and scoring is
  // the zero-exchange fused path). Training still never collects doc
  // data: features stay distributed, only the 1024-row weight vector
  // moves (broadcast out, folded back per step). The weight store is
  // a SUM-semantics DeltaStore family — perceptron updates are
  // additive, so installment t IS step t's delta and readSum is the
  // current model; continued training on new labeled data appends
  // installments under the same replay guard as every other store.

  /** Signed hashed features of a keyed text frame: one row per
    * (key..., bucket j) with the summed term signs `c` — the exact
    * arithmetic of [[withClfScore]] factored per bucket so training
    * and serving can never drift.
    */
  private[graft] def clfFeatures(df: DataFrame, textCol: String,
      keyCols: Seq[String]): DataFrame = {
    graft.functions.Md5Long.register(df.sparkSession)
    df.select(keyCols.map(col) :+ split(col(textCol), " ").as("t"): _*)
      .withColumn("bi", when(size(col("t")) >= 2, expr(
        "transform(sequence(1, size(t) - 1)," +
          " i -> concat_ws(' ', slice(t, i, 2)))"))
        .otherwise(expr("cast(array() as array<string>)")))
      .select(keyCols.map(col) :+
        explode(concat(col("t"), col("bi"))).as("term"): _*)
      .select(keyCols.map(col) :+
        pmod(expr("md5long(term)"), lit(ClfBuckets.toLong)).as("j") :+
        when(pmod(expr("md5long(concat('s#', term))"), lit(2)) === 0, 1L)
          .otherwise(-1L).as("sign"): _*)
      .groupBy((keyCols :+ "j").map(col): _*)
      .agg(sum(col("sign")).as("c"))
  }

  /** One batch-perceptron step against the weight frame `w` (sparse
    * (j, w) — missing buckets are 0): margins per doc under the
    * broadcast weights, the misclassified set (y·margin ≤ 0), and the
    * summed integer update Σ y·c per bucket. The only exchanges are
    * doc-keyed and bucket-keyed partial aggs over the SAMPLE-sized
    * labeled frame.
    */
  private[graft] def perceptronDelta(feats: DataFrame, labels: DataFrame,
      w: DataFrame): DataFrame = {
    val margins = feats
      .join(broadcast(w.select(col("j"), col("w"))), Seq("j"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * coalesce(col("w"), lit(0L))).as("margin"))
    val upd = labels.join(margins, Seq("doc_id"))
      .filter(col("y") * col("margin") <= 0)
      .select(col("doc_id"), col("y"))
    feats.join(upd, "doc_id")
      .groupBy(col("j")).agg(sum(col("y") * col("c")).as("w"))
  }

  /** Pure training loop: `steps` batch-perceptron steps from w⁰ = 0
    * over a pinned feature frame. Returns the sparse (j, w) weight
    * frame; per-step state is the 1024-row vector only (pinned each
    * step — lineage stays flat, the frame is metadata-sized).
    */
  private[graft] def trainPerceptron(s: SparkSession, feats: DataFrame,
      labels: DataFrame, steps: Int): DataFrame = {
    // pin the training frames ONCE (round 17): each step's delta plan
    // references `feats` twice (margins + summed update) and `labels`
    // once, so an unpinned caller expression — q209/q210 pass
    // feats ⋈ trainIds — re-executed that join 2×steps times inside
    // the loop; the pin is sample-sized by the training contract
    val f = graft.Jobs.pinned(feats)
    val l = graft.Jobs.pinned(labels)
    var w: DataFrame = s.range(0, 0, 1, 1).select(col("id").as("j"), col("id").as("w"))
    for (_ <- 1 to steps) {
      val delta = perceptronDelta(f, l, w)
      w = w.union(delta).groupBy(col("j")).agg(sum(col("w")).as("w"))
        .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
    }
    w
  }

  /** Empty weight store — family `clf`, SUM semantics on (j, w),
    * bucketed on j. Installment t is training step t's delta; readSum
    * is the current model; replay-guarded like every family.
    */
  def writeClfStoreEmpty(s: SparkSession, table: String,
      buckets: Int = -1): Unit =
    graft.stores.DeltaStore.write(s,
      s.range(0, 0, 1, 1).select(col("id").as("j"), col("id").as("w")),
      table, Seq("j"), buckets)

  /** One training step AGAINST the store: read the current model
    * (readSum over prior installments), compute the perceptron delta
    * over the labeled frame, fold it as installment `step`. A crash-
    * replayed step is refused by the guard — training never
    * double-applies an update.
    */
  def trainClfStep(s: SparkSession, feats: DataFrame, labels: DataFrame,
      table: String, step: Long): Boolean = {
    graft.stores.DeltaStore.uncache(s, table)
    val w = graft.stores.DeltaStore.readSum(s, table, Seq("j"), Seq("w"))
    graft.stores.DeltaStore.refresh(s,
      perceptronDelta(feats, labels, w), table, Seq("j"), step)
  }

  /** The current model as a sparse (j, w) frame. */
  def readClfWeights(s: SparkSession, table: String): DataFrame =
    graft.stores.DeltaStore.readSum(s, table, Seq("j"), Seq("w"))

  /** The current model as the dense 1024-slot vector the fused seam
    * scorer bakes in ([[withClfScore]] with weights). The collect is
    * O(1024) — model-sized, the same driver-read class as the
    * manifest and guard reads, declared.
    */
  def readClfVector(s: SparkSession, table: String): Array[Long] = {
    val arr = Array.fill(ClfBuckets)(0L)
    readClfWeights(s, table).collect().foreach { r =>
      val j = r.getLong(0)
      // a foreign or corrupt table surfaces as a contract error
      // naming the table, not a raw ArrayIndexOutOfBoundsException at
      // stream start (and a negative j must not slip through the cast)
      require(j >= 0 && j < ClfBuckets,
        s"$table is not a clf weight table: bucket id $j outside " +
          s"[0, $ClfBuckets)")
      arr(j.toInt) = r.getLong(1)
    }
    arr
  }

  /** Quality-floor labels over a (doc_id, text) frame: y = +1 iff the
    * q32 quality score clears 0.3 — the deterministic stand-in for a
    * hand-labeled good/bad corpus, replayable in the oracle.
    */
  private[graft] def clfLabels(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")))
      .withColumn("nd", size(array_distinct(col("toks"))))
      .select(col("doc_id"),
        when(round(least(lit(1.0), col("n") / 100.0)
          * (col("nd") / col("n")), 4) >= 0.3, 1L).otherwise(-1L).as("y"))

  // ---- balanced Rocchio head (round 15) --------------------------------
  //
  // q210's first held-out measurement did exactly what an eval exists
  // to do: it exposed the trained perceptron as a majority-class
  // predictor (94.7% accuracy, 0/6 recall under the ~95/5 label
  // prior). Two root causes, measured separately:
  // (1) REPRESENTATION — the q32 quality label is a function of the
  // token count n and distinct-token count nd (it is exactly
  // nd >= max(30, 0.3·n)), which is linear over (n, nd, 1) but
  // invisible to sign-randomized hashed bag-of-words; (2) DYNAMICS —
  // batch-perceptron steps with class-balanced weights overshoot and
  // oscillate between the all-positive and all-negative states
  // (averaging included), because each synchronized step updates with
  // the full misclassified mass. The fix is a model whose training is
  // CLOSED-FORM instead of iterative: a balanced centroid (Rocchio)
  // direction — one class-weighted update from w⁰ = 0, i.e.
  // w ∝ mean(pos) − mean(neg) — over features that carry the signal
  // (three reserved structural buckets), plus a train-optimal
  // balanced decision threshold. Still integer-exact end to end, so
  // the DuckDB oracle replays direction, margins, threshold argmin,
  // and the held-out confusion bit-for-bit. Measured at sf0.01:
  // recall 0/6 → 6/6 with accuracy 0.85 (vs 0.947 degenerate).

  /** Structural feature map: uni+bigram terms hashed into [0, 1021)
    * (1021 is prime) plus three RESERVED buckets — 1021 bias (c = 1),
    * 1022 token count, 1023 distinct-token count. Same signed-count
    * shape as [[clfFeatures]]; one exploded doc-keyed partial agg, no
    * driver work.
    */
  private[graft] def clfFeaturesStruct(df: DataFrame): DataFrame = {
    graft.functions.Md5Long.register(df.sparkSession)
    val terms = df.select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("bi", when(size(col("t")) >= 2, expr(
        "transform(sequence(1, size(t) - 1)," +
          " i -> concat_ws(' ', slice(t, i, 2)))"))
        .otherwise(expr("cast(array() as array<string>)")))
    val hashed = terms
      .select(col("doc_id"), explode(concat(col("t"), col("bi"))).as("term"))
      .select(col("doc_id"),
        pmod(expr("md5long(term)"), lit(1021L)).as("j"),
        when(pmod(expr("md5long(concat('s#', term))"), lit(2)) === 0, 1L)
          .otherwise(-1L).as("sign"))
      .groupBy(col("doc_id"), col("j")).agg(sum(col("sign")).as("c"))
    val struct = terms.select(col("doc_id"),
      size(col("t")).cast("long").as("n"),
      size(array_distinct(col("t"))).cast("long").as("nd"))
      .select(col("doc_id"), explode(map(
        lit(1021L), lit(1L),
        lit(1022L), col("n"),
        lit(1023L), col("nd"))).as(Seq("j", "c")))
    hashed.unionByName(struct)
  }

  /** Inverse-prior class weights: a positive doc's update weighs the
    * NEGATIVE class count and vice versa, so each class contributes
    * equal total mass (the integer-exact form of inverse-frequency
    * weighting). `greatest(…, 1)` degrades a one-class corpus to the
    * unweighted trainer instead of an all-zero model.
    */
  private[graft] def balancedClassWeights(labels: DataFrame): DataFrame = {
    val cnts = labels.agg(
      greatest(sum(when(col("y") === 1L, 1L).otherwise(0L)), lit(1L))
        .as("npos"),
      greatest(sum(when(col("y") === -1L, 1L).otherwise(0L)), lit(1L))
        .as("nneg"))
    labels.crossJoin(broadcast(cnts))
      .select(col("doc_id"), col("y"),
        when(col("y") === 1L, col("nneg")).otherwise(col("npos")).as("wt"))
  }

  /** Balanced centroid (Rocchio) direction: ONE class-weighted
    * perceptron update from w⁰ = 0 (where every doc is misclassified,
    * so no margin pass is needed) — w_j = Σ y·wt·c_j, proportional to
    * mean(pos) − mean(neg) per bucket. Closed-form: no iteration, no
    * oscillation (the q210 root cause #2). One bucket-keyed agg over
    * the sample-sized labeled frame.
    */
  private[graft] def rocchioDirection(feats: DataFrame,
      labelsW: DataFrame): DataFrame =
    feats.join(labelsW, "doc_id")
      .groupBy(col("j")).agg(sum(col("y") * col("wt") * col("c")).as("w"))

  /** Margins of a feature frame under a sparse (j, w) direction —
    * broadcast weights (≤ 1024 rows), one doc-keyed partial agg;
    * missing buckets serve 0 exactly like the fused element_at path.
    */
  private[graft] def clfMargins(feats: DataFrame, w: DataFrame): DataFrame =
    feats.join(broadcast(w.select(col("j"), col("w"))), Seq("j"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * coalesce(col("w"), lit(0L))).as("margin"))

  /** Train-optimal balanced decision threshold over labeled margins
    * (doc_id, y, margin): among candidate cuts (the distinct train
    * margins), pick τ minimizing the class-weighted train error
    * err(τ) = nn·|pos: margin ≤ τ| + np·|neg: margin > τ|; ties break
    * to the smallest τ. Returns ONE row (tau, err) — consumed via
    * crossJoin(broadcast(…)), never collected. The unpartitioned
    * window is over the SAMPLE-sized labeled margins only (labeled
    * classifier corpora are 10⁵–10⁶ docs by the q208 contract — the
    * 100 TB corpus is what gets SCORED, not thresholded), same
    * declared class as the training aggregates themselves.
    */
  private[graft] def balancedThreshold(marginsL: DataFrame): DataFrame =
    thresholdCandidates(marginsL).orderBy(col("err"), col("tau")).limit(1)

  /** Every candidate cut with its class-weighted train error —
    * (tau, err), one row per distinct train margin. [[balancedThreshold]]
    * is its argmin; q213's operating curve reads the rows around that
    * argmin directly.
    */
  private[graft] def thresholdCandidates(marginsL: DataFrame): DataFrame = {
    val cnts = marginsL.agg(
      greatest(sum(when(col("y") === 1L, 1L).otherwise(0L)), lit(1L))
        .as("np"),
      greatest(sum(when(col("y") === -1L, 1L).otherwise(0L)), lit(1L))
        .as("nn"),
      sum(when(col("y") === -1L, 1L).otherwise(0L)).as("negtot"))
    // q88's post-agg cumulative shape (round 18, guide §2.4): the
    // per-class counts aggregate to ONE row per distinct margin in
    // parallel (partial map-side agg), and only that bounded frame
    // crosses the single-partition cumulative window — the old order
    // ran the RANGE-frame window over the full per-doc margin frame,
    // a single-reducer sort of the eval split at scale. Row-identical:
    // the RANGE frame's tie handling made the old per-row cumulative
    // constant within a margin group, equal to the running sum of the
    // per-margin counts computed here.
    val wnd = org.apache.spark.sql.expressions.Window.orderBy(col("margin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    marginsL
      .groupBy(col("margin"))
      .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("mpos"),
        sum(when(col("y") === -1L, 1L).otherwise(0L)).as("mneg"))
      .withColumn("cpos", sum(col("mpos")).over(wnd))
      .withColumn("cneg", sum(col("mneg")).over(wnd))
      .crossJoin(broadcast(cnts))
      .select(col("margin").as("tau"),
        (col("nn") * col("cpos")
          + col("np") * (col("negtot") - col("cneg"))).as("err"))
  }

  val defs: Seq[QueryDef] = Seq(
    // ---- q45: benchmark decontamination (8-gram collision scan) --------
    // Train/test decontamination: flag training documents sharing any
    // word 8-gram with the held-out benchmark set (here: source
    // 'src0'). Scale shape: the benchmark gram set is TINY relative
    // to the corpus (benchmarks are fixed-size; the corpus is 100 TB)
    // so it is broadcast — the corpus-side gram stream never
    // shuffles; the only exchange is the per-hit groupBy(doc_id),
    // which carries hit rows only (rare by construction). At larger
    // benchmark suites you'd front a bloom filter built from the same
    // gid set; the corpus-side plan is unchanged.
    QueryDef(
      "q45_decontaminate",
      (s, d) => {
        val g = grams(Tables.parallel(s, d, "documents"))
        val bench = g.filter(col("source") === "src0")
          .select(col("gid")).distinct()
        g.filter(col("source") =!= "src0")
          .join(broadcast(bench), "gid")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("gid")).as("n_hits"))
      },
      Some(s"""WITH $gramsSql,
              |bench AS (SELECT DISTINCT gid FROM g WHERE source = 'src0')
              |SELECT doc_id, count(DISTINCT g.gid) AS n_hits
              |FROM g JOIN bench USING (gid)
              |WHERE source <> 'src0'
              |GROUP BY doc_id""".stripMargin)),

    // ---- q46: deterministic stratified sampling ------------------------
    // Hash-mod sampling with per-stratum rates (languages are kept at
    // different rates — the standard data-mixture lever). Pure scan
    // projection + filter, zero shuffles, and the filter is a
    // deterministic function of doc_id so any re-run or partial
    // re-execution selects the identical sample.
    QueryDef(
      "q46_sample_strat",
      (s, d) =>
        Tables(s, d, "documents")
          .withColumn("bucket", bucketCol)
          .filter(col("bucket") <
            when(col("lang") === "en", 40).otherwise(20))
          .select(col("doc_id"), col("lang"), col("bucket")),
      Some(s"""SELECT doc_id, lang, $bucketSql AS bucket
              |FROM documents
              |WHERE $bucketSql < (CASE WHEN lang = 'en' THEN 40 ELSE 20 END)""".stripMargin)),

    // ---- q47: quantile-based quality filter ----------------------------
    // Keep documents longer (in tokens) than their language's median —
    // quantile thresholding is how quality cutoffs are actually set
    // (absolute thresholds drift across languages/sources). Exact
    // percentile over a 5-row grouping: the per-stratum stats
    // aggregate partial-aggregates down to |langs| rows, which then
    // broadcast back onto the scan — the corpus is read once and
    // never shuffled. (Exact percentile's sort-based buffer is fine
    // BECAUSE the group count is tiny; per-document groupings use
    // approx_percentile instead.)
    QueryDef(
      "q47_quantile_filter",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .withColumn("n_tokens", size(split(col("text"), " ")))
        val meds = docs.groupBy(col("lang"))
          .agg(expr("percentile(n_tokens, 0.5)").as("med"))
        docs.join(broadcast(meds), "lang")
          .filter(col("n_tokens") > col("med"))
          .select(col("doc_id"), col("lang"), col("n_tokens"), col("med"))
      },
      Some("""WITH d AS (SELECT doc_id, lang,
             |            CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
             |          FROM documents),
             |m AS (SELECT lang, quantile_cont(n_tokens, 0.5) AS med FROM d GROUP BY lang)
             |SELECT doc_id, d.lang, n_tokens, med
             |FROM d JOIN m ON d.lang = m.lang
             |WHERE n_tokens > med""".stripMargin)),

    // ---- q54: sequence packing (token-budget binning) ------------------
    // Pack documents into 512-token training sequences: within each
    // source shard, documents are laid out in doc_id order and cut
    // into bins by cumulative token count. The window is partitioned
    // by source — at 100 TB packing is per-shard by construction
    // (a global pack order would serialize the sort), so the plan is
    // one shuffle on source + an in-partition running sum, then the
    // per-bin rollup rides the same partitioning.
    QueryDef(
      "q54_pack_sequences",
      (s, d) => {
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        Tables(s, d, "documents")
          .withColumn("n", size(split(col("text"), " ")))
          .withColumn("bin", floor((sum(col("n")).over(w) - col("n")) / 512))
          .groupBy(col("source"), col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens"))
      },
      Some("""WITH d AS (SELECT source, doc_id,
             |            CAST(len(string_split(text, ' ')) AS INTEGER) AS n FROM documents),
             |b AS (SELECT source, n,
             |        CAST((sum(n) OVER (PARTITION BY source ORDER BY doc_id
             |                           ROWS UNBOUNDED PRECEDING) - n) // 512
             |             AS BIGINT) AS bin
             |      FROM d)
             |SELECT source, bin, count(*) AS n_docs,
             |  CAST(sum(n) AS BIGINT) AS tokens
             |FROM b GROUP BY source, bin""".stripMargin)),

    // ---- q56: decontamination behind a bloom prefilter -----------------
    // Same semantics (and oracle) as q45, executed the way the 100 TB
    // plan actually looks: the benchmark gram ids are sketched into
    // ONE bloom filter (a few hundred KB regardless of benchmark
    // size) embedded as a scalar subquery, and the corpus-side gram
    // stream tests membership inside its own scan stage —
    // `bloom_contains` has no false negatives, so the exact confirm
    // join sees every true hit, and its input is already reduced to
    // hits + the bloom's false-positive trickle. Uses the engine's
    // SQL surface end-to-end ([[graft.functions.BloomFunctions]] +
    // `Tables.registerAll`); the DataFrame-API twin is q45.
    QueryDef(
      "q56_decontaminate_bloom",
      (s, d) => {
        graft.functions.BloomFunctions.register(s)
        Tables.registerAll(s, d)
        // Materialize the benchmark gid set ONCE. As a CTE it was
        // inlined into every consumer — the bloom-build scalar
        // subquery AND the confirm join each re-ran the full src0
        // gram explode+md5+distinct (measured 10 Generate nodes in
        // the executed plan, ~2× query time). Benchmarks are small
        // and reused by construction, so pinning them is the
        // cluster-correct shape too (persist/reliable-checkpoint at
        // 100 TB; localCheckpoint in this single-JVM harness).
        s.sql(
          """SELECT DISTINCT
            |  md5long(concat_ws(' ', slice(t, i, 8))) AS gid
            |FROM (SELECT split(text, ' ') AS t FROM documents
            |      WHERE source = 'src0' AND size(split(text, ' ')) >= 8)
            |LATERAL VIEW explode(sequence(1, size(t) - 7)) AS i""".stripMargin)
          .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
          .createOrReplaceTempView("bench_gids")
        s.sql(
          """WITH toks AS (SELECT doc_id, source, split(text, ' ') AS t
            |              FROM documents WHERE size(split(text, ' ')) >= 8),
            |g AS (SELECT doc_id, source,
            |        md5long(concat_ws(' ', slice(t, i, 8))) AS gid
            |      FROM toks LATERAL VIEW explode(sequence(1, size(t) - 7)) AS i),
            |filt AS (SELECT doc_id, gid FROM g
            |         WHERE source <> 'src0'
            |           AND bloom_contains(
            |                 (SELECT bloom_agg(gid, 65536L, 524288L) FROM bench_gids),
            |                 gid))
            |SELECT f.doc_id, count(DISTINCT f.gid) AS n_hits
            |FROM filt f JOIN bench_gids b ON f.gid = b.gid
            |GROUP BY f.doc_id""".stripMargin)
      },
      Some(s"""WITH $gramsSql,
              |bench AS (SELECT DISTINCT gid FROM g WHERE source = 'src0')
              |SELECT doc_id, count(DISTINCT g.gid) AS n_hits
              |FROM g JOIN bench USING (gid)
              |WHERE source <> 'src0'
              |GROUP BY doc_id""".stripMargin)),

    // ---- q55: term scrubbing (regex redaction) -------------------------
    // PII-style scrub: replace a term denylist with a redaction token
    // and fingerprint the scrubbed text. Row-local regex in the scan
    // projection — embarrassingly parallel, no shuffle, and the
    // pattern is word-anchored alternation, which Java regex and RE2
    // evaluate identically. (Real PII patterns — emails, phones —
    // drop in as alternation arms with the same plan.)
    QueryDef(
      "q55_term_scrub",
      (s, d) => {
        val pat = "\\b(customer|supplier)\\b"
        Tables(s, d, "documents").select(
          col("doc_id"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("n_redacted"),
          md5(regexp_replace(col("text"), pat, "<T>")).as("scrub_fp"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '\b(customer|supplier)\b')) AS INTEGER)
             |    AS n_redacted,
             |  md5(regexp_replace(text, '\b(customer|supplier)\b', '<T>', 'g')) AS scrub_fp
             |FROM documents""".stripMargin)),

    // ---- q73: contamination overlap-fraction scoring -------------------
    // q45/q56 FLAG contaminated documents; real decontamination
    // pipelines SCORE them — a doc sharing 2% of its 8-grams with a
    // benchmark is boilerplate collision, one sharing 80% is a leaked
    // test split, and the drop threshold lives between. Same
    // broadcast-benchmark shape as q45 (the corpus gram stream never
    // shuffles against the benchmark; the left join resolves in the
    // scan stage), but every corpus document reaches the output with
    // its distinct-gram denominator, so the per-doc groupBy carries
    // the full corpus — still one doc-keyed exchange of (doc_id, gid)
    // pairs with partial distinct-count aggregation.
    QueryDef(
      "q73_overlap",
      (s, d) => {
        val g = grams(Tables.parallel(s, d, "documents"))
        val bench = g.filter(col("source") === "src0")
          .select(col("gid")).distinct().withColumn("hit", lit(1))
        g.filter(col("source") =!= "src0")
          .join(broadcast(bench), Seq("gid"), "left")
          .groupBy(col("doc_id"))
          .agg(
            countDistinct(col("gid")).as("n_grams"),
            countDistinct(when(col("hit").isNotNull, col("gid"))).as("n_hits"))
          .select(col("doc_id"), col("n_grams"), col("n_hits"),
            round(col("n_hits") / col("n_grams"), 4).as("overlap_frac"))
      },
      Some(s"""WITH $gramsSql,
              |bench AS (SELECT DISTINCT gid FROM g WHERE source = 'src0'),
              |j AS (SELECT doc_id, g.gid, b.gid AS hit
              |      FROM g LEFT JOIN bench b ON g.gid = b.gid
              |      WHERE source <> 'src0')
              |SELECT doc_id, count(DISTINCT gid) AS n_grams,
              |  count(DISTINCT CASE WHEN hit IS NOT NULL THEN gid END) AS n_hits,
              |  round(count(DISTINCT CASE WHEN hit IS NOT NULL THEN gid END)
              |        / count(DISTINCT gid), 4) AS overlap_frac
              |FROM j GROUP BY doc_id""".stripMargin)),

    // ---- q74: data-mixture report --------------------------------------
    // The mixture table every training run is configured from: per
    // (source, language) document counts, token sums, and each cell's
    // share of all corpus tokens. The corpus collapses to
    // |sources|×|langs| rows via partial aggregation in one pass; the
    // grand total rides back in as a single broadcast row (never a
    // global window over the corpus).
    QueryDef(
      "q74_mixture",
      (s, d) => {
        val cells = Tables(s, d, "documents")
          .withColumn("n", size(split(col("text"), " ")))
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens"))
        val total = cells.agg(sum(col("tokens")).as("tot"))
        cells.crossJoin(broadcast(total))
          .select(col("source"), col("lang"), col("n_docs"), col("tokens"),
            round(col("tokens") / col("tot"), 6).as("tok_share"))
      },
      Some("""WITH d AS (SELECT source, lang,
             |            CAST(len(string_split(text, ' ')) AS INTEGER) AS n
             |          FROM documents),
             |c AS (SELECT source, lang, count(*) AS n_docs,
             |        CAST(sum(n) AS BIGINT) AS tokens
             |      FROM d GROUP BY 1, 2)
             |SELECT source, lang, n_docs, tokens,
             |  round(tokens / (SELECT CAST(sum(tokens) AS BIGINT) FROM c), 6)
             |    AS tok_share
             |FROM c""".stripMargin)),

    // ---- q75: cross-document duplicated-n-gram fraction ----------------
    // Exact-substring duplication pressure (the signal behind
    // suffix-array dedup à la Lee et al., "Deduplicating Training
    // Data Makes Language Models Better"): per document, the fraction
    // of its distinct 8-grams that also occur in at least one OTHER
    // document. Unlike q45/q73 the comparison set is the WHOLE
    // corpus, so there is no broadcast side: document frequencies
    // come from one gid-keyed partial aggregation of the distinct
    // gram stream, and rejoin the same stream in a co-partitioned
    // sort-merge join on gid — two shuffles of (doc_id, gid) pairs
    // total, both on integer keys, both partial-aggregated before the
    // exchange. The df table is gram-cardinality (≈ corpus tokens),
    // which at 100 TB is exactly the thing you must NEVER broadcast
    // or collect; this plan never does.
    QueryDef(
      "q75_dupgrams",
      (s, d) => {
        val dg = grams(Tables.parallel(s, d, "documents"))
          .select(col("doc_id"), col("gid")).distinct()
        // document frequency as a whole-partition window count over
        // the SAME gid-hash-partitioned stream the distinct already
        // produced — no second aggregate, no self-join. The df table
        // is gram-cardinality (≈ corpus tokens): the earlier
        // formulation built it as its own aggregate and merge-joined
        // it back (two extra operators riding the same exchange —
        // measured 1.84 s → 0.86 s at sf0.1 for this form);
        // broadcasting it was never an option at 100 TB. The window's
        // sort is on gid only — the exact sort the merge join needed
        // anyway.
        val w = Window.partitionBy(col("gid"))
        dg.withColumn("df", count(lit(1)).over(w))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("df") >= 2, 1).otherwise(0)).as("n_dup"))
          .select(col("doc_id"), col("n_grams"), col("n_dup"),
            round(col("n_dup") / col("n_grams"), 4).as("dup_frac"))
      },
      Some(s"""WITH $gramsSql,
              |dg AS (SELECT DISTINCT doc_id, gid FROM g),
              |df AS (SELECT gid, count(*) AS df FROM dg GROUP BY 1)
              |SELECT doc_id, count(*) AS n_grams,
              |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
              |  round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
              |        / count(*), 4) AS dup_frac
              |FROM dg JOIN df USING (gid) GROUP BY doc_id""".stripMargin)),

    // ---- q76: overlapping token-window chunking ------------------------
    // The document → training-sequence splitter: fixed 32-token
    // windows on a 24-token stride (8-token overlap so no boundary
    // context is lost), each chunk fingerprinted with the engine's
    // 60-bit md5 id so downstream dedup/packing join on integers.
    // Tail rule: a trailing fragment shorter than 8 tokens is folded
    // away (its content is already covered by the previous chunk's
    // overlap) unless it is the document's ONLY chunk. Entirely
    // row-local — sequence + slice + md5 in the scan projection,
    // zero shuffles — so at 100 TB it rides the scan with perfect
    // input parallelism; output is ~n_tokens/24 rows per doc.
    QueryDef(
      "q76_chunk",
      (s, d) => chunks(Tables.parallel(s, d, "documents")),
      Some(s"""WITH $chunksSql
             |SELECT doc_id, chunk_idx, chunk_tokens, chunk_fp FROM ch""".stripMargin)),

    // ---- q86: chunk-level exact dedup (fuzzy-boundary substring dedup) --
    // Sub-document dedup on q76's overlapping chunk stream:
    // first-writer-wins per chunk fingerprint (keeper = smallest
    // (doc_id, chunk_idx), packed into one BIGINT so both engines
    // order identically; at full scale the pack widens to a 128-bit
    // or struct key — the plan is unchanged). Catches documents that
    // share long runs without being whole-document duplicates —
    // boilerplate headers, quoted passages — the regime between q34's
    // exact dedup and q35's Jaccard. Two exchanges total, both on
    // integer keys: the chunk_fp window (partial state: one min per
    // fp) and the per-doc rollup; the chunk stream itself is produced
    // shuffle-free in the scan stage.
    QueryDef(
      "q86_chunk_dedup",
      (s, d) => {
        val w = Window.partitionBy(col("chunk_fp"))
        chunks(Tables.parallel(s, d, "documents"))
          .withColumn("k", col("doc_id") * 1048576 + col("chunk_idx"))
          .withColumn("kmin", min(col("k")).over(w))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("k") > col("kmin"), 1).otherwise(0)).as("n_dup_chunks"),
            sum(when(col("k") === col("kmin"), col("chunk_tokens"))
              .otherwise(0)).as("kept_tokens"))
      },
      Some(s"""WITH $chunksSql,
              |km AS (SELECT doc_id, chunk_tokens,
              |         doc_id * 1048576 + chunk_idx AS k,
              |         min(doc_id * 1048576 + chunk_idx)
              |           OVER (PARTITION BY chunk_fp) AS kmin
              |       FROM ch)
              |SELECT doc_id, count(*) AS n_chunks,
              |  CAST(sum(CASE WHEN k > kmin THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_dup_chunks,
              |  CAST(sum(CASE WHEN k = kmin THEN chunk_tokens ELSE 0 END) AS BIGINT)
              |    AS kept_tokens
              |FROM km GROUP BY doc_id""".stripMargin)),

    // ---- q89: temperature-reweighted mixture sampling -------------------
    // The rebalancing step after q74's mixture report: sample each
    // (source, lang) cell at a rate ∝ share^(α−1) with α = 0.5 —
    // rare cells kept whole (the minimum-token cell anchors at 100%),
    // dominant cells down-weighted toward √share, the standard
    // temperature lever for multilingual/multi-source mixes.
    // Reproducible-exact across engines: the rate arithmetic is one
    // IEEE division, one sqrt (both correctly rounded), a ×100 and a
    // floor to integer percent, compared against the same md5 bucket
    // as q46 — no rand() anywhere, so retried tasks at 100 TB select
    // identical rows. Plan: the corpus collapses to |cells| rows via
    // partial aggregation, rates broadcast back onto the scan, and
    // the filter is scan-local — zero corpus shuffles.
    QueryDef(
      "q89_temp_sample",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .withColumn("n", size(split(col("text"), " ")))
        val cells = docs.groupBy(col("source"), col("lang"))
          .agg(sum(col("n")).as("toks"))
        // the anchor (minimum cell mass) comes from a whole-frame
        // window over the |cells| rows — NOT a second aggregate of
        // the corpus: `cells.agg(min)` would re-derive cells from
        // scratch and scan the corpus twice. The window's single
        // partition holds |sources|×|langs| rows, bounded by the
        // domain, never by the data.
        val rates = cells
          .withColumn("tmin", min(col("toks")).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .select(col("source"), col("lang"),
            expr("cast(floor(100 * sqrt(cast(tmin as double) / cast(toks as double))) as int)")
              .as("keep_pct"))
        docs.join(broadcast(rates), Seq("source", "lang"))
          .filter(bucketCol < col("keep_pct"))
          .select(col("doc_id"), col("source"), col("lang"),
            col("keep_pct"), bucketCol.as("bucket"))
      },
      Some(s"""WITH d AS (SELECT doc_id, source, lang,
              |            CAST(len(string_split(text, ' ')) AS INTEGER) AS n
              |          FROM documents),
              |c AS (SELECT source, lang, CAST(sum(n) AS BIGINT) AS toks
              |      FROM d GROUP BY 1, 2),
              |m AS (SELECT min(toks) AS tmin FROM c),
              |r AS (SELECT source, lang,
              |        CAST(floor(100 * sqrt(tmin::DOUBLE / toks::DOUBLE)) AS INTEGER)
              |          AS keep_pct
              |      FROM c, m)
              |SELECT doc_id, d.source, d.lang, keep_pct, $bucketSql AS bucket
              |FROM d JOIN r ON d.source = r.source AND d.lang = r.lang
              |WHERE $bucketSql < keep_pct""".stripMargin)),

    // ---- q92: fixed-size per-stratum sample ------------------------------
    // q46/q89 sample by RATE; eval sets and human-review batches need
    // a fixed COUNT per stratum ("20 documents per source"). Keep the
    // 20 smallest md5 ranks per source — deterministic (no rand()),
    // uniform (md5 order is independent of content), and stable under
    // re-runs/retries. A per-source row_number window alone would
    // funnel the corpus through |sources| reducers, so each scan
    // partition first prunes to its local top-20 per source (keyed by
    // (source, spark_partition_id()) — lossless, as in q90), and the
    // global window only ranks ≤ 20·splits·|sources| survivors.
    QueryDef(
      "q92_stratum_sample",
      (s, d) => {
        val h = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"),
            expr("md5long(cast(doc_id as string))")
              .as("hk"))
        val wLocal = Window.partitionBy(col("source"), col("pid"))
          .orderBy(col("hk"), col("doc_id"))
        val wGlobal = Window.partitionBy(col("source"))
          .orderBy(col("hk"), col("doc_id"))
        h.withColumn("pid", spark_partition_id())
          .withColumn("lrn", row_number().over(wLocal)).filter(col("lrn") <= 20)
          .withColumn("rank", row_number().over(wGlobal)).filter(col("rank") <= 20)
          .select(col("source"), col("rank"), col("doc_id"))
      },
      Some(s"""SELECT source, rank, doc_id FROM
              |  (SELECT source, doc_id,
              |     CAST(row_number() OVER (PARTITION BY source
              |       ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT,
              |                doc_id) AS INTEGER) AS rank
              |   FROM documents)
              |WHERE rank <= 20""".stripMargin)),

    // ---- q101: weighted sampling without replacement ---------------------
    // Importance-weighted selection, as a deterministic
    // weighted-priority heuristic: each document draws a
    // deterministic md5 "uniform" hk and gets priority hk/weight —
    // the 20 smallest priorities win, so heavy documents (weight =
    // token count) are likelier without ever being guaranteed. Note
    // this is NOT Efraimidis–Spirakis A-ES (whose key is u^(1/w),
    // equivalently −ln(u)/w, and whose inclusion probabilities are
    // exactly weight-proportional): min-of-u/w biases toward heavy
    // documents monotonically but with different inclusion
    // probabilities. The exact A-ES key needs a transcendental
    // log/pow, which is libm-dependent and would break the bit-exact
    // cross-engine oracle — the heuristic keeps hk and the weight
    // integer, the priority ONE IEEE divide (identical in both
    // engines), and (priority, doc_id) a unique order. Top-20 via
    // the same partition-local prune as q92 — no single-reducer
    // global window at scale.
    QueryDef(
      "q101_weighted_sample",
      (s, d) => {
        val h = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).as("w"),
            expr("md5long(cast(doc_id as string))")
              .as("hk"))
          .withColumn("prio", col("hk") / col("w"))
        val wLocal = Window.partitionBy(col("pid"))
          .orderBy(col("prio"), col("doc_id"))
        val wGlobal = Window.orderBy(col("prio"), col("doc_id"))
        h.withColumn("pid", spark_partition_id())
          .withColumn("lrn", row_number().over(wLocal)).filter(col("lrn") <= 20)
          .withColumn("rank", row_number().over(wGlobal)).filter(col("rank") <= 20)
          .select(col("rank"), col("doc_id"), col("source"), col("w"))
      },
      Some("""SELECT rank, doc_id, source, w FROM
             |  (SELECT doc_id, source,
             |     CAST(len(string_split(text, ' ')) AS INTEGER) AS w,
             |     CAST(row_number() OVER (ORDER BY
             |       ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
             |         / CAST(len(string_split(text, ' ')) AS INTEGER),
             |       doc_id) AS INTEGER) AS rank
             |   FROM documents)
             |WHERE rank <= 20""".stripMargin)),

    // ---- q100: the composed curation pipeline ----------------------------
    // The end-to-end "what survives training prep" materialization —
    // the stages this engine implements individually (quality filter,
    // exact dedup, benchmark decontamination, deterministic sampling)
    // composed into one per-document decision table with reason
    // codes, evaluated in pipeline order (a doc dropped for quality
    // is never charged to dedup). Plan shape is the UNION of the
    // stages' shapes and nothing more: quality is scan-local; the
    // dedup keeper is one fp window; contamination is the q45
    // broadcast (bench grams are small by construction); sampling is
    // an md5-bucket compare. The corpus crosses one fp exchange and
    // one doc_id exchange; every other input rides broadcast.
    QueryDef(
      "q100_curation_pipeline",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val base = docs.select(col("doc_id"), col("source"), col("lang"),
          md5(col("text")).as("fp"),
          size(split(col("text"), " ")).as("n"))
        val wFp = Window.partitionBy(col("fp"))
        // contamination hits per non-benchmark doc (q45's broadcast)
        val g = grams(Tables.parallel(s, d, "documents"))
        val bench = g.filter(col("source") === "src0")
          .select(col("gid")).distinct()
        val contam = g.filter(col("source") =!= "src0")
          .join(broadcast(bench), "gid")
          .select(col("doc_id")).distinct().withColumn("hit", lit(1))
        base.filter(col("source") =!= "src0")
          .withColumn("keeper", min(col("doc_id")).over(wFp))
          .join(broadcast(contam), Seq("doc_id"), "left")
          .withColumn("reason",
            when(col("n") < 40, "quality_short")
              .when(col("doc_id") =!= col("keeper"), "exact_dup")
              .when(col("hit").isNotNull, "contaminated")
              .when(bucketCol >= 80, "sampled_out")
              .otherwise("kept"))
          .select(col("doc_id"), col("source"), col("lang"), col("n"),
            (col("reason") === "kept").as("kept"), col("reason"))
      },
      Some(s"""WITH $gramsSql,
              |bench AS (SELECT DISTINCT gid FROM g WHERE source = 'src0'),
              |contam AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gid)
              |           WHERE source <> 'src0'),
              |base AS (SELECT doc_id, source, lang, md5(text) AS fp,
              |           CAST(len(string_split(text, ' ')) AS INTEGER) AS n
              |         FROM documents),
              |k AS (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keeper
              |      FROM base WHERE source <> 'src0'),
              |r AS (SELECT doc_id, source, lang, n,
              |        CASE WHEN n < 40 THEN 'quality_short'
              |             WHEN doc_id <> keeper THEN 'exact_dup'
              |             WHEN doc_id IN (SELECT doc_id FROM contam)
              |               THEN 'contaminated'
              |             WHEN $bucketSql >= 80 THEN 'sampled_out'
              |             ELSE 'kept' END AS reason
              |      FROM k)
              |SELECT doc_id, source, lang, n,
              |  (reason = 'kept') AS kept, reason
              |FROM r""".stripMargin)),

    // ---- q112: deterministic train/val/test split report ----------------
    // The split stage every training-prep pipeline ends with: an
    // 80/10/10 assignment by salted content-independent hash
    // (md5('split-'||doc_id) mod 100 — re-run-stable, join-stable,
    // and independent of the q46/q100 sampling hashes because of the
    // salt; hashing the ID rather than the text keeps near-dup pairs
    // from straddling splits after dedup collapsed them to one
    // keeper). Row-local assignment, one tiny (source, split)
    // rollup, per-source fractions over the |sources|·3-row
    // aggregate — at 100 TB the corpus crosses one partial-aggregated
    // exchange and nothing else.
    QueryDef(
      "q112_split_assign",
      (s, d) => {
        val assigned = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"),
            expr("pmod(md5long(concat('split-', cast(doc_id as string))), 100)")
              .as("h"))
          .withColumn("split",
            when(col("h") < 80, "train")
              .when(col("h") < 90, "val").otherwise("test"))
        assigned.groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n"))
          .withColumn("frac", round(col("n")
            / sum(col("n")).over(Window.partitionBy(col("source"))), 4))
      },
      Some("""WITH a AS (SELECT doc_id, source,
             |            ('0x' || substr(md5('split-' || doc_id::VARCHAR), 1, 15))::BIGINT
             |              % 100 AS h
             |          FROM documents),
             |sp AS (SELECT source,
             |         CASE WHEN h < 80 THEN 'train'
             |              WHEN h < 90 THEN 'val' ELSE 'test' END AS split
             |       FROM a)
             |SELECT source, split, count(*) AS n,
             |  round(count(*) / CAST(sum(count(*))
             |          OVER (PARTITION BY source) AS DOUBLE), 4) AS frac
             |FROM sp GROUP BY 1, 2""".stripMargin)),

    // ---- q113: aligned chunk-run duplication (shared-substring pairs) ---
    // The pairwise half of q86: which document PAIRS share long
    // aligned runs of text? Two docs sharing ≥ 24 consecutive tokens
    // share ≥ 2 consecutive chunks of q76's 32/24 chunking at a
    // constant index offset, so grouping shared-fingerprint matches
    // by their index DIAGONAL (ia − ib) and counting per diagonal
    // approximates the suffix-array "longest duplicated substring"
    // report at chunk granularity — the practical detector for
    // quoted passages and mirrored articles that bag-of-chunks
    // counts cannot see. Same capped-posting shape as q35 (df ≤ 64
    // guards template chunks; the cap is mirrored in the oracle),
    // nested codegen explodes for the match pairs, two integer-keyed
    // aggregations after — nothing corpus-unbounded anywhere.
    QueryDef(
      "q113_aligned_dups",
      (s, d) => {
        val ch = chunks(Tables.parallel(s, d, "documents"))
          .select(col("doc_id"), col("chunk_idx"), col("chunk_fp"))
        val matches = ch.groupBy(col("chunk_fp"))
          .agg(sort_array(collect_list(struct(col("doc_id").as("id"),
            col("chunk_idx").as("ix")))).as("ds"))
          .filter(size(col("ds")).between(2, 64))
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("a", explode(col("ds")))
          .withColumn("b", explode(col("ds")))
          .filter(col("a.id") < col("b.id"))
          .select(col("a.id").as("da"), col("b.id").as("db"),
            (col("a.ix") - col("b.ix")).as("diag"))
        matches.groupBy(col("da"), col("db"), col("diag"))
          .agg(count(lit(1)).as("run"))
          .groupBy(col("da"), col("db"))
          .agg(max(col("run")).as("max_aligned_run"),
            sum(col("run")).as("shared_chunks"))
          .filter(col("max_aligned_run") >= 2)
      },
      Some(s"""WITH $chunksSql,
              |okc AS (SELECT chunk_fp FROM ch GROUP BY chunk_fp
              |        HAVING count(*) BETWEEN 2 AND 64),
              |m AS (SELECT a.doc_id AS da, b.doc_id AS db,
              |        a.chunk_idx - b.chunk_idx AS diag
              |      FROM ch a JOIN ch b ON a.chunk_fp = b.chunk_fp
              |        AND a.doc_id < b.doc_id
              |      JOIN okc ON okc.chunk_fp = a.chunk_fp),
              |r AS (SELECT da, db, diag, count(*) AS run
              |      FROM m GROUP BY 1, 2, 3)
              |SELECT da, db, CAST(max(run) AS BIGINT) AS max_aligned_run,
              |  CAST(sum(run) AS BIGINT) AS shared_chunks
              |FROM r GROUP BY 1, 2
              |HAVING max(run) >= 2""".stripMargin)),

    // ---- q128: token-budget waterfilling allocation ----------------------
    // Mixture planning under a hard token budget (here: half the
    // corpus): every source keeps its tokens up to a common cap C,
    // where C is the LARGEST integer with Σ_s min(n_s, C) ≤ B — the
    // waterfilling allocation that funds small sources fully and
    // levels the big ones, the dual of q89's temperature rates. The
    // solve is exact integer arithmetic on the |sources|-row
    // aggregate: rank sources ascending by n_s, and for each rank i
    // the candidate cap (B − cum_{i−1}) div (K−i+1) is valid iff the
    // previous source still fits fully and this one is capped —
    // exactly one candidate is valid when B < total (none when the
    // budget covers everything, in which case no cap applies). All
    // windows run over the |sources|-row table — value-domain-
    // bounded, never corpus rows; the corpus contributes one
    // partial-aggregated (source, Σ tokens) exchange. The div is
    // truncating on Spark and flooring (`//`)  on DuckDB, but every
    // VALID candidate has a non-negative numerator (prevN ≤ cap
    // forces cap ≥ 0), where the two semantics agree; invalid
    // negative candidates fail `prevN ≤ cap` under both.
    QueryDef(
      "q128_budget_waterfill",
      (s, d) => {
        val st = Tables(s, d, "documents")
          .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
          .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
        val b = st.agg(sum(col("n_tokens")).as("tot"))
          .select(expr("tot div 2").as("budget"))
        val w = Window.orderBy(col("n_tokens"), col("source"))
        val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        val cap = st.crossJoin(broadcast(b))
          .withColumn("i", row_number().over(w))
          .withColumn("cum", sum(col("n_tokens")).over(wCum))
          .withColumn("k", count(lit(1)).over(wAll))
          .withColumn("prevN", lag(col("n_tokens"), 1, 0L).over(w))
          .withColumn("cap", expr("(budget - (cum - n_tokens)) div (k - i + 1)"))
          .filter(col("cap") < col("n_tokens") && col("prevN") <= col("cap"))
          .agg(min(col("cap")).as("cap"))
        st.crossJoin(broadcast(cap))
          .select(col("source"), col("n_tokens"),
            least(col("n_tokens"),
              coalesce(col("cap"), col("n_tokens"))).as("alloc"),
            when(col("n_tokens") > coalesce(col("cap"), col("n_tokens")), 1)
              .otherwise(0).as("capped"))
      },
      Some("""WITH st AS (SELECT source,
             |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             |       FROM documents GROUP BY 1),
             |b AS (SELECT CAST(sum(n_tokens) AS BIGINT) // 2 AS budget FROM st),
             |r AS (SELECT source, n_tokens, budget,
             |        row_number() OVER (ORDER BY n_tokens, source) AS i,
             |        CAST(sum(n_tokens) OVER (ORDER BY n_tokens, source
             |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             |        CAST(count(*) OVER () AS BIGINT) AS k,
             |        CAST(coalesce(lag(n_tokens) OVER (ORDER BY n_tokens, source), 0)
             |          AS BIGINT) AS prevN
             |      FROM st CROSS JOIN b),
             |capt AS (SELECT min((budget - (cum - n_tokens)) // (k - i + 1)) AS cap
             |         FROM r
             |         WHERE (budget - (cum - n_tokens)) // (k - i + 1) < n_tokens
             |           AND prevN <= (budget - (cum - n_tokens)) // (k - i + 1))
             |SELECT source, n_tokens,
             |  least(n_tokens, coalesce(cap, n_tokens)) AS alloc,
             |  CASE WHEN n_tokens > coalesce(cap, n_tokens) THEN 1 ELSE 0 END
             |    AS capped
             |FROM st CROSS JOIN capt""".stripMargin)),

    // ---- q136: cluster-safe train/val/test split -------------------------
    // The FIX for what q114's leakage audit finds: split by the
    // near-dup CLUSTER, not the document. Every member of a q57
    // component hashes the component's canonical id, so a near-dup
    // pair can never straddle train/eval — by construction, not by
    // post-hoc filtering; unclustered docs hash their own id (the
    // q112 salted scheme, same 80/10/10 cut). Output is the per-split
    // doc/token report a data card needs. The components table joins
    // doc-keyed onto the corpus (left join — most docs are
    // unclustered and never touch the component subtree); everything
    // after is one (split) aggregate. The zero-leakage property is
    // asserted in spec against q35's pair set.
    QueryDef(
      "q136_cluster_safe_split",
      (s, d) =>
        clusterSafeAssignment(s, d)
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens")),
      Some(s"""WITH RECURSIVE ${graft.operators.Dedup.minhashPairsCtes},
              |sym AS (SELECT da AS a, db AS b FROM pairs
              |        UNION ALL SELECT db, da FROM pairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |),
              |compt AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a),
              |dd AS (SELECT doc_id,
              |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              |       FROM documents),
              |k AS (SELECT doc_id, n, coalesce(comp, doc_id) AS split_key
              |      FROM dd LEFT JOIN compt USING (doc_id)),
              |h AS (SELECT n,
              |        ('0x' || substr(md5('graft-split-' || split_key::VARCHAR), 1, 15))::BIGINT
              |          % 100 AS h
              |      FROM k),
              |sp AS (SELECT n, CASE WHEN h < 80 THEN 'train'
              |                      WHEN h < 90 THEN 'val'
              |                      ELSE 'test' END AS split
              |       FROM h)
              |SELECT split, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
              |FROM sp GROUP BY split""".stripMargin)),

    // ---- q141: curated-corpus materialization (the deliverable) ---------
    // The batch capstone that actually SHIPS a training corpus, all
    // cleaning stages composed in one plan: q107 normalization →
    // first-writer-wins exact dedup on the normalized fingerprint →
    // benchmark exclusion (src0 docs out, plus any doc sharing an
    // 8-gram with the src0 benchmark — q45's scheme over the shared
    // grams stream) → minimum-length quality floor → deterministic
    // md5-keyed split. Plan shape at 100 TB: one norm_fp exchange for
    // the keeper argmin, the gram stream's gid exchange with the
    // benchmark side broadcast (benchmark sets are small by
    // definition), a left-anti on doc_id, and a row-local split
    // projection — no window functions, no corpus-sized sort.
    QueryDef(
      "q141_corpus_rewrite",
      (s, d) => {
        val docs = Tables.parallel(s, d, "documents")
        val norm = docs.select(col("doc_id"), col("source"), col("lang"),
          trim(regexp_replace(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]", " "), " +", " ")).as("norm"))
          .select(col("doc_id"), col("source"), col("lang"),
            md5(col("norm")).as("norm_fp"),
            size(split(col("norm"), " ")).cast("long").as("n_tokens"))
        val keep = norm.groupBy(col("norm_fp"))
          .agg(min(col("doc_id")).as("doc_id"))
        val g = grams(docs)
        val bench = g.filter(col("source") === "src0")
          .select(col("gid")).distinct()
        val contaminated = g.filter(col("source") =!= "src0")
          .join(broadcast(bench), "gid").select(col("doc_id")).distinct()
        norm.join(keep, Seq("norm_fp", "doc_id"))
          .filter(col("source") =!= "src0")
          .join(contaminated, Seq("doc_id"), "left_anti")
          .filter(col("n_tokens") >= 20)
          .withColumn("h", expr(
            "pmod(md5long(concat('graft-rewrite-', cast(doc_id as string))), 100)"))
          .withColumn("split",
            when(col("h") < 80, "train")
              .when(col("h") < 90, "val").otherwise("test"))
          .select(col("doc_id"), col("source"), col("lang"), col("split"),
            col("n_tokens"), col("norm_fp"))
      },
      Some(s"""WITH $gramsSql,
              |bench AS (SELECT DISTINCT gid FROM g WHERE source = 'src0'),
              |cont AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gid)
              |         WHERE source <> 'src0'),
              |nrm AS (SELECT doc_id, source, lang,
              |          trim(regexp_replace(regexp_replace(lower(text),
              |            '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
              |        FROM documents),
              |nf AS (SELECT doc_id, source, lang, md5(norm) AS norm_fp,
              |         CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens
              |       FROM nrm),
              |keep AS (SELECT norm_fp, min(doc_id) AS doc_id
              |         FROM nf GROUP BY norm_fp),
              |base AS (SELECT nf.* FROM nf JOIN keep USING (norm_fp, doc_id)
              |         WHERE source <> 'src0' AND n_tokens >= 20
              |           AND doc_id NOT IN (SELECT doc_id FROM cont)),
              |h AS (SELECT *, ('0x' || substr(md5('graft-rewrite-'
              |        || doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS hh
              |      FROM base)
              |SELECT doc_id, source, lang,
              |  CASE WHEN hh < 80 THEN 'train' WHEN hh < 90 THEN 'val'
              |       ELSE 'test' END AS split,
              |  n_tokens, norm_fp
              |FROM h""".stripMargin)),

    // ---- q145: sequence-packing efficiency report -----------------------
    // What q54's greedy packing actually COSTS per source: bins used,
    // tokens packed, fill rate against the 512-token budget, and the
    // hottest bin (greedy cumsum bins overflow when a document
    // straddles the boundary — max_bin_tokens quantifies it). The
    // per-bin frame partial-aggregates down to |sources|·|bins| rows
    // before this |sources|-row rollup; nothing else moves.
    QueryDef(
      "q145_pack_efficiency",
      (s, d) => {
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        val bins = Tables(s, d, "documents")
          .withColumn("n", size(split(col("text"), " ")))
          .withColumn("bin", floor((sum(col("n")).over(w) - col("n")) / 512))
          .groupBy(col("source"), col("bin"))
          .agg(sum(col("n")).cast("long").as("tokens"))
        bins.groupBy(col("source"))
          .agg(count(lit(1)).as("n_bins"),
            sum(col("tokens")).cast("long").as("tokens"),
            max(col("tokens")).as("max_bin_tokens"))
          .withColumn("fill_rate",
            round(col("tokens") / (col("n_bins") * 512), 6))
      },
      Some("""WITH d AS (SELECT source, doc_id,
             |            CAST(len(string_split(text, ' ')) AS INTEGER) AS n
             |          FROM documents),
             |b AS (SELECT source, n,
             |        CAST((sum(n) OVER (PARTITION BY source ORDER BY doc_id
             |                           ROWS UNBOUNDED PRECEDING) - n) // 512
             |             AS BIGINT) AS bin
             |      FROM d),
             |bins AS (SELECT source, bin, CAST(sum(n) AS BIGINT) AS tokens
             |         FROM b GROUP BY 1, 2)
             |SELECT source, count(*) AS n_bins,
             |  CAST(sum(tokens) AS BIGINT) AS tokens,
             |  CAST(max(tokens) AS BIGINT) AS max_bin_tokens,
             |  round(CAST(sum(tokens) AS BIGINT)
             |        / (count(*) * 512), 6) AS fill_rate
             |FROM bins GROUP BY source""".stripMargin)),

    // ---- q147: source-pair n-gram similarity matrix ----------------------
    // Which sources are crawling the same content: gram-level Jaccard
    // for every source pair, through the inverted (gid → source set)
    // index — a gid's posting list is bounded by |sources| (~20), so
    // the pair expansion is at most C(20,2) per gid and the matrix is
    // C(|sources|,2) rows. The corpus crosses one gid exchange; the
    // per-source totals broadcast back onto the 190-row frame.
    QueryDef(
      "q147_source_gram_matrix",
      (s, d) => {
        val g = grams(Tables.parallel(s, d, "documents"))
          .select(col("gid"), col("source")).distinct()
          .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val totals = g.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val inter = g.join(g.select(col("gid"), col("source").as("sb")), "gid")
          .filter(col("source") < col("sb"))
          .groupBy(col("source"), col("sb"))
          .agg(count(lit(1)).as("n_shared"))
        inter
          .join(broadcast(totals.withColumnRenamed("n", "na")), "source")
          .join(broadcast(totals.select(col("source").as("sb"),
            col("n").as("nb"))), "sb")
          .select(col("source").as("sa"), col("sb"), col("n_shared"),
            round(col("n_shared") / (col("na") + col("nb") - col("n_shared")), 6)
              .as("jac"))
      },
      Some(s"""WITH $gramsSql,
              |gs AS (SELECT DISTINCT gid, source FROM g),
              |tot AS (SELECT source, count(*) AS n FROM gs GROUP BY 1),
              |i AS (SELECT a.source AS sa, b.source AS sb, count(*) AS n_shared
              |      FROM gs a JOIN gs b
              |        ON a.gid = b.gid AND a.source < b.source
              |      GROUP BY 1, 2)
              |SELECT sa, sb, n_shared,
              |  round(n_shared / (ta.n + tb.n - n_shared), 6) AS jac
              |FROM i JOIN tot ta ON ta.source = sa
              |JOIN tot tb ON tb.source = sb""".stripMargin)),

    // ---- q158: thresholded contamination fraction ----------------------
    // q45 flags ANY benchmark 8-gram hit; the rule production
    // pipelines actually ship is fractional ("exclude if ≥ X% of the
    // doc's n-grams appear in the eval set" — the GPT-3/PaLM-style
    // tiering), which needs the per-doc denominator too. Plan shape:
    // the benchmark gid set stays broadcast (benchmarks are
    // fixed-size; the corpus is 100 TB) so the corpus-side gram
    // stream never shuffles against it; the hit flag rides a
    // broadcast LEFT join, then two doc-keyed exchanges — (doc_id,
    // gid) dedup, then the per-doc rollup — both partial-aggregated.
    // No Expand: a twin count-distinct (total grams + hit grams)
    // would double the gram stream; deduping once and summing a flag
    // keeps it linear. frac is ONE IEEE divide of two exact BIGINTs
    // (the q111 lesson), so the 0.05 tier threshold compares
    // identically cross-engine.
    QueryDef(
      "q158_contamination_frac",
      (s, d) => {
        val g = grams(Tables.parallel(s, d, "documents"))
        val bench = g.filter(col("source") === "src0")
          .select(col("gid")).distinct()
        g.filter(col("source") =!= "src0")
          .join(broadcast(bench.withColumn("hit", lit(1))), Seq("gid"), "left")
          .groupBy(col("doc_id"), col("gid"))
          .agg(max(coalesce(col("hit"), lit(0))).as("hit"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"), sum(col("hit")).as("n_hits"))
          .withColumn("frac",
            col("n_hits").cast("double") / col("n_grams").cast("double"))
          .withColumn("tier",
            when(col("frac") >= 0.05, "flag")
              .when(col("n_hits") > 0, "review")
              .otherwise("clean"))
      },
      Some(s"""WITH $gramsSql,
              |bench AS (SELECT DISTINCT gid FROM g WHERE source = 'src0'),
              |dg AS (SELECT doc_id, g.gid,
              |         max(CASE WHEN b.gid IS NULL THEN 0 ELSE 1 END) AS hit
              |       FROM g LEFT JOIN bench b ON g.gid = b.gid
              |       WHERE g.source <> 'src0' GROUP BY 1, 2),
              |a AS (SELECT doc_id, count(*) AS n_grams,
              |        CAST(sum(hit) AS BIGINT) AS n_hits
              |      FROM dg GROUP BY 1)
              |SELECT doc_id, n_grams, n_hits,
              |  CAST(n_hits AS DOUBLE) / CAST(n_grams AS DOUBLE) AS frac,
              |  CASE WHEN CAST(n_hits AS DOUBLE) / CAST(n_grams AS DOUBLE) >= 0.05
              |         THEN 'flag'
              |       WHEN n_hits > 0 THEN 'review' ELSE 'clean' END AS tier
              |FROM a""".stripMargin)),

    // ---- q159: corpus snapshot diff ------------------------------------
    // Data-versioning audit between two corpus snapshots: per
    // (source, status ∈ added/removed/changed/unchanged) doc and
    // token counts, decided by fingerprint comparison through a FULL
    // OUTER join on doc_id — the operator works for arbitrary
    // snapshot pairs (it never peeks at how the versions were made).
    // The two versions here are deterministic stand-ins carved from
    // the one test table (v1 drops doc_id%10=9, v2 drops %10=0 and
    // "edits" %7=3 by appending a token). At 100 TB both snapshots
    // are doc_id-bucketed tables, so the full-outer join is
    // exchange-free sort-merge; the rollup above it is
    // |sources|×4 rows. Content equality via md5long fingerprints,
    // never string compares of document bodies.
    QueryDef(
      "q159_snapshot_diff",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n"), col("text"))
        val v1 = docs.filter(expr("doc_id % 10 <> 9"))
          .select(col("doc_id"), col("source").as("src1"), col("n").as("n1"),
            expr("md5long(text)").as("fp1"))
        val v2 = docs.filter(expr("doc_id % 10 <> 0"))
          .select(col("doc_id"), col("source").as("src2"),
            (col("n") + when(expr("doc_id % 7 = 3"), 1).otherwise(0)).as("n2"),
            expr("md5long(case when doc_id % 7 = 3 then concat(text, ' v2') else text end)")
              .as("fp2"))
        v1.join(v2, Seq("doc_id"), "full_outer")
          .withColumn("status",
            when(col("fp1").isNull, "added")
              .when(col("fp2").isNull, "removed")
              .when(col("fp1") === col("fp2"), "unchanged")
              .otherwise("changed"))
          .groupBy(coalesce(col("src2"), col("src1")).as("source"), col("status"))
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("n2"), col("n1"))).as("n_tokens"))
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |            CAST(len(string_split(text, ' ')) AS BIGINT) AS n, text
             |          FROM documents),
             |v1 AS (SELECT doc_id, source AS src1, n AS n1,
             |         ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp1
             |       FROM d WHERE doc_id % 10 <> 9),
             |v2 AS (SELECT doc_id, source AS src2,
             |         n + (CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END) AS n2,
             |         ('0x' || substr(md5(CASE WHEN doc_id % 7 = 3
             |                                  THEN text || ' v2' ELSE text END),
             |                         1, 15))::BIGINT AS fp2
             |       FROM d WHERE doc_id % 10 <> 0),
             |j AS (SELECT coalesce(v2.src2, v1.src1) AS source,
             |        CASE WHEN fp1 IS NULL THEN 'added'
             |             WHEN fp2 IS NULL THEN 'removed'
             |             WHEN fp1 = fp2 THEN 'unchanged'
             |             ELSE 'changed' END AS status,
             |        coalesce(n2, n1) AS nt
             |      FROM v1 FULL OUTER JOIN v2 USING (doc_id))
             |SELECT source, status, count(*) AS n_docs,
             |  CAST(sum(nt) AS BIGINT) AS n_tokens
             |FROM j GROUP BY 1, 2""".stripMargin)),

    // ---- q160: deterministic shuffle-shard export manifest -------------
    // Training-data export wants the corpus in (pseudo)random order,
    // reproducibly — a global ORDER BY rand() is both a scale-killer
    // (single total order) and unreproducible under task retry. The
    // engine's shape: shard = md5(doc)%S, position = rank by a second
    // md5 within the shard. One exchange on shard (hash-uniform by
    // construction — no skew), then a shard-LOCAL sort that streams
    // through each reducer; S is thousands at 100 TB so no reducer
    // ever sees more than corpus/S rows, and any re-run reproduces
    // the identical permutation. The manifest (one row per shard)
    // carries an ORDER-SENSITIVE checksum Σ pos·(fp % 1000003), so
    // the oracle hash-match proves both engines agree on the full
    // permutation, not just the membership.
    QueryDef(
      "q160_shuffle_shards",
      (s, d) => {
        val w = Window.partitionBy(col("shard"))
          .orderBy(col("fp"), col("doc_id"))
        Tables(s, d, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n"))
          .withColumn("fp", expr("md5long(concat('shuf-', cast(doc_id as string)))"))
          .withColumn("shard", expr("fp % 16"))
          .withColumn("pos", row_number().over(w).cast("long"))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
            min(when(col("pos") === 1, col("doc_id"))).as("first_doc"),
            sum(col("pos") * (col("fp") % 1000003)).as("order_sum"))
      },
      Some("""WITH f AS (SELECT doc_id,
             |            CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             |            ('0x' || substr(md5('shuf-' || doc_id::VARCHAR), 1, 15))::BIGINT
             |              AS fp
             |          FROM documents),
             |r AS (SELECT doc_id, n, fp, fp % 16 AS shard,
             |        CAST(row_number() OVER (PARTITION BY fp % 16
             |                                ORDER BY fp, doc_id) AS BIGINT) AS pos
             |      FROM f)
             |SELECT shard, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
             |  min(CASE WHEN pos = 1 THEN doc_id END) AS first_doc,
             |  CAST(sum(pos * (fp % 1000003)) AS BIGINT) AS order_sum
             |FROM r GROUP BY shard""".stripMargin)),

    // ---- q163: equal-count curriculum range shards ---------------------
    // q160 exports the corpus in reproducible RANDOM order; curriculum
    // training wants the complement — contiguous RANGE shards in a
    // deterministic difficulty order (here: document length, the
    // canonical length-curriculum), each shard holding exactly its
    // ntile share of documents. The naive plan is `ntile(16) OVER
    // (ORDER BY len, doc_id)` — a single total order, i.e. the whole
    // corpus through one reducer. The engine instead reuses q88's
    // two-phase value-domain rank: (1) per-length counts (bounded by
    // the char-length DOMAIN, not the corpus) become cumulative
    // offsets under a tiny driver-side window, broadcast back;
    // (2) each length bucket ranks independently in parallel;
    // (3) rank → shard is pure integer arithmetic replicating ntile's
    // floor distribution (first N%S shards take one extra row), with
    // N a 1-row broadcast. One corpus exchange total (the per-length
    // window's). If one length ever dominated at 100 TB, the
    // within-length rank two-phases again on doc_id ranges — still
    // value-domain, still no total order. Oracle: the single-window
    // ntile DuckDB can afford at sf scale — identical by construction
    // because (len, doc_id) is a unique order key.
    QueryDef(
      "q163_curriculum_shards",
      (s, d) => {
        val S = 16
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("len"))
        val wOff = Window.orderBy(col("len"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = docs.groupBy(col("len")).agg(count(lit(1)).as("bn"))
          .withColumn("off", coalesce(sum(col("bn")).over(wOff), lit(0L)))
          .select(col("len"), col("off"))
        val n = docs.agg(count(lit(1)).as("n_total"))
        val wIn = Window.partitionBy(col("len")).orderBy(col("doc_id"))
        docs.join(broadcast(offs), "len")
          .withColumn("rk", col("off") + row_number().over(wIn))
          .crossJoin(broadcast(n))
          // ntile(S): q = N div S, r = N mod S; shards 1..r hold q+1
          // rows, shards r+1..S hold q. `when` guards the q=0 divide
          // (N < S ⇒ every rank lands in the first branch).
          .withColumn("shard", expr(
            s"""case when rk <= (n_total % $S) * ((n_total div $S) + 1)
               |     then (rk - 1) div ((n_total div $S) + 1) + 1
               |     else (n_total % $S)
               |          + (rk - (n_total % $S) * ((n_total div $S) + 1) - 1)
               |            div (n_total div $S) + 1 end""".stripMargin))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("len")).as("min_len"), max(col("len")).as("max_len"),
            sum(col("doc_id")).as("id_sum"),
            countDistinct(col("source")).as("n_sources"))
      },
      Some(s"""WITH r AS (SELECT doc_id, n_chars, source,
              |             CAST(ntile(16) OVER (ORDER BY n_chars, doc_id)
              |                  AS BIGINT) AS shard
              |           FROM documents)
              |SELECT shard, count(*) AS n_docs,
              |  CAST(min(n_chars) AS BIGINT) AS min_len,
              |  CAST(max(n_chars) AS BIGINT) AS max_len,
              |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
              |  count(DISTINCT source) AS n_sources
              |FROM r GROUP BY shard""".stripMargin)),

    // ---- q190: quality-classifier inference (hashing trick) ------------
    // The curation step q32/q66's heuristics approximate in real
    // pipelines is a trained linear classifier (fastText-style, the
    // CCNet recipe): hash every unigram+bigram into a fixed bucket
    // space (the hashing trick, Weinberger et al. 2009 — signed, so
    // collisions cancel in expectation), dot with a weight vector,
    // threshold. Model INFERENCE is the 100 TB-relevant part and it
    // is embarrassingly parallel — this plan has ZERO exchanges: the
    // feature array, the hash, and the dot product all run inside one
    // map stage via aggregate(); nothing is exploded, nothing
    // shuffles, the output is one row per input row. Weights are
    // integer milli-units derived deterministically from the bucket
    // id (a stand-in for a trained vector — the DATA PATH is what's
    // exercised; swap the formula for a broadcast lookup to serve a
    // real model), so the score is an exact BIGINT — no float-order
    // nondeterminism. keep ⇔ mean milli-weight > 50 (τ = 0.05),
    // spelled as the integer cross-multiply score·20 > n_feat.
    QueryDef(
      "q190_hash_classifier",
      (s, d) => withClfScore(
        Tables.parallel(s, d, "documents").select(col("doc_id"), col("text")),
        "text")
        .select(col("doc_id"), col("n_feat"),
          col("clf_score").as("score_milli"))
        .withColumn("keep", col("score_milli") * 20 > col("n_feat")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
             |              FROM documents),
             |fe AS (SELECT doc_id, u.term AS term
             |       FROM toks, UNNEST(t) AS u(term)
             |       UNION ALL
             |       SELECT doc_id, t[g.i] || ' ' || t[g.i + 1]
             |       FROM toks,
             |         UNNEST(generate_series(1, CAST(len(t) - 1 AS INTEGER)))
             |           AS g(i)
             |       WHERE len(t) >= 2),
             |sc AS (SELECT doc_id,
             |         CASE WHEN ('0x' || substr(md5('s#' || term), 1, 15))
             |                   ::BIGINT % 2 = 0
             |              THEN 1 ELSE -1 END
             |         * ((('0x' || substr(md5(term), 1, 15))::BIGINT % 1024)
             |            * 2654435761 % 2001 - 1000) AS c
             |       FROM fe)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feat,
             |  CAST(sum(c) AS BIGINT) AS score_milli,
             |  sum(c) * 20 > count(*) AS keep
             |FROM sc GROUP BY doc_id""".stripMargin)),

    // ---- q193: the same model served from a WEIGHT TABLE ---------------
    // q190 inlines the weights as arithmetic; a trained model ships as
    // a weight VECTOR — this is that serving shape: a 1024-row
    // (bucket, w_milli) table broadcast-joined to the exploded
    // feature stream, partial-aggregated per doc. ONE exchange total
    // (the doc_id agg — map-side combine runs in the scan stage right
    // after the broadcast join); the weight side never shuffles
    // anything. The oracle is IDENTICAL to q190's, so the hash gate
    // doubles as a proof that the two serving paths — fused
    // arithmetic and broadcast lookup — compute the same model.
    QueryDef(
      "q193_classifier_broadcast",
      (s, d) => clfScoreBroadcast(
        Tables.parallel(s, d, "documents").select(col("doc_id"), col("text")),
        "text", Seq("doc_id"))
        .select(col("doc_id"), col("n_feat"),
          col("clf_score").as("score_milli"))
        .withColumn("keep", col("score_milli") * 20 > col("n_feat")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
             |              FROM documents),
             |fe AS (SELECT doc_id, u.term AS term
             |       FROM toks, UNNEST(t) AS u(term)
             |       UNION ALL
             |       SELECT doc_id, t[g.i] || ' ' || t[g.i + 1]
             |       FROM toks,
             |         UNNEST(generate_series(1, CAST(len(t) - 1 AS INTEGER)))
             |           AS g(i)
             |       WHERE len(t) >= 2),
             |sc AS (SELECT doc_id,
             |         CASE WHEN ('0x' || substr(md5('s#' || term), 1, 15))
             |                   ::BIGINT % 2 = 0
             |              THEN 1 ELSE -1 END
             |         * ((('0x' || substr(md5(term), 1, 15))::BIGINT % 1024)
             |            * 2654435761 % 2001 - 1000) AS c
             |       FROM fe)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feat,
             |  CAST(sum(c) AS BIGINT) AS score_milli,
             |  sum(c) * 20 > count(*) AS keep
             |FROM sc GROUP BY doc_id""".stripMargin)),

    // ---- q208: classifier TRAINING in-engine (round 14) ----------------
    // The round-13 gate proved the serving seam; this trains the
    // weights it serves: 3 batch-perceptron steps over the signed
    // hashing-trick features, labels from the q32 quality floor (the
    // deterministic stand-in for a hand-labeled corpus), every step
    // folded into the `clf` DeltaStore family as a SUM-semantics
    // installment (perceptron updates are additive — readSum IS the
    // model, continued training appends installments, a crash-
    // replayed step is guard-refused). Integer-exact by construction:
    // the oracle replays all three steps in unrolled CTEs and the
    // hashes must match bit-for-bit — impossible with float gradients,
    // the reason this is a perceptron and not logistic regression.
    // Output: the dense 1024-bucket weight vector after step 3.
    QueryDef(
      "q208_clf_train",
      (s, d) => {
        val tbl = "q208_clf"
        graft.stores.DeltaStore.sweep(s,
          Seq(tbl, graft.stores.DeltaStore.wmTable(tbl)))
        writeClfStoreEmpty(s, tbl, 8)
        val docs = Tables.parallel(s, d, "documents")
          .select(col("doc_id"), col("text"))
        // features and labels pinned ONCE — each of the three steps
        // re-reads them (the q122 lesson: without the pin every step
        // re-tokenizes the corpus)
        val feats = clfFeatures(docs, "text", Seq("doc_id"))
          .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val labels = clfLabels(docs).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        (1L to 3L).foreach(t => trainClfStep(s, feats, labels, tbl, t))
        s.range(0, ClfBuckets, 1, 1).toDF("j")
          .join(readClfWeights(s, tbl), Seq("j"), "left")
          .select(col("j"), coalesce(col("w"), lit(0L)).as("w"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
             |              FROM documents),
             |fe AS (SELECT doc_id, u.term AS term
             |       FROM toks, UNNEST(t) AS u(term)
             |       UNION ALL
             |       SELECT doc_id, t[g.i] || ' ' || t[g.i + 1]
             |       FROM toks,
             |         UNNEST(generate_series(1, CAST(len(t) - 1 AS INTEGER)))
             |           AS g(i)
             |       WHERE len(t) >= 2),
             |f AS (SELECT doc_id,
             |        ('0x' || substr(md5(term), 1, 15))::BIGINT % 1024 AS j,
             |        CAST(sum(CASE WHEN ('0x' || substr(md5('s#' || term),
             |                 1, 15))::BIGINT % 2 = 0
             |                 THEN 1 ELSE -1 END) AS BIGINT) AS c
             |      FROM fe GROUP BY 1, 2),
             |lab AS (SELECT doc_id,
             |          CASE WHEN round(least(1.0, len(t) / 100.0)
             |                 * (len(list_distinct(t)) / len(t)), 4) >= 0.3
             |               THEN 1 ELSE -1 END AS y
             |        FROM toks),
             |d1 AS (SELECT j, CAST(sum(y * c) AS BIGINT) AS w
             |       FROM f JOIN lab USING (doc_id) GROUP BY j),
             |m2 AS (SELECT f.doc_id,
             |         CAST(sum(f.c * coalesce(d1.w, 0)) AS BIGINT) AS margin
             |       FROM f LEFT JOIN d1 USING (j) GROUP BY 1),
             |u2 AS (SELECT lab.doc_id, y FROM lab JOIN m2 USING (doc_id)
             |       WHERE y * margin <= 0),
             |d2 AS (SELECT j, CAST(sum(y * c) AS BIGINT) AS w
             |       FROM f JOIN u2 USING (doc_id) GROUP BY j),
             |w2 AS (SELECT j, CAST(sum(w) AS BIGINT) AS w FROM
             |       (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
             |       GROUP BY j),
             |m3 AS (SELECT f.doc_id,
             |         CAST(sum(f.c * coalesce(w2.w, 0)) AS BIGINT) AS margin
             |       FROM f LEFT JOIN w2 USING (j) GROUP BY 1),
             |u3 AS (SELECT lab.doc_id, y FROM lab JOIN m3 USING (doc_id)
             |       WHERE y * margin <= 0),
             |d3 AS (SELECT j, CAST(sum(y * c) AS BIGINT) AS w
             |       FROM f JOIN u3 USING (doc_id) GROUP BY j),
             |w3 AS (SELECT j, CAST(sum(w) AS BIGINT) AS w FROM
             |       (SELECT * FROM w2 UNION ALL SELECT * FROM d3)
             |       GROUP BY j)
             |SELECT g.j, coalesce(w3.w, 0) AS w
             |FROM range(0, 1024) AS g(j) LEFT JOIN w3 USING (j)"""
        .stripMargin)),

    // ---- q209: the trained model SERVED through the fused seam path ----
    // Closes the train→serve loop: the q208 weights (retrained here so
    // the oracle is self-contained) ride into [[withClfScore]] as the
    // dense array literal — the corpus-scoring side keeps the
    // zero-exchange fused shape even for a real model; keep flips to
    // the perceptron's natural margin > 0. The 1024-row weight collect
    // is the declared model-sized driver read.
    QueryDef(
      "q209_clf_trained_serve",
      (s, d) => {
        val docs = Tables.parallel(s, d, "documents")
          .select(col("doc_id"), col("text"))
        // no caller pin: trainPerceptron pins its inputs (round 17) —
        // a caller checkpoint here materialized the corpus-sized
        // feature frame TWICE (measured +0.95 s at sf0.1)
        val w = trainPerceptron(s, clfFeatures(docs, "text", Seq("doc_id")),
          clfLabels(docs), 3)
        val arr = Array.fill(ClfBuckets)(0L)
        w.collect().foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
        withClfScore(docs, "text", Some(arr))
          .select(col("doc_id"), col("n_feat"), col("clf_score"),
            (col("clf_score") > 0).as("keep"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
             |              FROM documents),
             |fe AS (SELECT doc_id, u.term AS term
             |       FROM toks, UNNEST(t) AS u(term)
             |       UNION ALL
             |       SELECT doc_id, t[g.i] || ' ' || t[g.i + 1]
             |       FROM toks,
             |         UNNEST(generate_series(1, CAST(len(t) - 1 AS INTEGER)))
             |           AS g(i)
             |       WHERE len(t) >= 2),
             |f AS (SELECT doc_id,
             |        ('0x' || substr(md5(term), 1, 15))::BIGINT % 1024 AS j,
             |        CAST(sum(CASE WHEN ('0x' || substr(md5('s#' || term),
             |                 1, 15))::BIGINT % 2 = 0
             |                 THEN 1 ELSE -1 END) AS BIGINT) AS c
             |      FROM fe GROUP BY 1, 2),
             |lab AS (SELECT doc_id,
             |          CASE WHEN round(least(1.0, len(t) / 100.0)
             |                 * (len(list_distinct(t)) / len(t)), 4) >= 0.3
             |               THEN 1 ELSE -1 END AS y
             |        FROM toks),
             |d1 AS (SELECT j, CAST(sum(y * c) AS BIGINT) AS w
             |       FROM f JOIN lab USING (doc_id) GROUP BY j),
             |m2 AS (SELECT f.doc_id,
             |         CAST(sum(f.c * coalesce(d1.w, 0)) AS BIGINT) AS margin
             |       FROM f LEFT JOIN d1 USING (j) GROUP BY 1),
             |u2 AS (SELECT lab.doc_id, y FROM lab JOIN m2 USING (doc_id)
             |       WHERE y * margin <= 0),
             |d2 AS (SELECT j, CAST(sum(y * c) AS BIGINT) AS w
             |       FROM f JOIN u2 USING (doc_id) GROUP BY j),
             |w2 AS (SELECT j, CAST(sum(w) AS BIGINT) AS w FROM
             |       (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
             |       GROUP BY j),
             |m3 AS (SELECT f.doc_id,
             |         CAST(sum(f.c * coalesce(w2.w, 0)) AS BIGINT) AS margin
             |       FROM f LEFT JOIN w2 USING (j) GROUP BY 1),
             |u3 AS (SELECT lab.doc_id, y FROM lab JOIN m3 USING (doc_id)
             |       WHERE y * margin <= 0),
             |d3 AS (SELECT j, CAST(sum(y * c) AS BIGINT) AS w
             |       FROM f JOIN u3 USING (doc_id) GROUP BY j),
             |w3 AS (SELECT j, CAST(sum(w) AS BIGINT) AS w FROM
             |       (SELECT * FROM w2 UNION ALL SELECT * FROM d3)
             |       GROUP BY j),
             |nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feat
             |       FROM fe GROUP BY 1),
             |sc AS (SELECT f.doc_id,
             |         CAST(sum(f.c * coalesce(w3.w, 0)) AS BIGINT)
             |           AS clf_score
             |       FROM f LEFT JOIN w3 USING (j) GROUP BY 1)
             |SELECT doc_id, n_feat, clf_score, clf_score > 0 AS keep
             |FROM nf JOIN sc USING (doc_id)""".stripMargin)),

    // ---- q210: HELD-OUT evaluation of the in-engine classifier ---------
    // Closes the quality loop q208/q209 left open (round-15 verdict
    // item 5): nothing before this measured whether the trained model
    // is any GOOD. Split the labeled corpus CLUSTER-safe (q136's
    // machinery — a near-dup pair can never straddle train/eval, so
    // the held-out numbers aren't inflated by leakage), train the
    // 3-step perceptron on the train split only, score the held-out
    // docs through the same fused path, and report the confusion
    // counts as exact integers (accuracy/precision/recall are ratios
    // of these — the counts are the replayable form). The oracle
    // replays the whole chain: the recursive-CTE components for the
    // split, then the q209 training unroll restricted to train-split
    // docs, then held-out scoring. Scale shape: the labeled corpus is
    // sample-sized (q208's contract); the split join is doc-keyed
    // against the memoized component table; evaluation is one
    // aggregate over the held-out fifth.
    QueryDef(
      "q210_clf_eval",
      (s, d) => {
        val docs = Tables.parallel(s, d, "documents")
          .select(col("doc_id"), col("text"))
        val assign = clusterSafeAssignment(s, d)
          .select(col("doc_id"), (col("split") === "train").as("is_train"))
          .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val labels = clfLabels(docs).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val trainIds = assign.filter(col("is_train")).select(col("doc_id"))
        // feats unpinned: its only consumer is the training join, and
        // trainPerceptron pins that (round 17) — a caller pin here
        // materialized the corpus-sized feature frame twice
        val w = trainPerceptron(s,
          clfFeatures(docs, "text", Seq("doc_id")).join(trainIds, "doc_id"),
          labels.join(trainIds, "doc_id"), 3)
        // the declared O(1024) model-sized driver read (q209's class)
        val arr = Array.fill(ClfBuckets)(0L)
        w.collect().foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
        withClfScore(docs, "text", Some(arr))
          .select(col("doc_id"), (col("clf_score") > 0).as("pred"))
          .join(assign.filter(not(col("is_train"))).select(col("doc_id")),
            "doc_id")
          .join(labels, "doc_id")
          .agg(
            count(lit(1)).as("n_eval"),
            sum(when(col("pred") && col("y") === 1L, 1L).otherwise(0L))
              .as("tp"),
            sum(when(col("pred") && col("y") === -1L, 1L).otherwise(0L))
              .as("fp"),
            sum(when(not(col("pred")) && col("y") === 1L, 1L).otherwise(0L))
              .as("fn"),
            sum(when(not(col("pred")) && col("y") === -1L, 1L).otherwise(0L))
              .as("tn"))
      },
      Some(s"""WITH RECURSIVE ${graft.operators.Dedup.minhashPairsCtes},
              |sym AS (SELECT da AS a, db AS b FROM pairs
              |        UNION ALL SELECT db, da FROM pairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |),
              |compt AS (SELECT a AS doc_id, min(b) AS comp
              |          FROM reach GROUP BY a),
              |spl AS (SELECT d.doc_id,
              |          ('0x' || substr(md5('graft-split-' ||
              |             coalesce(c.comp, d.doc_id)::VARCHAR), 1, 15))::BIGINT
              |            % 100 < 80 AS is_train
              |        FROM documents d LEFT JOIN compt c USING (doc_id)),
              |fe AS (SELECT doc_id, u.term AS term
              |       FROM toks, UNNEST(t) AS u(term)
              |       UNION ALL
              |       SELECT doc_id, t[g.i] || ' ' || t[g.i + 1]
              |       FROM toks,
              |         UNNEST(generate_series(1, CAST(len(t) - 1 AS INTEGER)))
              |           AS g(i)
              |       WHERE len(t) >= 2),
              |f AS (SELECT doc_id,
              |        ('0x' || substr(md5(term), 1, 15))::BIGINT % 1024 AS j,
              |        CAST(sum(CASE WHEN ('0x' || substr(md5('s#' || term),
              |                 1, 15))::BIGINT % 2 = 0
              |                 THEN 1 ELSE -1 END) AS BIGINT) AS c
              |      FROM fe GROUP BY 1, 2),
              |lab AS (SELECT doc_id,
              |          CASE WHEN round(least(1.0, len(t) / 100.0)
              |                 * (len(list_distinct(t)) / len(t)), 4) >= 0.3
              |               THEN 1 ELSE -1 END AS y
              |        FROM toks),
              |ftr AS (SELECT f.* FROM f JOIN spl USING (doc_id)
              |        WHERE is_train),
              |labtr AS (SELECT lab.* FROM lab JOIN spl USING (doc_id)
              |          WHERE is_train),
              |d1 AS (SELECT j, CAST(sum(y * c) AS BIGINT) AS w
              |       FROM ftr JOIN labtr USING (doc_id) GROUP BY j),
              |m2 AS (SELECT ftr.doc_id,
              |         CAST(sum(ftr.c * coalesce(d1.w, 0)) AS BIGINT)
              |           AS margin
              |       FROM ftr LEFT JOIN d1 USING (j) GROUP BY 1),
              |u2 AS (SELECT labtr.doc_id, y FROM labtr JOIN m2 USING (doc_id)
              |       WHERE y * margin <= 0),
              |d2 AS (SELECT j, CAST(sum(y * c) AS BIGINT) AS w
              |       FROM ftr JOIN u2 USING (doc_id) GROUP BY j),
              |w2 AS (SELECT j, CAST(sum(w) AS BIGINT) AS w FROM
              |       (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
              |       GROUP BY j),
              |m3 AS (SELECT ftr.doc_id,
              |         CAST(sum(ftr.c * coalesce(w2.w, 0)) AS BIGINT)
              |           AS margin
              |       FROM ftr LEFT JOIN w2 USING (j) GROUP BY 1),
              |u3 AS (SELECT labtr.doc_id, y FROM labtr JOIN m3 USING (doc_id)
              |       WHERE y * margin <= 0),
              |d3 AS (SELECT j, CAST(sum(y * c) AS BIGINT) AS w
              |       FROM ftr JOIN u3 USING (doc_id) GROUP BY j),
              |w3 AS (SELECT j, CAST(sum(w) AS BIGINT) AS w FROM
              |       (SELECT * FROM w2 UNION ALL SELECT * FROM d3)
              |       GROUP BY j),
              |sc AS (SELECT f.doc_id,
              |         CAST(sum(f.c * coalesce(w3.w, 0)) AS BIGINT)
              |           AS clf_score
              |       FROM f JOIN spl USING (doc_id)
              |       LEFT JOIN w3 USING (j)
              |       WHERE NOT is_train GROUP BY 1),
              |ev AS (SELECT sc.doc_id, clf_score > 0 AS pred, y
              |       FROM sc JOIN lab USING (doc_id))
              |SELECT CAST(count(*) AS BIGINT) AS n_eval,
              |  CAST(sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS tp,
              |  CAST(sum(CASE WHEN pred AND y = -1 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS fp,
              |  CAST(sum(CASE WHEN NOT pred AND y = 1 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS fn,
              |  CAST(sum(CASE WHEN NOT pred AND y = -1 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS tn
              |FROM ev""".stripMargin)),

    // ---- q211: balanced Rocchio head — the q210 finding, FIXED ---------
    // q210 measured the perceptron as a majority-class predictor
    // (0/6 held-out recall); this trains the model the diagnosis calls
    // for (see the round-15 block comment above [[clfFeaturesStruct]]):
    // structural features that carry the label's (n, nd) signal, a
    // closed-form balanced centroid direction (no oscillating batch
    // steps), and a train-optimal balanced threshold. Same cluster-safe
    // split and confusion-count output as q210, so the two rows read
    // side by side: recall 0/6 → 6/6, accuracy 0.947 (degenerate) →
    // 0.850 (real). Scale shape: training aggregates and the threshold
    // window run over the sample-sized labeled frame; the corpus side
    // is one broadcast-weights margin pass + a broadcast-scalar
    // threshold compare — nothing all-pairs, nothing collected.
    QueryDef(
      "q211_clf_rocchio_eval",
      (s, d) => {
        val docs = Tables.parallel(s, d, "documents")
          .select(col("doc_id"), col("text"))
        val assign = clusterSafeAssignment(s, d)
          .select(col("doc_id"), (col("split") === "train").as("is_train"))
          .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val labels = clfLabels(docs).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val feats = clfFeaturesStruct(docs).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val trainIds = assign.filter(col("is_train")).select(col("doc_id"))
        val labTr = labels.join(trainIds, "doc_id")
        val w1 = rocchioDirection(feats.join(trainIds, "doc_id"),
          balancedClassWeights(labTr)).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val mAll = clfMargins(feats, w1).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val tau = balancedThreshold(labTr.join(mAll, "doc_id"))
        mAll.crossJoin(broadcast(tau.select(col("tau"))))
          .select(col("doc_id"), (col("margin") > col("tau")).as("pred"))
          .join(assign.filter(not(col("is_train"))).select(col("doc_id")),
            "doc_id")
          .join(labels, "doc_id")
          .agg(
            count(lit(1)).as("n_eval"),
            sum(when(col("pred") && col("y") === 1L, 1L).otherwise(0L))
              .as("tp"),
            sum(when(col("pred") && col("y") === -1L, 1L).otherwise(0L))
              .as("fp"),
            sum(when(not(col("pred")) && col("y") === 1L, 1L).otherwise(0L))
              .as("fn"),
            sum(when(not(col("pred")) && col("y") === -1L, 1L).otherwise(0L))
              .as("tn"))
      },
      Some(s"""WITH RECURSIVE ${graft.operators.Dedup.minhashPairsCtes},
              |sym AS (SELECT da AS a, db AS b FROM pairs
              |        UNION ALL SELECT db, da FROM pairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |),
              |compt AS (SELECT a AS doc_id, min(b) AS comp
              |          FROM reach GROUP BY a),
              |spl AS (SELECT d.doc_id,
              |          ('0x' || substr(md5('graft-split-' ||
              |             coalesce(c.comp, d.doc_id)::VARCHAR), 1, 15))::BIGINT
              |            % 100 < 80 AS is_train
              |        FROM documents d LEFT JOIN compt c USING (doc_id)),
              |fe AS (SELECT doc_id, u.term AS term
              |       FROM toks, UNNEST(t) AS u(term)
              |       UNION ALL
              |       SELECT doc_id, t[g.i] || ' ' || t[g.i + 1]
              |       FROM toks,
              |         UNNEST(generate_series(1, CAST(len(t) - 1 AS INTEGER)))
              |           AS g(i)
              |       WHERE len(t) >= 2),
              |f AS (SELECT doc_id,
              |        ('0x' || substr(md5(term), 1, 15))::BIGINT % 1021 AS j,
              |        CAST(sum(CASE WHEN ('0x' || substr(md5('s#' || term),
              |                 1, 15))::BIGINT % 2 = 0
              |                 THEN 1 ELSE -1 END) AS BIGINT) AS c
              |      FROM fe GROUP BY 1, 2
              |      UNION ALL
              |      SELECT doc_id, CAST(1021 AS BIGINT),
              |        CAST(1 AS BIGINT) FROM toks
              |      UNION ALL
              |      SELECT doc_id, CAST(1022 AS BIGINT),
              |        CAST(len(t) AS BIGINT) FROM toks
              |      UNION ALL
              |      SELECT doc_id, CAST(1023 AS BIGINT),
              |        CAST(len(list_distinct(t)) AS BIGINT) FROM toks),
              |lab AS (SELECT doc_id,
              |          CASE WHEN round(least(1.0, len(t) / 100.0)
              |                 * (len(list_distinct(t)) / len(t)), 4) >= 0.3
              |               THEN 1 ELSE -1 END AS y
              |        FROM toks),
              |labtr AS (SELECT lab.* FROM lab JOIN spl USING (doc_id)
              |          WHERE is_train),
              |cw AS (SELECT
              |         greatest(1, sum(CASE WHEN y = 1 THEN 1 ELSE 0 END))
              |           AS np,
              |         greatest(1, sum(CASE WHEN y = -1 THEN 1 ELSE 0 END))
              |           AS nn,
              |         sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS negtot
              |       FROM labtr),
              |w1 AS (SELECT j,
              |         CAST(sum(y * (CASE WHEN y = 1 THEN nn ELSE np END)
              |           * c) AS BIGINT) AS w
              |       FROM f JOIN labtr USING (doc_id) CROSS JOIN cw
              |       GROUP BY j),
              |m AS (SELECT f.doc_id,
              |        CAST(sum(f.c * coalesce(w1.w, 0)) AS BIGINT) AS margin
              |      FROM f LEFT JOIN w1 USING (j) GROUP BY 1),
              |mtr AS (SELECT m.doc_id, margin, y
              |        FROM m JOIN labtr USING (doc_id)),
              |cum AS (SELECT margin,
              |          sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)
              |            OVER (ORDER BY margin) AS cpos,
              |          sum(CASE WHEN y = -1 THEN 1 ELSE 0 END)
              |            OVER (ORDER BY margin) AS cneg
              |        FROM mtr),
              |cand AS (SELECT margin, max(cpos) AS cpos, max(cneg) AS cneg
              |         FROM cum GROUP BY margin),
              |tau AS (SELECT margin AS tau FROM cand CROSS JOIN cw
              |        ORDER BY nn * cpos + np * (negtot - cneg), margin
              |        LIMIT 1),
              |ev AS (SELECT m.doc_id, m.margin > tau AS pred, y
              |       FROM m JOIN spl USING (doc_id) CROSS JOIN tau
              |       JOIN lab USING (doc_id)
              |       WHERE NOT is_train)
              |SELECT CAST(count(*) AS BIGINT) AS n_eval,
              |  CAST(sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS tp,
              |  CAST(sum(CASE WHEN pred AND y = -1 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS fp,
              |  CAST(sum(CASE WHEN NOT pred AND y = 1 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS fn,
              |  CAST(sum(CASE WHEN NOT pred AND y = -1 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS tn
              |FROM ev""".stripMargin)),

    // ---- q213: q211's OPERATING CURVE around the balanced threshold ----
    // q211 reports one cell — the held-out confusion at the balanced
    // argmin τ. That cell says the recall collapse is fixed, but not
    // what the balanced cut TRADES: accuracy at τ is 0.850 vs the
    // degenerate 0.947, and whether that trade is a cliff or a gentle
    // curve is exactly what an operator tuning the cut needs to see.
    // This query reports the held-out confusion at the 9 candidate
    // cuts centered on τ (the 4 distinct train margins on each side —
    // candidate cuts ARE train margins, same as balancedThreshold's
    // argmin domain), each with its class-weighted TRAIN error next to
    // the HELD-OUT counts, so train-optimal vs held-out-optimal is
    // visible in one frame. All integer counts; the oracle replays the
    // same cumulative window, rank arithmetic, and confusion sums
    // bit-for-bit. Scale shape: identical to q211 up to the margin
    // frame (training aggregates over the sample-sized labeled frame,
    // one broadcast-weights margin pass over the corpus); the sweep
    // side is a ≤9-row broadcast fanout over the held-out margins
    // (9× a sample-sized aggregate, not 9 corpus passes), and the
    // monotone confusion structure (tp/fp fall, fn/tn rise with τ) is
    // pinned by TrainPrepSpec.
    QueryDef(
      "q213_clf_threshold_curve",
      (s, d) => {
        val docs = Tables.parallel(s, d, "documents")
          .select(col("doc_id"), col("text"))
        val assign = clusterSafeAssignment(s, d)
          .select(col("doc_id"), (col("split") === "train").as("is_train"))
          .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val labels = clfLabels(docs).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val feats = clfFeaturesStruct(docs).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val trainIds = assign.filter(col("is_train")).select(col("doc_id"))
        val labTr = labels.join(trainIds, "doc_id")
        val w1 = rocchioDirection(feats.join(trainIds, "doc_id"),
          balancedClassWeights(labTr)).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val mAll = clfMargins(feats, w1).localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        // rank candidates by tau; the balanced argmin's rank anchors a
        // ±4 window (rank distance, not margin distance — margins are
        // integer-exact but arbitrarily spaced)
        val cand = thresholdCandidates(labTr.join(mAll, "doc_id"))
        val ranked = cand.withColumn("rk",
          row_number().over(Window.orderBy(col("tau"))))
          .localCheckpoint(true).transform(graft.Jobs.adaptiveRead(_))
        val rk0 = ranked.orderBy(col("err"), col("tau")).limit(1)
          .select(col("rk").as("rk0"))
        val sweep = ranked.crossJoin(broadcast(rk0))
          .filter(abs(col("rk") - col("rk0")) <= 4)
          .select(col("tau"), col("err").as("train_err"))
        val evalM = mAll
          .join(assign.filter(not(col("is_train"))).select(col("doc_id")),
            "doc_id")
          .join(labels, "doc_id")
        evalM.crossJoin(broadcast(sweep))
          .withColumn("pred", col("margin") > col("tau"))
          .groupBy(col("tau"), col("train_err"))
          .agg(
            count(lit(1)).as("n_eval"),
            sum(when(col("pred") && col("y") === 1L, 1L).otherwise(0L))
              .as("tp"),
            sum(when(col("pred") && col("y") === -1L, 1L).otherwise(0L))
              .as("fp"),
            sum(when(not(col("pred")) && col("y") === 1L, 1L).otherwise(0L))
              .as("fn"),
            sum(when(not(col("pred")) && col("y") === -1L, 1L).otherwise(0L))
              .as("tn"))
      },
      Some(s"""WITH RECURSIVE ${graft.operators.Dedup.minhashPairsCtes},
              |sym AS (SELECT da AS a, db AS b FROM pairs
              |        UNION ALL SELECT db, da FROM pairs),
              |reach(a, b) AS (
              |  SELECT DISTINCT a, a FROM sym
              |  UNION
              |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
              |),
              |compt AS (SELECT a AS doc_id, min(b) AS comp
              |          FROM reach GROUP BY a),
              |spl AS (SELECT d.doc_id,
              |          ('0x' || substr(md5('graft-split-' ||
              |             coalesce(c.comp, d.doc_id)::VARCHAR), 1, 15))::BIGINT
              |            % 100 < 80 AS is_train
              |        FROM documents d LEFT JOIN compt c USING (doc_id)),
              |fe AS (SELECT doc_id, u.term AS term
              |       FROM toks, UNNEST(t) AS u(term)
              |       UNION ALL
              |       SELECT doc_id, t[g.i] || ' ' || t[g.i + 1]
              |       FROM toks,
              |         UNNEST(generate_series(1, CAST(len(t) - 1 AS INTEGER)))
              |           AS g(i)
              |       WHERE len(t) >= 2),
              |f AS (SELECT doc_id,
              |        ('0x' || substr(md5(term), 1, 15))::BIGINT % 1021 AS j,
              |        CAST(sum(CASE WHEN ('0x' || substr(md5('s#' || term),
              |                 1, 15))::BIGINT % 2 = 0
              |                 THEN 1 ELSE -1 END) AS BIGINT) AS c
              |      FROM fe GROUP BY 1, 2
              |      UNION ALL
              |      SELECT doc_id, CAST(1021 AS BIGINT),
              |        CAST(1 AS BIGINT) FROM toks
              |      UNION ALL
              |      SELECT doc_id, CAST(1022 AS BIGINT),
              |        CAST(len(t) AS BIGINT) FROM toks
              |      UNION ALL
              |      SELECT doc_id, CAST(1023 AS BIGINT),
              |        CAST(len(list_distinct(t)) AS BIGINT) FROM toks),
              |lab AS (SELECT doc_id,
              |          CASE WHEN round(least(1.0, len(t) / 100.0)
              |                 * (len(list_distinct(t)) / len(t)), 4) >= 0.3
              |               THEN 1 ELSE -1 END AS y
              |        FROM toks),
              |labtr AS (SELECT lab.* FROM lab JOIN spl USING (doc_id)
              |          WHERE is_train),
              |cw AS (SELECT
              |         greatest(1, sum(CASE WHEN y = 1 THEN 1 ELSE 0 END))
              |           AS np,
              |         greatest(1, sum(CASE WHEN y = -1 THEN 1 ELSE 0 END))
              |           AS nn,
              |         sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS negtot
              |       FROM labtr),
              |w1 AS (SELECT j,
              |         CAST(sum(y * (CASE WHEN y = 1 THEN nn ELSE np END)
              |           * c) AS BIGINT) AS w
              |       FROM f JOIN labtr USING (doc_id) CROSS JOIN cw
              |       GROUP BY j),
              |m AS (SELECT f.doc_id,
              |        CAST(sum(f.c * coalesce(w1.w, 0)) AS BIGINT) AS margin
              |      FROM f LEFT JOIN w1 USING (j) GROUP BY 1),
              |mtr AS (SELECT m.doc_id, margin, y
              |        FROM m JOIN labtr USING (doc_id)),
              |cum AS (SELECT margin,
              |          sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)
              |            OVER (ORDER BY margin) AS cpos,
              |          sum(CASE WHEN y = -1 THEN 1 ELSE 0 END)
              |            OVER (ORDER BY margin) AS cneg
              |        FROM mtr),
              |cand AS (SELECT margin AS tau,
              |           CAST(nn * max(cpos)
              |             + np * (negtot - max(cneg)) AS BIGINT) AS err
              |         FROM cum CROSS JOIN cw
              |         GROUP BY margin, nn, np, negtot),
              |rk AS (SELECT tau, err,
              |         row_number() OVER (ORDER BY tau) AS rk
              |       FROM cand),
              |rk0 AS (SELECT rk AS rk0 FROM rk ORDER BY err, tau LIMIT 1),
              |sweep AS (SELECT tau, err AS train_err
              |          FROM rk CROSS JOIN rk0
              |          WHERE abs(rk - rk0) <= 4),
              |evm AS (SELECT m.doc_id, margin, y
              |        FROM m JOIN spl USING (doc_id) JOIN lab USING (doc_id)
              |        WHERE NOT is_train)
              |SELECT tau, train_err,
              |  CAST(count(*) AS BIGINT) AS n_eval,
              |  CAST(sum(CASE WHEN margin > tau AND y = 1 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS tp,
              |  CAST(sum(CASE WHEN margin > tau AND y = -1 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS fp,
              |  CAST(sum(CASE WHEN margin <= tau AND y = 1 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS fn,
              |  CAST(sum(CASE WHEN margin <= tau AND y = -1 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS tn
              |FROM evm CROSS JOIN sweep
              |GROUP BY tau, train_err""".stripMargin))
  )

  /** q136's per-document assignment — (doc_id, n, split) with every
    * q57 component member keyed on the component id (so near-dup
    * pairs cannot straddle splits; Round8OpsSpec proves it against
    * q35's pair set).
    */
  def clusterSafeAssignment(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .join(graft.operators.Dedup.components(s, d), Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("comp"), col("doc_id")))
      .withColumn("h",
        expr("pmod(md5long(concat('graft-split-', cast(split_key as string))), 100)"))
      .withColumn("split",
        when(col("h") < 80, "train")
          .when(col("h") < 90, "val").otherwise("test"))
      .select(col("doc_id"), col("n"), col("split"))
}
