package graft.operators

import graft.{QueryDef, Tables}
import graft.stores.DeltaStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (Array[Float]
  * vectors): brute-force cosine top-k as the correctness baseline and a
  * deterministic sign-random-projection LSH variant as the scale path.
  *
  * Dot products use `aggregate(zip_with(...))` — a strict left-to-right
  * fold, which DuckDB's `list_dot_product` matches bit-for-bit, so the
  * oracle compares exactly. All vectors are cast float→double (exact)
  * before arithmetic.
  *
  * Scale posture: brute force is O(|Q|·N·dim) — fine for |Q| small and
  * broadcastable; the LSH path buckets the corpus with 8 deterministic
  * hyperplanes (md5-derived coefficients, reproducible in SQL) so the
  * candidate join is an equi-join on the bucket id instead of a cross
  * join. At 100 TB you'd re-bucket with more planes + multiprobe; the
  * plumbing (bucket equi-join + within-bucket rerank) is the same.
  */
object Similarity {

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))

  private val cosSql =
    "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))"

  /** Native codegen'd expression ([[graft.functions.CosineSimilarity]]);
    * same left-to-right accumulation as DuckDB's list_dot_product, so
    * the oracle matches bit-for-bit.
    */
  private def cosSpark(s: SparkSession): String = {
    graft.functions.CosineSimilarity.register(s)
    "cosine_sim(qv, cv)"
  }

  /** Deterministic ±1 hyperplane coefficients: sign taken from the high
    * bit of the first hex digit of md5("<plane>-<dim>"). The 8×64
    * matrix is a compile-time-sized constant, so it is embedded as
    * LITERAL arrays on both engines — the per-vector bucket is then a
    * strict left-to-right fold in the scan projection
    * (`aggregate(zip_with(...))` == DuckDB `list_dot_product`,
    * bit-for-bit), with NO explode, NO plane join and NO aggregation
    * before the bucket equi-join. (The previous posexplode + plane
    * broadcast + double groupBy shaped N×64×8 intermediate rows and
    * two shuffles — measured ~3× slower at sf0.1.)
    */
  private def planeCoef(p: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p-$i".getBytes("UTF-8"))
    if ((d(0) & 0x80) != 0) 1.0 else -1.0
  }

  /** Signed projection of `v` onto plane `p`, as a strict
    * left-to-right fold (== DuckDB list_dot_product).
    */
  private def planeDot(v: Column, p: Int): Column = {
    val coefs = array((0 until 64).map(i => lit(planeCoef(p, i))): _*)
    aggregate(zip_with(v, coefs, (x, c) => x * c), lit(0.0), (a, x) => a + x)
  }

  private def planeDotSql(v: String, p: Int): String = {
    val lst = (0 until 64).map(i =>
      if (planeCoef(p, i) > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    s"list_dot_product($v, $lst::DOUBLE[])"
  }

  /** `bucket` as a single codegen'd projection over the vector col. */
  private def bucketCol(v: Column): Column =
    (0 to 7).map { p =>
      when(planeDot(v, p) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def bucketSql(v: String): String =
    (0 to 7).map { p =>
      s"(CASE WHEN ${planeDotSql(v, p)} > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Full `nPlanes`-bit sign signature as one codegen'd projection
    * (bit p = sign of plane p); [[bucketCol]] is the 8-plane case.
    */
  private def sigCol(v: Column, nPlanes: Int): Column =
    (0 until nPlanes).map { p =>
      when(planeDot(v, p) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Band key for the banded (multi-table) LSH: band `b` uses planes
    * b·ppb … b·ppb+ppb−1 → a ppb-bit key. More planes per band is THE
    * scale knob: each added plane halves a random bucket's population
    * (≈4× fewer candidate pairs); bands buy the recall back.
    */
  private def bandKeySql(v: String, b: Int, ppb: Int): String =
    (0 until ppb).map { j =>
      s"CASE WHEN ${planeDotSql(v, b * ppb + j)} > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** All unordered within-group member pairs, generated in SALTED
    * chunk-pair blocks: members are split into K id-mod chunks and
    * each unordered chunk pair (c1 ≤ c2) becomes its own group, so one
    * group's C(n,2) combination explode fans out over K(K+1)/2
    * independent tasks — K is the knob that keeps per-task pair
    * blocks bounded as groups grow at 100 TB. Each pair lands in
    * exactly ONE chunk-pair group, so the salt introduces no
    * duplicates.
    *
    * Input: one row per group member with the group-key columns and a
    * struct column `m` whose first field `id` is a distinct
    * non-negative numeric id (first so `sort_array` orders lists by
    * it). Output: the key columns plus member structs `pa`, `pb` with
    * `pa.id < pb.id`.
    *
    * The grouped rows are few and tiny (member-id arrays) but their
    * EXPLODED output is the pair stream — a size AQE cannot see when
    * it coalesces the agg exchange down to one partition, so the
    * groups are spread explicitly (a shuffle of just the grouped
    * rows) and the explode stage actually uses the cluster.
    */
  private[graft] def saltedPairs(members: DataFrame, keys: Seq[String], K: Int): DataFrame = {
    val keyCols = keys.map(col)
    members
      .withColumn("c", pmod(col("m.id"), lit(K)))
      .withColumn("cc", explode(expr(
        s"transform(sequence(0, ${K - 1}), g -> " +
          "struct(least(g, c) AS c1, greatest(g, c) AS c2))")))
      .select(keyCols ++ Seq(col("cc.c1").as("c1"), col("cc.c2").as("c2"),
        col("c"), col("m")): _*)
      .groupBy(keyCols ++ Seq(col("c1"), col("c2")): _*)
      .agg(
        sort_array(collect_list(when(col("c") === col("c1"), col("m"))))
          .as("la"),
        sort_array(collect_list(when(
          col("c") === col("c2") && col("c1") =!= col("c2"), col("m"))))
          .as("lb"))
      .filter(
        (col("c1") === col("c2") && size(col("la")) >= 2) ||
          (col("c1") =!= col("c2") &&
            size(col("la")) >= 1 && size(col("lb")) >= 1))
      .repartition(members.sparkSession.sparkContext.defaultParallelism)
      // Pair explosion as two NESTED Generates, not one
      // flatten(transform(transform(...))): the higher-order-function
      // generator has no codegen path — it materializes each group's
      // whole C(n,2) block as ONE array through interpreted lambda
      // calls before explode can iterate it (measured: 26 s of q44's
      // 27 s on the skew corpus, and ~100 MB single allocations for
      // hot buckets). Stacked explodes stream each pair row through
      // WholeStageCodegen — the block never exists, and downstream
      // filters (first-colliding-band, the self-pair id order) reject
      // rows before anything materializes. Self-pair blocks
      // (c1 == c2) iterate la × la and keep the id-ordered half;
      // cross blocks iterate la × lb whole (disjoint chunks — each
      // pair appears exactly once either way).
      .select(keyCols ++ Seq(col("c1"), col("c2"), col("la"), col("lb")): _*)
      .withColumn("a", explode(col("la")))
      .withColumn("b", explode(when(col("c1") === col("c2"), col("la"))
        .otherwise(col("lb"))))
      .filter(col("c1") =!= col("c2") || col("a.id") < col("b.id"))
      .select(keyCols ++ Seq(
        when(col("a.id") < col("b.id"), col("a"))
          .otherwise(col("b")).as("pa"),
        when(col("a.id") < col("b.id"), col("b"))
          .otherwise(col("a")).as("pb")): _*)
  }

  /** Banded sign-LSH near-duplicate pairs with exact cosine rerank —
    * the parameterized core behind q44 (driver-scale defaults) and
    * q65 (100 TB knob settings). One pass computes the full
    * ppb·nBands-plane signature; band keys are ppb-bit slices of it;
    * candidates come from [[saltedPairs]] chunk-pair blocks (hot
    * near-identical clusters fan out over K(K+1)/2 tasks); cross-band
    * duplicates die in the codegen'd FIRST-colliding-band filter, so
    * the candidate stream never shuffles; the exact rerank joins
    * touch surviving pair ids only.
    */
  private[graft] def lshNearDup(s: SparkSession, d: String,
      ppb: Int, nBands: Int, K: Int, simMin: Double): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val e = emb(s, d)
    val w = 1L << ppb
    val bands = e
      .select(col("vec_id"), sigCol(col("v"), ppb * nBands).as("sig"))
      .select(col("vec_id"), col("sig"), explode(expr(
        s"transform(sequence(0, ${nBands - 1}), b -> " +
          s"struct(b AS band, shiftright(sig, $ppb * b) % $w AS bk))")).as("x"))
      .select(col("x.band").as("band"), col("x.bk").as("bk"),
        struct(col("vec_id").as("id"), col("sig").as("sg")).as("m"))
    val pairs = saltedPairs(bands, Seq("band", "bk"), K)
      .select(col("band"), col("pa.id").as("ia"), col("pa.sg").as("sa"),
        col("pb.id").as("ib"), col("pb.sg").as("sb"))
      // keep the pair only in its FIRST colliding band
      .filter((0 until nBands - 1).map(bp =>
        (col("band") <= bp) ||
          (shiftright(col("sa"), ppb * bp) % w =!=
            shiftright(col("sb"), ppb * bp) % w)).reduce(_ && _))
      .select(col("ia"), col("ib"))
    pairs
      .join(e.select(col("vec_id").as("ia"), col("v").as("qv")), "ia")
      .join(e.select(col("vec_id").as("ib"), col("v").as("cv")), "ib")
      .withColumn("sim", expr("cosine_sim(qv, cv)"))
      .filter(col("sim") >= simMin)
      .select(col("ia").as("a_id"), col("ib").as("b_id"),
        round(col("sim"), 4).as("sim"))
  }

  /** DuckDB mirror of [[lshNearDup]]: the DISTINCT-over-self-join
    * formulation over the same generated plane family — identical
    * result set, so the hash check stays exact at any (ppb, nBands).
    */
  private def lshNearDupSql(ppb: Int, nBands: Int, simMin: String): String = {
    val bandArms = (0 until nBands).map(b =>
      s"SELECT vec_id, $b AS band, ${bandKeySql("v", b, ppb)} AS bk FROM e")
      .mkString("\n UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |bands AS ($bandArms),
       |cands AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
       |          FROM bands a JOIN bands b
       |            ON a.band = b.band AND a.bk = b.bk AND a.vec_id < b.vec_id),
       |sims AS (SELECT ia, ib,
       |           list_dot_product(ea.v, eb.v) /
       |             (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS sim
       |         FROM cands JOIN e ea ON ea.vec_id = ia JOIN e eb ON eb.vec_id = ib)
       |SELECT ia AS a_id, ib AS b_id, round(sim, 4) AS sim
       |FROM sims WHERE sim >= $simMin""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    // ---- q40: brute-force cosine top-1 for 10 query vectors ------------
    // Scale shape: the CORPUS is the streamed (big) side and the 10
    // queries are the broadcast side — the corpus is never collected
    // to one place, scoring is embarrassingly parallel, and the
    // per-query top-1 is an aggregation, so partial aggregation
    // reduces every partition to ≤|Q| rows before the single |Q|-key
    // shuffle (vs. a row_number window shuffling all N×|Q| scored
    // rows). The argmax is max(struct(sim, -c_id, c_id)) — exact and
    // deterministic under ties (lowest c_id wins, same as the oracle's
    // ORDER BY sim DESC, c_id). The struct buffer costs a SortAggregate
    // (sort on the |Q|-key grouping column — linear-ish, trivially
    // cheap next to the dim-64 dot products); if the corpus is known
    // tie-free, max_by(c_id, sim) restores HashAggregate.
    QueryDef(
      "q40_knn_brute",
      (s, d) => {
        val e = emb(s, d)
        val qs = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val cands = e.select(col("vec_id").as("c_id"), col("v").as("cv"))
        val sims = cands.join(broadcast(qs), col("c_id") =!= col("q_id"))
          .withColumn("sim", expr(cosSpark(s)))
        sims.groupBy(col("q_id"))
          .agg(max(struct(col("sim"), (-col("c_id")).as("neg_id"),
            col("c_id").as("c_id"))).as("top"))
          .select(col("q_id"), col("top.c_id").as("nn_id"),
            round(col("top.sim"), 4).as("sim"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |qs AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
              |sims AS (SELECT q_id, vec_id AS c_id, v AS cv, qv FROM qs, e
              |         WHERE vec_id <> q_id),
              |scored AS (SELECT q_id, c_id, $cosSql AS sim FROM sims)
              |SELECT q_id, c_id AS nn_id, round(sim, 4) AS sim
              |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              |        ORDER BY sim DESC, c_id) AS rn FROM scored)
              |WHERE rn = 1""".stripMargin)),

    // ---- q41: per-label centroid (element-wise mean) -------------------
    QueryDef(
      "q41_centroid",
      (s, d) =>
        // posexplode of the cast expression INLINE (not of emb()'s
        // projected alias): exploding an alias lets the optimizer
        // infer size(v) > 0, substitute the alias, and push the
        // transform below the exchange for a second, serial
        // evaluation — same trap as the q35 shingle explode.
        Tables(s, d, "embeddings")
          .select(col("label"),
            posexplode(expr("transform(embedding, x -> cast(x as double))"))
              .as(Seq("pos", "val")))
          .groupBy(col("label"), col("pos"))
          .agg(round(graft.functions.Exact.sumFixed("val", 6) / count(lit(1)), 4)
            .as("v")),
      Some(s"""SELECT label, g.i - 1 AS pos,
              |  round(${graft.functions.Exact.sumFixedSql("embedding[g.i]::DOUBLE", 6)}
              |        / count(*), 4) AS v
              |FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
              |GROUP BY 1, 2""".stripMargin)),

    // ---- q43: IVF-bucketed approximate NN (trained centroids) ----------
    // Inverted-file index with k-means-TRAINED cells: 16 seeds (the
    // first 16 vectors) refined by two fixed Lloyd iterations, every
    // vector assigned to its nearest trained centroid, queries probe
    // the nprobe=2 nearest cells. The candidate set is an equi-join
    // on cell id — the IVF search shape used at billion-vector scale
    // (training would run on a sample offline there; here it runs on
    // the full corpus as two linear passes: broadcast cross-score +
    // packed-BIGINT argmax + posexplode partial-agg means — no
    // shuffle wider than 16×64 aggregate rows).
    //
    // Fully oracle-checked DESPITE the iterative training: centroid
    // component means use fixed-point sums (order-independent longs),
    // truncating integer division (both engines truncate toward
    // zero), and a 2^30 scale whose final divide is an exact FP op —
    // so the trained centroids are bit-identical in both engines and
    // every downstream cosine matches. Every centroid RANKING (Lloyd
    // assignment, final assignment, probe selection) — Spark and
    // oracle alike — orders by the one quantized key
    // floor(csim·2^52), so even two centroids whose cosines fall in
    // the same 2^-52 bin tie-break to the same cell in both engines
    // by construction (not merely with probability 1 − 2^-52).
    QueryDef(
      "q43_ivf_ann",
      (s, d) => {
        graft.functions.CosineSimilarity.register(s)
        val e = emb(s, d)
        // training/assignment bodies live in the factored IVF core
        // ([[crossScore]]/[[lloydStep]]/[[trainedCentroids]]) shared
        // with the persisted-store path — one Lloyd implementation,
        // bit-identical everywhere
        val cents0 = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cent_id"), col("v").as("cv"))
        // assign and probes both consume `scored`; pinning the 16-row
        // trained centroid frame keeps the two Lloyd iterations from
        // being re-derived per consumer. A same-session alternating
        // A/B had the pinned arm faster in all five rounds (median
        // 1.92 s vs 2.18 s, −12%); the results are identical either
        // way.
        val cents = trainedCentroids(e, cents0).localCheckpoint(true)
        val scored = crossScore(e, cents)
        // Cell assignment is the all-N path, so it must stay in
        // HashAggregate (numeric buffer) with partial aggregation — a
        // row_number window would full-sort-shuffle all N×16 scored
        // rows on vec_id. Argmax packed into one BIGINT:
        // floor(csim·2^52)·16 + (15 − cent_id). floor is monotone and
        // the 2^52 scaling is exact, so key order == (csim, −cent_id)
        // lexicographic down to 2^-52 absolute sim resolution — far
        // below the gap between distinct-centroid sims (deterministic
        // either way; lowest cent_id wins ties, same as the oracle).
        val assign = scored
          .groupBy(col("vec_id"))
          .agg(max(expr(
            "floor(csim * 4503599627370496d) * 16 + (15 - cent_id)")).as("k"))
          .select(col("vec_id"),
            (lit(15L) - pmod(col("k"), lit(16L))).as("cell"))
        // Probe selection runs on the 10 query rows only — the
        // row_number window is over 160 rows, negligible at any scale.
        // Ranked by the SAME floor(csim·2^52) key as the assignment
        // argmax (and as the oracle's ranked CTEs): every centroid
        // ranking in this query — both engines — goes through one
        // quantizer, so a pair of centroids landing in the same
        // 2^-52 bin tie-breaks identically by construction instead
        // of "with probability 1 − 2^-52".
        val wAssign = Window.partitionBy(col("vec_id"))
          .orderBy(expr("floor(csim * 4503599627370496d)").desc,
            col("cent_id").asc)
        val probes = scored.filter(col("vec_id") < 10)
          .withColumn("rn", row_number().over(wAssign))
          .filter(col("rn") <= 2)
          .select(col("vec_id").as("q_id"), col("cent_id").as("probe_cell"))
        val cands = probes
          .join(assign, col("probe_cell") === col("cell")
            && col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("c_id")).distinct()
        val withVecs = cands
          .join(e.select(col("vec_id").as("q_id"), col("v").as("qv")), "q_id")
          .join(e.select(col("vec_id").as("c_id"), col("v").as("cv")), "c_id")
          .withColumn("sim", expr("cosine_sim(qv, cv)"))
        val wTop = Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("c_id").asc)
        withVecs.withColumn("rn", row_number().over(wTop)).filter(col("rn") === 1)
          .select(col("q_id"), col("c_id").as("nn_id"), round(col("sim"), 4).as("sim"))
      },
      Some {
        // two unrolled Lloyd iterations as CTE chains; fixed-point
        // sums + truncating // keep the centroids bit-identical to
        // the Spark side
        val lloyd = (1 to 2).map { i =>
          val prev = s"c${i - 1}"
          s"""s$i AS (SELECT vec_id, v AS qv, cent_id, cv, $cosSql AS csim
             |        FROM e CROSS JOIN $prev),
             |a$i AS (SELECT vec_id, qv, cell FROM (
             |          SELECT vec_id, qv, cent_id AS cell, row_number() OVER
             |            (PARTITION BY vec_id
             |             ORDER BY floor(csim * 4503599627370496) DESC, cent_id) AS rn
             |          FROM s$i) WHERE rn = 1),
             |m$i AS (SELECT cell, g.i - 1 AS pos,
             |          sum(CAST(round(qv[g.i] * 1073741824) AS BIGINT)) AS sfx,
             |          count(*) AS n
             |        FROM a$i, UNNEST(generate_series(1, len(qv))) AS g(i)
             |        GROUP BY 1, 2),
             |c$i AS (SELECT cell AS cent_id,
             |          list((sfx // n) / 1073741824.0 ORDER BY pos) AS cv
             |        FROM m$i GROUP BY cell)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
           |$lloyd,
           |scored AS (SELECT vec_id, v AS qv, cent_id, cv,
           |             $cosSql AS csim
           |           FROM e CROSS JOIN c2),
           |ranked AS (SELECT vec_id, cent_id, row_number() OVER
           |             (PARTITION BY vec_id
           |              ORDER BY floor(csim * 4503599627370496) DESC, cent_id) AS rn
           |           FROM scored),
           |assign AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE rn = 1),
           |probes AS (SELECT vec_id AS q_id, cent_id AS probe_cell
           |           FROM ranked WHERE vec_id < 10 AND rn <= 2),
           |cands AS (SELECT DISTINCT q_id, a.vec_id AS c_id
           |          FROM probes JOIN assign a
           |            ON probe_cell = a.cell AND a.vec_id <> q_id),
           |sims AS (SELECT q_id, c_id,
           |           list_dot_product(eq.v, ec.v) /
           |             (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))) AS sim
           |         FROM cands
           |         JOIN e eq ON eq.vec_id = q_id
           |         JOIN e ec ON ec.vec_id = c_id)
           |SELECT q_id, c_id AS nn_id, round(sim, 4) AS sim
           |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
           |        ORDER BY sim DESC, c_id) AS rn FROM sims)
           |WHERE rn = 1""".stripMargin
      }),

    // ---- q42: LSH-bucketed approximate NN ------------------------------
    QueryDef(
      "q42_ann_lsh",
      (s, d) => {
        val e = emb(s, d)
        val withVec = e.select(col("vec_id"), bucketCol(col("v")).as("bucket"), col("v"))
        val qs = withVec.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("bucket").as("qb"), col("v").as("qv"))
        val cands = withVec
          .select(col("vec_id").as("c_id"), col("bucket").as("cb"), col("v").as("cv"))
        val sims = qs.join(cands, col("qb") === col("cb") && col("c_id") =!= col("q_id"))
          .withColumn("sim", expr(cosSpark(s)))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("c_id").asc)
        sims.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("q_id"), col("c_id").as("nn_id"),
            round(col("sim"), 4).as("sim"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |wv AS (SELECT vec_id, CAST(${bucketSql("v")} AS BIGINT) AS bucket, v
              |       FROM e),
              |qs AS (SELECT vec_id AS q_id, bucket AS qb, v AS qv FROM wv WHERE vec_id < 10),
              |sims AS (SELECT q_id, c.vec_id AS c_id, c.v AS cv, qv
              |         FROM qs JOIN wv c ON qb = c.bucket AND c.vec_id <> q_id),
              |scored AS (SELECT q_id, c_id, $cosSql AS sim FROM sims)
              |SELECT q_id, c_id AS nn_id, round(sim, 4) AS sim
              |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              |        ORDER BY sim DESC, c_id) AS rn FROM scored)
              |WHERE rn = 1""".stripMargin)),

    // ---- q44: embedding-cosine near-dup (banded LSH + exact rerank) ----
    // All-pairs near-duplicate detection WITHOUT the O(N²) cross join:
    // banded (multi-table) sign-LSH — 4 bands × 2 planes — generates
    // candidates per (band, 2-bit key) bucket via the same posting-
    // list combination explode as the MinHash dedup, then an exact
    // cosine rerank keeps pairs with sim ≥ 0.5 (the tested corpora
    // separate planted near-dups ≥ 0.5 from a ≤ 0.45 background).
    // Recall math: a pair at angle θ collides in one band with
    // p = (1 − θ/π)², any-of-4 bands = 1 − (1 − p)⁴ ≈ 90% at
    // sim 0.5 — at larger N you add planes per band (pair count drops
    // ~4× per plane) and more bands to buy recall back; the plumbing
    // is unchanged. Candidate generation is part of the operator's
    // semantics and the oracle replicates it exactly, so the result
    // hash-matches despite LSH being approximate by design.
    //
    // Execution shape (identical result set to the oracle's
    // DISTINCT-over-self-join, measured ~2× faster and strictly more
    // scalable):
    //  1. FIRST-COLLIDING-BAND dedup instead of a distinct(): each
    //     posting-list member carries its full 8-bit signature, and a
    //     pair is emitted only from the first band whose 2-bit keys
    //     match — every cross-band duplicate dies in a codegen'd
    //     bitwise filter, so the multi-million-row pair stream never
    //     shuffles (the old distinct() was a full exchange of every
    //     candidate pair, the largest dataset in the query).
    //  2. [[saltedPairs]] block pair generation (K=4): parallelism is
    //     bands × keys × chunk-pairs (160 here) instead of
    //     bands × keys (16).
    // Posting lists carry (id, signature) ONLY — shipping the vectors
    // in the lists and computing cosine inline at the explode was
    // measured SLOWER (every pair row copies two 64-double arrays
    // through the pipeline ≈ 2 GB of array writes); the broadcast
    // rerank joins touch just the surviving pair ids.
    QueryDef(
      "q44_embed_neardup",
      (s, d) => lshNearDup(s, d, ppb = 2, nBands = 4, K = 4, simMin = 0.5),
      Some(lshNearDupSql(ppb = 2, nBands = 4, simMin = "0.5"))),

    // ---- q65: the same operator at its 100 TB configuration ------------
    // q44's 2-bit band keys are correct for the driver corpus but
    // collapse at volume: random vectors spread over only 4 buckets
    // per band, so candidates grow ~n²/4 per band (measured on the
    // 20k-vector skew corpus: 136M candidate pairs, 147 s). This is
    // the SAME operator with the scale knobs turned: 6 planes per
    // band (64 buckets, ~4096× fewer random candidates), salt K=8
    // for hot near-identical clusters, rerank at sim ≥ 0.9 (the
    // near-dup regime where 4×6-plane recall is ~87%). Oracle is
    // generated from the same plane family, so the result still
    // hash-matches exactly.
    QueryDef(
      "q65_ann_scaled",
      (s, d) => lshNearDup(s, d, ppb = 6, nBands = 4, K = 8, simMin = 0.9),
      Some(lshNearDupSql(ppb = 6, nBands = 4, simMin = "0.9"))),

    // ---- q68: the ppb=6 band slicing verified on NON-empty output ------
    // q65's sim ≥ 0.9 rerank keeps zero pairs on the driver's random
    // corpus, which makes its oracle hash-check vacuous: a band-slice
    // arithmetic bug (the shiftright(sig, ppb·b) % 2^ppb key) would
    // pass correctness and only misbehave at scale. This is the SAME
    // 6-plane banding with the rerank dropped to sim ≥ 0.2, where the
    // candidate stream itself becomes the observable: ~8.4k candidate
    // pairs / ~1.1k surviving rows at sf0.01, each one a function of
    // the exact band keys both engines computed — so the wide-key
    // slicing is cross-engine-verified row by row, not just on the
    // empty set. (A planted-pair unit test, LshNearDupSpec, covers the
    // ≥ 0.9 regime q65 runs at.)
    QueryDef(
      "q68_lsh_bands",
      (s, d) => lshNearDup(s, d, ppb = 6, nBands = 4, K = 8, simMin = 0.2),
      Some(lshNearDupSql(ppb = 6, nBands = 4, simMin = "0.2"))),

    // ---- q53: semantic dedup (SemDeDup within LSH cells) ----------------
    // SemDeDup-style pruning (Abbas et al. 2023, arXiv:2303.09540):
    // cluster the corpus, and inside each cluster drop every vector
    // that has a sufficiently-similar lower-id representative. Cells
    // are the deterministic 8-plane sign-LSH buckets (no iterative
    // k-means in the oracle path), the within-cell pair explode is
    // the same posting-list combination as q44 — O(Σ cell²) bounded
    // by cell granularity, never the global N². The kill rule
    // ("∃ neighbor with smaller id and sim ≥ τ → drop, keeper =
    // smallest such id") is a plain aggregation over the pair stream,
    // so the whole operator is scan → bucket → pair explode → one
    // groupBy — each stage partial-aggregates. Output is the REMOVED
    // set (id, its keeper, their similarity); the kept corpus is the
    // anti-join of ids against it.
    QueryDef(
      "q53_semdedup",
      (s, d) => {
        graft.functions.CosineSimilarity.register(s)
        val e = emb(s, d)
        // 4-plane cells (16 buckets): coarse enough that a sim-0.4
        // pair collides with p = (1 - θ/π)⁴ ≈ 0.2 per cell — the
        // granularity/recall trade SemDeDup tunes via cluster count.
        val cellCol = (0 to 3).map { p =>
          when(planeDot(col("v"), p) > 0, lit(1L << p)).otherwise(lit(0L))
        }.reduce(_ + _)
        // the vector rides IN the pair struct (the q173 idiom), so
        // the exact rerank is a codegen'd filter on the pair stream —
        // no joins back to the corpus. On the skew corpus the hot
        // cell's ~2M candidate pairs previously shuffled through TWO
        // vec_id joins just to fetch their endpoints' vectors
        // (measured 4.6 s); carrying 64 doubles per member through
        // saltedPairs' chunk blocks costs ~256 KB per hot block and
        // deletes both joins (2.0 s).
        val cells = e.select(cellCol.as("cell"),
          struct(col("vec_id").as("id"), col("v")).as("m"))
        saltedPairs(cells, Seq("cell"), 4)
          .withColumn("sim", expr("cosine_sim(pa.v, pb.v)"))
          .filter(col("sim") >= 0.4)
          .groupBy(col("pb.id").as("vec_id"))
          .agg(min(col("pa.id")).as("keeper"),
            round(expr("min_by(sim, pa.id)"), 4).as("sim"))
      },
      Some {
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cells AS (SELECT vec_id, (CASE WHEN ${planeDotSql("v", 0)} > 0 THEN 1 ELSE 0 END + CASE WHEN ${planeDotSql("v", 1)} > 0 THEN 2 ELSE 0 END + CASE WHEN ${planeDotSql("v", 2)} > 0 THEN 4 ELSE 0 END + CASE WHEN ${planeDotSql("v", 3)} > 0 THEN 8 ELSE 0 END) AS cell FROM e),
           |pairs AS (SELECT a.vec_id AS ia, b.vec_id AS ib
           |          FROM cells a JOIN cells b
           |            ON a.cell = b.cell AND a.vec_id < b.vec_id),
           |sims AS (SELECT ia, ib,
           |           list_dot_product(ea.v, eb.v) /
           |             (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS sim
           |         FROM pairs JOIN e ea ON ea.vec_id = ia JOIN e eb ON eb.vec_id = ib)
           |SELECT ib AS vec_id, min(ia) AS keeper,
           |  round(arg_min(sim, ia), 4) AS sim
           |FROM sims WHERE sim >= 0.4 GROUP BY ib""".stripMargin
      }),

    // ---- q71: centroid-distance outlier pruning ------------------------
    // Embedding-space curation: the K vectors farthest (by cosine)
    // from the corpus centroid are the mislabeled/garbage candidates
    // a training pipeline drops or audits. Two linear passes: (1) the
    // global mean vector as a fixed-point element-wise aggregate
    // (order-independent integer sums, the q43 idiom, so both engines
    // compute the identical centroid), broadcast as one row; (2) a
    // scan-stage cosine per vector, with the global bottom-K via
    // TakeOrderedAndProject — per-partition top-K then a K-row merge
    // at the driver, never a full sort. Ranking uses the quantized
    // floor(sim·2^52) key with vec_id tiebreak on BOTH engines, so
    // selection at the K boundary is deterministic by construction.
    QueryDef(
      "q71_outlier",
      (s, d) => {
        graft.functions.CosineSimilarity.register(s)
        val e = emb(s, d)
        val F = 1073741824L // 2^30
        val mean = e
          .select(posexplode(expr(
            s"transform(v, x -> cast(round(x * ${F}d, 0) as bigint))"))
            .as(Seq("pos", "fx")))
          .groupBy(col("pos"))
          .agg(sum(col("fx")).as("sfx"), count(lit(1)).as("n"))
          .select(struct(col("pos"),
            (expr("sfx div n") / lit(F.toDouble)).as("cval")).as("pv"))
          .agg(sort_array(collect_list(col("pv"))).as("pvs"))
          .select(expr("transform(pvs, p -> p.cval)").as("cv"))
        e.select(col("vec_id"), col("v").as("qv"))
          .crossJoin(broadcast(mean))
          .withColumn("sim", expr("cosine_sim(qv, cv)"))
          .orderBy(expr("floor(sim * 4503599627370496d)").asc,
            col("vec_id").asc)
          .limit(25)
          .select(col("vec_id"), round(col("sim"), 4).as("sim"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |m0 AS (SELECT g.i - 1 AS pos,
              |         sum(CAST(round(v[g.i] * 1073741824) AS BIGINT)) AS sfx,
              |         count(*) AS n
              |       FROM e, UNNEST(generate_series(1, len(v))) AS g(i)
              |       GROUP BY 1),
              |c AS (SELECT list((sfx // n) / 1073741824.0 ORDER BY pos) AS cv FROM m0),
              |s AS (SELECT vec_id, v AS qv, cv,
              |        list_dot_product(v, cv) /
              |          (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS sim
              |      FROM e, c)
              |SELECT vec_id, round(sim, 4) AS sim FROM s
              |ORDER BY floor(sim * 4503599627370496), vec_id LIMIT 25""".stripMargin)),

    // ---- q72: product-quantization encode ------------------------------
    // PQ is how billion-vector indexes fit in memory: each 64-dim
    // vector becomes 8 codebook ids (one per 8-dim subspace), 8 bytes
    // instead of 256. Codebook here = the first 16 vectors' subslices
    // (a k-means codebook drops in via the q43 Lloyd idiom without
    // changing the encode plan). Encode shape at 100 TB: the 8×16
    // codebook broadcasts; each vector explodes into its 8 subslices
    // in the scan stage; the per-(vector, subspace) argmin is a
    // packed-BIGINT min in HashAggregate — floor(d2·2^50)·64 + code,
    // so partial aggregation reduces every partition before the one
    // doc-keyed exchange. Distances use the dot-product expansion
    // |a−b|² = a·a − 2 a·b + b·b with strict left-to-right folds so
    // DuckDB's list_dot_product reproduces every double bit-for-bit;
    // ranking quantizes to 2^-50 with lowest-code tiebreak on both
    // engines. Output is pure integers (vec_id, subspace, code) —
    // nothing for FP hashing to disagree on.
    QueryDef(
      "q72_pq",
      (s, d) => {
        graft.functions.SquaredDistance.register(s)
        val e = emb(s, d)
        val cb = pqSplit(e.filter(col("vec_id") < 16), "code")
          .withColumnRenamed("sv", "cbv")
        pqSplit(e, "vec_id")
          .join(broadcast(cb), "m")
          .withColumn("d2", pqD2)
          .groupBy(col("vec_id"), col("m"))
          .agg(min(expr(
            "floor(d2 * 1125899906842624d) * 64 + code")).as("k"))
          .select(col("vec_id"), col("m"), pmod(col("k"), lit(64L)).as("code"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cb AS (SELECT g.m AS m, vec_id AS code, v[g.m*8+1 : g.m*8+8] AS cbv
             |       FROM e, UNNEST(generate_series(0, 7)) AS g(m)
             |       WHERE vec_id < 16),
             |p AS (SELECT vec_id, g.m AS m, v[g.m*8+1 : g.m*8+8] AS sv
             |      FROM e, UNNEST(generate_series(0, 7)) AS g(m)),
             |s AS (SELECT vec_id, p.m, code,
             |        list_dot_product(sv, sv) - 2 * list_dot_product(sv, cbv)
             |          + list_dot_product(cbv, cbv) AS d2
             |      FROM p JOIN cb ON p.m = cb.m)
             |SELECT vec_id, m,
             |  CAST(((min(CAST(floor(d2 * 1125899906842624) AS BIGINT) * 64 + code)
             |         % 64) + 64) % 64 AS BIGINT) AS code
             |FROM s GROUP BY vec_id, m""".stripMargin)),

    // ---- q80: IVF-PQ ADC search (the billion-vector serving shape) -----
    // q43's inverted file and q72's PQ codes COMPOSED the way FAISS
    // IVFADC works (Jégou et al., "Product Quantization for Nearest
    // Neighbor Search", TPAMI 2011): queries probe the nprobe=2
    // nearest coarse cells, and candidates are ranked WITHOUT
    // touching their vectors — each query precomputes an 8×16
    // distance table (its subvector vs every codebook entry, 1280
    // tiny rows for 10 queries), and a candidate's asymmetric
    // distance is just 8 integer-keyed lookups summed. At 100 TB the
    // corpus-side index (cell + 8 codes ≈ 10 bytes/vector) is built
    // once and the per-query work never reads an embedding again —
    // that is the entire point of the architecture.
    //
    // Exactness: the distance table is fixed-point (round(d2·2^40) as
    // BIGINT — d2 itself is the same dot-expansion both engines fold
    // identically), so the ADC sum is an order-independent integer
    // and the per-query ranking orders by that exact integer with
    // candidate-id tiebreak: bit-identical across engines by
    // construction. Cells partition the corpus, so no (q, candidate)
    // pair can arrive twice — no DISTINCT needed on the probe join.
    QueryDef(
      "q80_ivfpq",
      (s, d) => ivfpqAdc(s, d)
        .select(col("q_id"), col("c_id"),
          round(col("afx") / lit(1099511627776d), 4).as("adc"), col("rn")),
      Some(s"""WITH $ivfpqCtes
              |SELECT q_id, c_id, round(afx / 1099511627776.0, 4) AS adc, rn
              |FROM r WHERE rn <= 3""".stripMargin)),

    // ---- q117: IVF-PQ recall@3 (closing the q80 eval loop) --------------
    // q90 measures the sign-LSH index; this measures q80's IVFADC —
    // how much of the EXACT cosine top-3 does the nprobe=2 +
    // 8×16-code compressed search return? Losses come from two
    // places the eval cannot separate but the sum of which is what
    // ships: candidates outside the probed cells, and ADC ranking
    // inverting near-ties. Ground truth reuses q90's two-stage
    // top-k (local (q_id, pid) pre-prune, then the global window on
    // ≤ 3·splits·|Q| survivors); the ADC side is q80's own subtree.
    // Output joins run at |Q|·k — driver scale.
    QueryDef(
      "q117_ivfpq_recall",
      (s, d) => {
        val adc3 = ivfpqAdc(s, d).select(col("q_id"), col("c_id"))
        val e = emb(s, d)
        val qs = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val scored = e.select(col("vec_id").as("c_id"), col("v").as("cv"))
          .join(broadcast(qs), col("c_id") =!= col("q_id"))
          .withColumn("sim", expr(cosSpark(s)))
        val wLocal = Window.partitionBy(col("q_id"), col("pid"))
          .orderBy(col("sim").desc, col("c_id").asc)
        val wTop = Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("c_id").asc)
        val gt = scored.withColumn("pid", spark_partition_id())
          .withColumn("lrn", row_number().over(wLocal)).filter(col("lrn") <= 3)
          .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 3)
          .select(col("q_id"), col("c_id"))
        gt.join(adc3.withColumn("h", lit(1)), Seq("q_id", "c_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(lit(1)).as("n_gt"),
            sum(coalesce(col("h"), lit(0))).as("n_hit"))
          .select(col("q_id"), col("n_gt"), col("n_hit"),
            round(col("n_hit") / col("n_gt"), 4).as("recall_at_3"))
      },
      Some(s"""WITH $ivfpqCtes,
              |adc3 AS (SELECT q_id, c_id FROM r WHERE rn <= 3),
              |qs2 AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
              |sc2 AS (SELECT q_id, c.vec_id AS c_id, $cosSql AS sim
              |        FROM qs2, (SELECT vec_id, v AS cv FROM e) c
              |        WHERE c.vec_id <> q_id),
              |gt AS (SELECT q_id, c_id FROM
              |         (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
              |            ORDER BY sim DESC, c_id) AS rn FROM sc2)
              |       WHERE rn <= 3),
              |j AS (SELECT gt.q_id, CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END AS h
              |      FROM gt LEFT JOIN adc3 a
              |        ON gt.q_id = a.q_id AND gt.c_id = a.c_id)
              |SELECT q_id, count(*) AS n_gt, CAST(sum(h) AS BIGINT) AS n_hit,
              |  round(CAST(sum(h) AS BIGINT) / count(*), 4) AS recall_at_3
              |FROM j GROUP BY q_id""".stripMargin)),

    // ---- q90: ANN recall@k evaluation (index quality measurement) -------
    // The operator that closes the ANN loop: measure q42's
    // single-table sign-LSH against exact brute-force ground truth —
    // recall@5 per query is what decides whether an index
    // configuration ships. Ground-truth top-5 avoids the 10-reducer
    // bottleneck of `row_number() OVER (PARTITION BY q_id)` on the
    // full N×|Q| scored stream: each scan partition first prunes to
    // its LOCAL top-5 per query (a window keyed by (q_id,
    // spark_partition_id()) — as many reducers as there are splits,
    // and provably lossless: every global top-5 row survives its own
    // partition's cut), then the global window ranks ≤ 5·splits·|Q|
    // survivors. The ANN side is bucket-limited and tiny by
    // construction. Final recall join runs on |Q|·k rows — driver
    // scale. The oracle computes both sides with the single-window
    // formulation DuckDB can afford; identical by construction since
    // (sim DESC, c_id) is a unique order both engines rank by.
    QueryDef(
      "q90_ann_recall",
      (s, d) => {
        val e = emb(s, d)
        val qs = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val scored = e.select(col("vec_id").as("c_id"), col("v").as("cv"))
          .join(broadcast(qs), col("c_id") =!= col("q_id"))
          .withColumn("sim", expr(cosSpark(s)))
        val wLocal = Window.partitionBy(col("q_id"), col("pid"))
          .orderBy(col("sim").desc, col("c_id").asc)
        val wTop = Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("c_id").asc)
        val gt = scored.withColumn("pid", spark_partition_id())
          .withColumn("lrn", row_number().over(wLocal)).filter(col("lrn") <= 5)
          .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 5)
          .select(col("q_id"), col("c_id"))
        val wv = e.select(col("vec_id"), bucketCol(col("v")).as("bucket"), col("v"))
        val qb = wv.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("bucket").as("qb"), col("v").as("qv"))
        val ann = wv
          .select(col("vec_id").as("c_id"), col("bucket").as("cb"), col("v").as("cv"))
          .join(broadcast(qb), col("qb") === col("cb") && col("c_id") =!= col("q_id"))
          .withColumn("sim", expr(cosSpark(s)))
          .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 5)
          .select(col("q_id"), col("c_id"))
        val annN = ann.groupBy(col("q_id")).agg(count(lit(1)).as("n_ann"))
        gt.join(ann.withColumn("h", lit(1)), Seq("q_id", "c_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(lit(1)).as("n_gt"),
            sum(coalesce(col("h"), lit(0))).as("n_hit"))
          .join(broadcast(annN), Seq("q_id"), "left")
          .select(col("q_id"), col("n_gt"), coalesce(col("n_ann"), lit(0L)).as("n_ann"),
            col("n_hit"), round(col("n_hit") / col("n_gt"), 4).as("recall_at_5"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |qs AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
              |scored AS (SELECT q_id, c.vec_id AS c_id, $cosSql AS sim
              |           FROM qs, (SELECT vec_id, v AS cv FROM e) c
              |           WHERE c.vec_id <> q_id),
              |gt AS (SELECT q_id, c_id FROM
              |         (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
              |            ORDER BY sim DESC, c_id) AS rn FROM scored)
              |       WHERE rn <= 5),
              |wv AS (SELECT vec_id, CAST(${bucketSql("v")} AS BIGINT) AS bucket, v
              |       FROM e),
              |qb AS (SELECT vec_id AS q_id, bucket AS qb, v AS qv FROM wv
              |       WHERE vec_id < 10),
              |asc2 AS (SELECT q_id, c.vec_id AS c_id, $cosSql AS sim
              |         FROM qb JOIN (SELECT vec_id, bucket, v AS cv FROM wv) c
              |           ON qb = c.bucket AND c.vec_id <> q_id),
              |ann AS (SELECT q_id, c_id FROM
              |          (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
              |             ORDER BY sim DESC, c_id) AS rn FROM asc2)
              |        WHERE rn <= 5),
              |an AS (SELECT q_id, count(*) AS n_ann FROM ann GROUP BY 1),
              |j AS (SELECT gt.q_id, CASE WHEN ann.c_id IS NOT NULL THEN 1 ELSE 0 END AS h
              |      FROM gt LEFT JOIN ann ON gt.q_id = ann.q_id AND gt.c_id = ann.c_id),
              |r AS (SELECT q_id, count(*) AS n_gt, CAST(sum(h) AS BIGINT) AS n_hit
              |      FROM j GROUP BY 1)
              |SELECT r.q_id, n_gt, coalesce(n_ann, 0) AS n_ann, n_hit,
              |  round(n_hit / n_gt, 4) AS recall_at_5
              |FROM r LEFT JOIN an ON r.q_id = an.q_id""".stripMargin)),

    // ---- q96: multi-probe LSH ANN --------------------------------------
    // Recall without more hash tables (Lv et al., "Multi-Probe LSH",
    // VLDB 2007): q42 probes only the query's own bucket, so a
    // neighbor on the far side of ONE hyperplane is invisible; here
    // each query also probes the 8 buckets at hamming distance 1
    // (its sign bit flipped per plane — the perturbations most
    // likely to hold a near neighbor). 9 probe keys per query
    // explode from the same 8-plane bucket q42 computes — the
    // corpus-side index is IDENTICAL (one bucket per vector, no
    // extra tables, no re-hash); only the tiny query side fans out.
    // Probe keys are distinct by construction, so no candidate
    // dedup is needed; exact cosine rerank + top-3 per query rides
    // the bucket-limited candidate slice.
    QueryDef(
      "q96_multiprobe_lsh",
      (s, d) => {
        val e = emb(s, d)
        val wv = e.select(col("vec_id"), bucketCol(col("v")).as("bucket"), col("v"))
        val qs = wv.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("bucket").as("qb"), col("v").as("qv"))
          .select(col("q_id"), col("qv"), explode(expr(
            "array(qb, qb ^ 1, qb ^ 2, qb ^ 4, qb ^ 8, qb ^ 16, qb ^ 32, qb ^ 64, qb ^ 128)"))
            .as("probe"))
        val cands = wv
          .select(col("vec_id").as("c_id"), col("bucket").as("cb"), col("v").as("cv"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("c_id").asc)
        cands.join(broadcast(qs),
            col("probe") === col("cb") && col("c_id") =!= col("q_id"))
          .withColumn("sim", expr(cosSpark(s)))
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
          .select(col("q_id"), col("c_id").as("nn_id"),
            round(col("sim"), 4).as("sim"), col("rn"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |wv AS (SELECT vec_id, CAST(${bucketSql("v")} AS BIGINT) AS bucket, v
              |       FROM e),
              |qs AS (SELECT vec_id AS q_id, v AS qv, u.probe
              |       FROM wv, UNNEST([bucket, xor(bucket, 1), xor(bucket, 2),
              |              xor(bucket, 4), xor(bucket, 8), xor(bucket, 16),
              |              xor(bucket, 32), xor(bucket, 64), xor(bucket, 128)])
              |         AS u(probe)
              |       WHERE vec_id < 10),
              |sims AS (SELECT q_id, c.vec_id AS c_id, c.v AS cv, qv
              |         FROM qs JOIN wv c ON probe = c.bucket AND c.vec_id <> q_id),
              |scored AS (SELECT q_id, c_id, $cosSql AS sim FROM sims)
              |SELECT q_id, c_id AS nn_id, round(sim, 4) AS sim,
              |  CAST(rn AS INTEGER) AS rn
              |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              |        ORDER BY sim DESC, c_id) AS rn FROM scored)
              |WHERE rn <= 3""".stripMargin)),

    // ---- q116: per-label embedding centroid drift ----------------------
    // Dataset monitoring for the embedding space: how far has each
    // label's centroid drifted from the corpus centroid? A label
    // whose centroid sits near cos=1 of the global mean adds little
    // signal; one far away marks a subpopulation (or a labeling
    // bug). The q71/q43 fixed-point idiom makes both centroids exact
    // cross-engine: elements quantize to round(x·2^30) BIGINTs whose
    // per-(label, pos) sums are order-independent integers; each
    // centroid element is then ONE IEEE divide sfx/(n·2^30) — no
    // integer floor/truncate division anywhere, so engine div
    // semantics never matter. Plan: one corpus-wide (label, pos)
    // partial-aggregated exchange (64·|labels| rows out); the global
    // centroid is an aggregate OF that aggregate; the 1-row global
    // vector broadcasts onto the |labels|-row table for the cosine.
    QueryDef(
      "q116_centroid_drift",
      (s, d) => {
        graft.functions.CosineSimilarity.register(s)
        val F = 1073741824L // 2^30
        val bl = emb(s, d)
          .select(col("label"), posexplode(expr(
            s"transform(v, x -> cast(round(x * ${F}d, 0) as bigint))"))
            .as(Seq("pos", "fx")))
          .groupBy(col("label"), col("pos"))
          .agg(sum(col("fx")).as("sfx"), count(lit(1)).as("n"))
        val lc = bl
          .select(col("label"), col("n"), struct(col("pos"),
            (col("sfx") / (col("n") * lit(F.toDouble))).as("cval")).as("pv"))
          .groupBy(col("label"))
          .agg(sort_array(collect_list(col("pv"))).as("pvs"),
            max(col("n")).as("n_vecs"))
          .select(col("label"), col("n_vecs"),
            expr("transform(pvs, p -> p.cval)").as("lv"))
        val gc = bl.groupBy(col("pos"))
          .agg(sum(col("sfx")).as("gsfx"), sum(col("n")).as("gn"))
          .select(struct(col("pos"),
            (col("gsfx") / (col("gn") * lit(F.toDouble))).as("cval")).as("pv"))
          .agg(sort_array(collect_list(col("pv"))).as("pvs"))
          .select(expr("transform(pvs, p -> p.cval)").as("gv"))
        lc.crossJoin(broadcast(gc))
          .select(col("label"), col("n_vecs"),
            round(expr("cosine_sim(lv, gv)"), 6).as("centroid_cos"))
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |fx AS (SELECT label, g.i - 1 AS pos,
             |         CAST(round(v[g.i] * 1073741824) AS BIGINT) AS fx
             |       FROM e, UNNEST(generate_series(1, len(v))) AS g(i)),
             |bl AS (SELECT label, pos, CAST(sum(fx) AS BIGINT) AS sfx,
             |         CAST(count(*) AS BIGINT) AS n
             |       FROM fx GROUP BY 1, 2),
             |lc AS (SELECT label,
             |         list(sfx / (n * 1073741824.0) ORDER BY pos) AS lv,
             |         max(n) AS n_vecs
             |       FROM bl GROUP BY label),
             |gp AS (SELECT pos, CAST(sum(sfx) AS BIGINT) AS gsfx,
             |         CAST(sum(n) AS BIGINT) AS gn
             |       FROM bl GROUP BY pos),
             |gc AS (SELECT list(gsfx / (gn * 1073741824.0) ORDER BY pos) AS gv
             |       FROM gp)
             |SELECT label, n_vecs,
             |  round(list_dot_product(lv, gv) /
             |    (sqrt(list_dot_product(lv, lv)) * sqrt(list_dot_product(gv, gv))), 6)
             |    AS centroid_cos
             |FROM lc, gc""".stripMargin)),

    // ---- q123: IVF cell-balance report -----------------------------------
    // The index-health check every IVF deployment runs before serving:
    // per-cell population and mean similarity-to-nearest-centroid over
    // the q80/q117 seed partitioning. Cell-size skew is THE failure
    // mode of IVF at scale — a cell holding 30% of the corpus makes
    // every probe of it a linear scan, and nprobe tuning is blind
    // without this table. Assignment is the q43/q80 packed-argmax
    // HashAggregate (the all-N path never touches a window); the
    // nearest-centroid similarity rides the same aggregate as
    // max(csim) — the true maximum, which by definition belongs to
    // the nearest centroid (if two centroids' cosines fall in the
    // same 2^-52 argmax bin the reported max is still THE max, an
    // identical double in both engines). Per-cell means go through
    // [[graft.functions.Exact.sumFixed]] on 1e-6-rounded terms, so
    // partial-aggregation order cannot change the result. Output is
    // 16 rows from one linear corpus pass — nothing here grows with N
    // except the scan.
    QueryDef(
      "q123_ivf_balance",
      (s, d) => {
        graft.functions.CosineSimilarity.register(s)
        val e = emb(s, d)
        val seeds = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cent_id"), col("v").as("cv"))
        val scored = e.select(col("vec_id"), col("v").as("qv"))
          .crossJoin(broadcast(seeds))
          .withColumn("csim", expr("cosine_sim(qv, cv)"))
        scored.groupBy(col("vec_id"))
          .agg(max(expr(
            "floor(csim * 4503599627370496d) * 16 + (15 - cent_id)")).as("k"),
            round(max(col("csim")), 6).as("b6"))
          .select((lit(15L) - pmod(col("k"), lit(16L))).as("cell"), col("b6"))
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n_vecs"),
            round(graft.functions.Exact.sumFixed("b6", 6) / count(lit(1)), 6)
              .as("mean_cos"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |seeds AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
              |scored AS (SELECT vec_id, v AS qv, cent_id, cv, $cosSql AS csim
              |           FROM e CROSS JOIN seeds),
              |a AS (SELECT vec_id,
              |        max(CAST(floor(csim * 4503599627370496) AS BIGINT) * 16
              |            + (15 - cent_id)) AS k,
              |        round(max(csim), 6) AS b6
              |      FROM scored GROUP BY vec_id),
              |c AS (SELECT 15 - ((k % 16) + 16) % 16 AS cell, b6 FROM a)
              |SELECT cell, count(*) AS n_vecs,
              |  round(${graft.functions.Exact.sumFixedSql("b6", 6)}
              |        / count(*), 6) AS mean_cos
              |FROM c GROUP BY cell""".stripMargin)),

    // ---- q124: PQ reconstruction-error report ----------------------------
    // The codebook-quality eval for q72/q80's product quantizer: per
    // subspace, the mean squared distance between each sub-vector and
    // its chosen (argmin) codeword, plus how many of the 64 codes the
    // corpus actually uses. High mean_err in one subspace means that
    // slice of the embedding is poorly covered (retrain or split it);
    // codes_used ≪ 64 means dead codewords — both numbers drive the
    // retrain-the-codebook decision a 100 TB ANN deployment makes
    // before re-encoding. The reconstruction error IS min(d2) over
    // the 64 codes (the same native l2sq expression as the encode —
    // codegen'd, not an interpreted HOF); the chosen code comes from
    // q80's quantized packed argmin, so both engines agree on ties.
    // One linear pass over the corpus-sized (vec, m) split against
    // the broadcast 16-row codebook, collapsing to 8 output rows.
    QueryDef(
      "q124_pq_error",
      (s, d) => {
        graft.functions.SquaredDistance.register(s)
        val e = emb(s, d)
        val cb = pqSplit(e.filter(col("vec_id") < 16), "code")
          .withColumnRenamed("sv", "cbv")
        pqSplit(e, "c_id")
          .join(broadcast(cb), "m")
          .withColumn("d2", pqD2)
          .groupBy(col("c_id"), col("m"))
          .agg(min(expr(
            "floor(d2 * 1125899906842624d) * 64 + code")).as("k"),
            round(min(col("d2")), 6).as("e6"))
          .select(col("m"), pmod(col("k"), lit(64L)).as("code"), col("e6"))
          .groupBy(col("m"))
          .agg(count(lit(1)).as("n_vecs"),
            countDistinct(col("code")).as("codes_used"),
            round(graft.functions.Exact.sumFixed("e6", 6) / count(lit(1)), 6)
              .as("mean_err"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cb AS (SELECT g.m AS m, vec_id AS code, v[g.m*8+1 : g.m*8+8] AS cbv
             |       FROM e, UNNEST(generate_series(0, 7)) AS g(m)
             |       WHERE vec_id < 16),
             |p AS (SELECT vec_id, g.m AS m, v[g.m*8+1 : g.m*8+8] AS sv
             |      FROM e, UNNEST(generate_series(0, 7)) AS g(m)),
             |sc AS (SELECT vec_id, p.m, code,
             |         list_dot_product(sv, sv) - 2 * list_dot_product(sv, cbv)
             |           + list_dot_product(cbv, cbv) AS d2
             |       FROM p JOIN cb ON p.m = cb.m),
             |a AS (SELECT vec_id, m,
             |        ((min(CAST(floor(d2 * 1125899906842624) AS BIGINT) * 64 + code)
             |          % 64) + 64) % 64 AS code,
             |        round(min(d2), 6) AS e6
             |      FROM sc GROUP BY vec_id, m)
             |SELECT m, count(*) AS n_vecs,
             |  CAST(count(DISTINCT code) AS BIGINT) AS codes_used,
             |  round((sum(CAST(round((e6) * 1000000) AS BIGINT)) / 1000000.0)
             |        / count(*), 6) AS mean_err
             |FROM a GROUP BY m""".stripMargin)),

    // ---- q130: IVF-PQ nprobe tuning curve --------------------------------
    // THE tuning artifact an IVF deployment is configured from:
    // recall@3 vs exact ground truth at nprobe ∈ {1, 2, 4} — where
    // the curve flattens is where probing more cells stops paying.
    // The curve need NOT be monotone: the candidate set only grows
    // with nprobe, but recall@k compares the fixed top-k ADC cut, and
    // extra cells bring quantization-error imposters that can push
    // true neighbors out of it — a dipping curve says the PQ
    // codebook, not the probe count, is the binding error (visible
    // on this corpus's random vectors; Round8OpsSpec documents it).
    // The whole sweep shares ONE corpus pass ([[ivfpqAdcSweep]]):
    // each candidate's cell is probed at exactly one rank, so the
    // nprobe=k candidate set is a `prn ≤ k` filter over the SAME
    // ADC aggregate, and only the per-query top-3 ranking (bounded
    // rows) re-runs per sweep point — at a billion vectors the sweep
    // costs the same scan as a single eval. Ground truth is q117's
    // exact cosine top-3 with the q90 partition-local pre-prune.
    QueryDef(
      "q130_probe_curve",
      (s, d) => {
        val sweep = ivfpqAdcSweep(s, d, Seq(1, 2, 4), 3)
          .select(col("nprobe"), col("q_id"), col("c_id"))
        val e = emb(s, d)
        val qs = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val scored = e.select(col("vec_id").as("c_id"), col("v").as("cv"))
          .join(broadcast(qs), col("c_id") =!= col("q_id"))
          .withColumn("sim", expr(cosSpark(s)))
        val wLocal = Window.partitionBy(col("q_id"), col("pid"))
          .orderBy(col("sim").desc, col("c_id").asc)
        val wTop = Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("c_id").asc)
        val gt = scored.withColumn("pid", spark_partition_id())
          .withColumn("lrn", row_number().over(wLocal)).filter(col("lrn") <= 3)
          .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 3)
          .select(col("q_id"), col("c_id"))
        gt.withColumn("nprobe", explode(array(Seq(1, 2, 4).map(lit(_)): _*)))
          .join(sweep.withColumn("h", lit(1)),
            Seq("nprobe", "q_id", "c_id"), "left")
          .groupBy(col("nprobe"))
          .agg(count(lit(1)).as("n_gt"),
            sum(coalesce(col("h"), lit(0))).as("n_hit"))
          .select(col("nprobe"), col("n_gt"), col("n_hit"),
            round(col("n_hit") / col("n_gt"), 4).as("recall_at_3"))
      },
      Some(s"""WITH ${ivfpqSweepCtes(Seq(1, 2, 4))},
              |adck AS (SELECT nprobe, q_id, c_id FROM rs WHERE rn <= 3),
              |qs2 AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
              |sc2 AS (SELECT q_id, c.vec_id AS c_id, $cosSql AS sim
              |        FROM qs2, (SELECT vec_id, v AS cv FROM e) c
              |        WHERE c.vec_id <> q_id),
              |gt AS (SELECT q_id, c_id FROM
              |         (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
              |            ORDER BY sim DESC, c_id) AS rn FROM sc2)
              |       WHERE rn <= 3),
              |g3 AS (SELECT np.nprobe, q_id, c_id
              |       FROM gt CROSS JOIN (VALUES (1), (2), (4)) np(nprobe)),
              |j AS (SELECT g3.nprobe, g3.q_id,
              |        CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END AS h
              |      FROM g3 LEFT JOIN adck a
              |        ON g3.nprobe = a.nprobe AND g3.q_id = a.q_id
              |          AND g3.c_id = a.c_id)
              |SELECT nprobe, count(*) AS n_gt, CAST(sum(h) AS BIGINT) AS n_hit,
              |  round(CAST(sum(h) AS BIGINT) / count(*), 4) AS recall_at_3
              |FROM j GROUP BY nprobe""".stripMargin)),

    // ---- q131: nearest-centroid label purity -----------------------------
    // Label-noise detection for the embedding table: classify every
    // vector to its nearest LABEL centroid (q116's exact fixed-point
    // centroids) and report per-label accuracy — a label whose
    // members mostly classify elsewhere is mislabeled, split, or
    // semantically empty. Per-label confusion is the geometric
    // sibling of q119's text-side confusion matrix. One corpus pass
    // against the broadcast |labels|-row centroid table; assignment
    // is the q43 packed-argmax in HashAggregate (labels < 16 fit the
    // same ×16 packing), ranked by the one quantized key
    // floor(csim·2^52) with lowest-label tiebreak on both engines.
    QueryDef(
      "q131_label_purity",
      (s, d) => {
        graft.functions.CosineSimilarity.register(s)
        val F = 1073741824L // 2^30
        val e = emb(s, d)
        val bl = e
          .select(col("label"), posexplode(expr(
            s"transform(v, x -> cast(round(x * ${F}d, 0) as bigint))"))
            .as(Seq("pos", "fx")))
          .groupBy(col("label"), col("pos"))
          .agg(sum(col("fx")).as("sfx"), count(lit(1)).as("n"))
        val lc = bl
          .select(col("label"), struct(col("pos"),
            (col("sfx") / (col("n") * lit(F.toDouble))).as("cval")).as("pv"))
          .groupBy(col("label"))
          .agg(sort_array(collect_list(col("pv"))).as("pvs"))
          .select(col("label").as("clabel"),
            expr("transform(pvs, p -> p.cval)").as("cv"))
        val assign = e.select(col("vec_id"), col("label"), col("v").as("qv"))
          .crossJoin(broadcast(lc))
          .withColumn("csim", expr("cosine_sim(qv, cv)"))
          .groupBy(col("vec_id"), col("label"))
          .agg(max(expr(
            "floor(csim * 4503599627370496d) * 16 + (15 - clabel)")).as("k"))
          .select(col("label"),
            (lit(15L) - pmod(col("k"), lit(16L))).as("guess"))
        assign.groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("label") === col("guess"), 1L).otherwise(0L))
              .as("n_correct"))
          .select(col("label"), col("n_vecs"), col("n_correct"),
            round(col("n_correct") / col("n_vecs"), 4).as("accuracy"))
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
              |          FROM embeddings),
              |fx AS (SELECT vec_id, label, g.i - 1 AS pos,
              |         CAST(round(v[g.i] * 1073741824) AS BIGINT) AS fx
              |       FROM e, UNNEST(generate_series(1, len(v))) AS g(i)),
              |bl AS (SELECT label, pos, CAST(sum(fx) AS BIGINT) AS sfx,
              |         CAST(count(*) AS BIGINT) AS n
              |       FROM fx GROUP BY 1, 2),
              |lc AS (SELECT label AS clabel,
              |         list(sfx / (n * 1073741824.0) ORDER BY pos) AS cv
              |       FROM bl GROUP BY label),
              |scored AS (SELECT vec_id, label, clabel,
              |             list_dot_product(qv, cv) /
              |               (sqrt(list_dot_product(qv, qv))
              |                * sqrt(list_dot_product(cv, cv))) AS csim
              |           FROM (SELECT vec_id, label, v AS qv FROM e)
              |           CROSS JOIN lc),
              |a AS (SELECT label,
              |        15 - ((max(CAST(floor(csim * 4503599627370496) AS BIGINT) * 16
              |                   + (15 - clabel)) % 16) + 16) % 16 AS guess
              |      FROM scored GROUP BY vec_id, label)
              |SELECT label, count(*) AS n_vecs,
              |  CAST(sum(CASE WHEN label = guess THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_correct,
              |  round(CAST(sum(CASE WHEN label = guess THEN 1 ELSE 0 END) AS BIGINT)
              |        / count(*), 4) AS accuracy
              |FROM a GROUP BY label""".stripMargin)),

    // ---- q154: incremental IVF assignment --------------------------------
    // The ANN twin of q142: vectors ≡ 2 (mod 5) play the ingest
    // batch, the rest the persisted corpus. Centroids train on the
    // STORE subset only (what writeIvfStore persisted), and the batch
    // is assigned through [[assignCells]] — exactly what streaming
    // AnnIngest runs per micro-batch. Because assignment is row-local
    // (each vector scores against the 16 broadcast centroids,
    // independent of every other vector), the incremental path is
    // exact by construction — THE property that makes IVF ingest
    // trivially incremental where LSH clustering needs the whole
    // refresh machinery. The oracle re-derives the store-trained
    // centroids with the fixed-point Lloyd chain and assigns the
    // batch relationally.
    QueryDef(
      "q154_ivf_incremental_assign",
      (s, d) => {
        val e = emb(s, d)
        val store = e.filter(col("vec_id") % 5 =!= 2)
          .select(col("vec_id"), col("v"))
        val batch = e.filter(col("vec_id") % 5 === 2)
          .select(col("vec_id"), col("v"))
        assignCells(batch, storeTrainedCents(store))
      },
      Some(s"""WITH $storeLloydSql
              |SELECT vec_id, cell FROM (
              |  SELECT vec_id, cent_id AS cell, row_number() OVER
              |    (PARTITION BY vec_id
              |     ORDER BY floor(csim * 4503599627370496) DESC, cent_id) AS rn
              |  FROM scored WHERE vec_id % 5 = 2)
              |WHERE rn = 1""".stripMargin)),

    // ---- q155: IVF search over the incrementally-extended index ----------
    // The serving claim behind AnnIngest: an index whose cells were
    // filled in two installments (store at build time, batch at
    // ingest) answers queries identically to an index built in one
    // shot — the union of the two row-local assignments IS the full
    // assignment. [[annSearch]] (the store path's serving operator:
    // broadcast probes, nprobe=2, exact rerank) runs over the
    // two-installment cell frame under the hash gate; the oracle
    // searches the one-shot index. Self-matches are excluded
    // (a query finding itself is not a neighbor).
    QueryDef(
      "q155_ivf_incremental_search",
      (s, d) => {
        val e = emb(s, d)
        val store = e.filter(col("vec_id") % 5 =!= 2)
          .select(col("vec_id"), col("v"))
        val batch = e.filter(col("vec_id") % 5 === 2)
          .select(col("vec_id"), col("v"))
        // 16 rows consumed by four subtrees (two assigns, probes,
        // rerank-side registration) — pin so training runs once
        val cents = storeTrainedCents(store).localCheckpoint(true)
        val cells = assignCells(store, cents)
          .union(assignCells(batch, cents))
          .join(e.select(col("vec_id"), col("v")), "vec_id")
        val queries = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v"))
        annSearch(queries, cents, cells, nprobe = 2, k = 1)
          .select(col("q_id"), col("nn_id"), col("sim"))
      },
      Some(s"""WITH $storeLloydSql,
              |ranked AS (SELECT vec_id, cent_id, row_number() OVER
              |             (PARTITION BY vec_id
              |              ORDER BY floor(csim * 4503599627370496) DESC, cent_id) AS rn
              |           FROM scored),
              |assign AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE rn = 1),
              |probes AS (SELECT vec_id AS q_id, cent_id AS probe_cell
              |           FROM ranked WHERE vec_id < 10 AND rn <= 2),
              |cands AS (SELECT DISTINCT q_id, a.vec_id AS c_id
              |          FROM probes JOIN assign a
              |            ON probe_cell = a.cell AND a.vec_id <> q_id),
              |sims AS (SELECT q_id, c_id,
              |           list_dot_product(eq.v, ec.v) /
              |             (sqrt(list_dot_product(eq.v, eq.v))
              |              * sqrt(list_dot_product(ec.v, ec.v))) AS sim
              |         FROM cands
              |         JOIN e eq ON eq.vec_id = q_id
              |         JOIN e ec ON ec.vec_id = c_id)
              |SELECT q_id, c_id AS nn_id, round(sim, 4) AS sim
              |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              |        ORDER BY sim DESC, c_id) AS rn FROM sims)
              |WHERE rn = 1""".stripMargin)),

    // ---- q161: IVF retrain churn ------------------------------------------
    // The decision report behind [[retrainIvfStore]]: if the store's
    // centroids (trained when the store was built — here, on the
    // store subset) were warm-started one Lloyd step over TODAY's
    // corpus (store ∪ ingested), which vectors would change cell? One
    // row per (old_cell, new_cell) transition, diagonal included, so
    // the report conserves the corpus and "no movement" is visible
    // rather than vacuous. This is q156's role for the ANN store:
    // dedup refresh has cluster churn, index refresh has cell churn —
    // the trigger metric that says when a re-layout is worth the
    // rewrite (q116's drift report says when to RETRAIN; this says
    // what a retrain would MOVE). Plan shape: both assignment passes
    // are broadcast cross-scores (no shuffle wider than 16×64 rows
    // beyond the per-vector argmax aggregates); the 16-row centroid
    // frames are localCheckpoint-pinned because FOUR subtrees consume
    // them here (train, step, two assigns) — the multi-consumer case
    // where the q43 single-consumer measurement flips. The oracle
    // re-derives the warm-start step relationally on the fixed-point
    // Lloyd chain, so the hash gate checks the full retrain
    // arithmetic, tie-breaks included.
    QueryDef(
      "q161_ivf_retrain_churn",
      (s, d) => {
        val e = emb(s, d).select(col("vec_id"), col("v"))
        val store = e.filter(col("vec_id") % 5 =!= 2)
        val cOld = storeTrainedCents(store).localCheckpoint(true)
        val cNew = lloydStep(e, cOld).localCheckpoint(true)
        assignCells(e, cOld).withColumnRenamed("cell", "old_cell")
          .join(assignCells(e, cNew).withColumnRenamed("cell", "new_cell"),
            "vec_id")
          .groupBy(col("old_cell"), col("new_cell"))
          .agg(count(lit(1)).as("n_vecs"))
      },
      Some(s"""WITH $storeLloydSql,
              |aold AS (SELECT vec_id, cent_id AS old_cell FROM (
              |           SELECT vec_id, cent_id, row_number() OVER
              |             (PARTITION BY vec_id
              |              ORDER BY floor(csim * 4503599627370496) DESC, cent_id) AS rn
              |           FROM scored) WHERE rn = 1),
              |m3 AS (SELECT a.old_cell AS cell, g.i - 1 AS pos,
              |         sum(CAST(round(e.v[g.i] * 1073741824) AS BIGINT)) AS sfx,
              |         count(*) AS n
              |       FROM aold a JOIN e ON e.vec_id = a.vec_id,
              |            UNNEST(generate_series(1, len(e.v))) AS g(i)
              |       GROUP BY 1, 2),
              |c3 AS (SELECT cell AS cent_id,
              |         list((sfx // n) / 1073741824.0 ORDER BY pos) AS cv
              |       FROM m3 GROUP BY cell),
              |s4 AS (SELECT vec_id, v AS qv, cent_id, cv, $cosSql AS csim
              |       FROM e CROSS JOIN c3),
              |anew AS (SELECT vec_id, cent_id AS new_cell FROM (
              |           SELECT vec_id, cent_id, row_number() OVER
              |             (PARTITION BY vec_id
              |              ORDER BY floor(csim * 4503599627370496) DESC, cent_id) AS rn
              |           FROM s4) WHERE rn = 1)
              |SELECT old_cell, new_cell, count(*) AS n_vecs
              |FROM aold JOIN anew USING (vec_id)
              |GROUP BY 1, 2""".stripMargin)),

    // ---- q177: ADC ranking from the PQ-CODED serving store ---------------
    // The round-10 verdict's serving-store gap closed: q80 computes
    // PQ codes in-flight from the embeddings; this query ranks from
    // the PERSISTED store shape — (vec_id, cell, pcode) where pcode
    // is all 8 PQ codes PACKED into one 48-bit BIGINT (~16 bytes/
    // vector on disk vs 512+ for the raw 64-double embedding, the
    // 100 TB point: the ranking side of the index is ~3% of corpus
    // bytes and the full vectors are touched only by the rerank
    // fetch). The vectors are provably absent from the ranking path:
    // the code frame is projected to the three store columns before
    // the search sees it. Ranking must equal q80's BIT-FOR-BIT —
    // same oracle — since unpack(pack(codes)) == codes and the ADC
    // sum is the same exact integer.
    QueryDef(
      "q177_pq_store_adc",
      (s, d) => {
        val e = emb(s, d)
        val seeds = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cent_id"), col("v").as("cv"))
        val cb = pqCodebook(e).localCheckpoint(true)
        // the serving-store projection: vec_id, cell, packed code —
        // NO vector column survives into the ranking path
        val codes = pqEncodePacked(e, cb)
          .join(assignCells(e, seeds), "vec_id")
          .select(col("vec_id"), col("cell"), col("pcode"))
        val queries = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v"))
        adcRank(queries, seeds, cb, codes, nprobe = 2, kAdc = 3)
          .select(col("q_id"), col("c_id"),
            round(col("afx") / lit(1099511627776d), 4).as("adc"), col("rn"))
      },
      Some(s"""WITH $ivfpqCtes
              |SELECT q_id, c_id, round(afx / 1099511627776.0, 4) AS adc, rn
              |FROM r WHERE rn <= 3""".stripMargin)),

    // ---- q178: end-to-end PQ serving — ADC candidates, exact rerank ------
    // The complete billion-vector serving path over the store pair:
    // ADC ranks kAdc=6 candidates per query READING ONLY the packed
    // code store (q177's path), then the full-vector store is
    // touched for exactly those |Q|·kAdc rows — a broadcast semi-
    // fetch, never a corpus scan — and the exact cosine rerank
    // returns top-3. The oracle reruns ADC admission relationally
    // (the q80 chain) and reranks with list_dot_product, so the
    // two-stage semantics (compressed admission, exact order) are
    // both under the hash gate.
    QueryDef(
      "q178_pq_serve",
      (s, d) => {
        val e = emb(s, d)
        val seeds = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cent_id"), col("v").as("cv"))
        val cb = pqCodebook(e).localCheckpoint(true)
        val codes = pqEncodePacked(e, cb)
          .join(assignCells(e, seeds), "vec_id")
          .select(col("vec_id"), col("cell"), col("pcode"))
        val queries = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v"))
        adcSearch(queries, seeds, cb, codes,
          e.select(col("vec_id"), col("v")), nprobe = 2, kAdc = 6, k = 3)
      },
      Some(s"""WITH $ivfpqCtes,
              |adc6 AS (SELECT q_id, c_id FROM r WHERE rn <= 6),
              |sims AS (SELECT q_id, c_id,
              |           list_dot_product(eq.v, ec.v) /
              |             (sqrt(list_dot_product(eq.v, eq.v))
              |              * sqrt(list_dot_product(ec.v, ec.v))) AS sim
              |         FROM adc6
              |         JOIN e eq ON eq.vec_id = q_id
              |         JOIN e ec ON ec.vec_id = c_id)
              |SELECT q_id, c_id AS nn_id, round(sim, 4) AS sim, rn AS rank
              |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
              |        ORDER BY sim DESC, c_id) AS INTEGER) AS rn FROM sims)
              |WHERE rn <= 3""".stripMargin))
  )


  // ======== IVF training/assignment core (q43's idiom, factored) ========
  // Shared by q43, the persistent IVF store (writeIvfStore) and the
  // incremental ingest path (q154/q155, streaming AnnIngest): one
  // fixed-point Lloyd implementation so the store, the batch
  // assignment and the oracle all run bit-identical centroids.

  private[graft] val FixedPoint = 1073741824L // 2^30

  /** Broadcast cross-score of every (vec_id, …, v) row against a
    * centroid frame (cent_id, cv): N×|cents| scored rows, NO shuffle
    * (the centroid frame broadcasts). Self-registers the native
    * cosine (idempotent) so store consumers work in fresh sessions
    * that never ran Tables() or loaded GraftExtensions.
    */
  private[graft] def crossScore(e: DataFrame, cents: DataFrame): DataFrame = {
    graft.functions.CosineSimilarity.register(e.sparkSession)
    e.select(col("vec_id"), col("v").as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("csim", expr("cosine_sim(qv, cv)"))
  }

  /** Nearest-centroid assignment: (vec_id, cell). The all-N path, so
    * it must stay in HashAggregate (numeric buffer) with partial
    * aggregation — a row_number window would full-sort-shuffle all
    * N×|cents| scored rows on vec_id. Argmax packed into one BIGINT:
    * floor(csim·2^52)·16 + (15 − cent_id); floor is monotone and the
    * 2^52 scaling exact, so key order == (csim, −cent_id)
    * lexicographic and ties break to the LOWEST cent_id — the same
    * quantizer every oracle ranking uses, so both engines tie-break
    * identically by construction. Requires cent_id ∈ [0, 16).
    */
  private[graft] def assignCells(e: DataFrame, cents: DataFrame): DataFrame =
    crossScore(e, cents)
      .groupBy(col("vec_id"))
      .agg(max(expr(
        "floor(csim * 4503599627370496d) * 16 + (15 - cent_id)")).as("k"))
      .select(col("vec_id"),
        (lit(15L) - pmod(col("k"), lit(16L))).as("cell"))

  /** One Lloyd step: [[assignCells]] + element-wise FIXED-POINT means
    * back into a ≤16-row centroid frame. Component means use
    * order-independent long sums, truncating integer division and a
    * 2^30 scale whose final divide is an exact FP op — so trained
    * centroids are bit-identical between Spark and the DuckDB oracle
    * regardless of partitioning (the property that lets iterative
    * k-means live under a hash-compare gate at all).
    */
  private[graft] def lloydStep(e: DataFrame, cents: DataFrame): DataFrame =
    assignCells(e, cents)
      .join(e, "vec_id")
      .select(col("cell"),
        posexplode(expr(
          s"transform(v, x -> cast(round(x * ${FixedPoint}d, 0) as bigint))"))
          .as(Seq("pos", "fx")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("fx")).as("sfx"), count(lit(1)).as("n"))
      .select(col("cell"),
        struct(col("pos"),
          (expr("sfx div n") / lit(FixedPoint.toDouble)).as("cval")).as("pv"))
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(col("pv"))).as("pvs"))
      .select(col("cell").as("cent_id"),
        expr("transform(pvs, p -> p.cval)").as("cv"))

  /** Two fixed Lloyd iterations from a seed frame — the q43 training
    * schedule. At 100 TB training runs on a SAMPLE offline (documented
    * on q43); the fixed iteration count is what keeps the result
    * oracle-checkable.
    */
  private[graft] def trainedCentroids(e: DataFrame, seeds: DataFrame): DataFrame =
    lloydStep(e, lloydStep(e, seeds))

  /** IVF top-k search over a cell-assigned corpus frame — the serving
    * path of the PERSISTED index ([[writeIvfStore]] + streaming
    * AnnIngest appends): score the query rows against the broadcast
    * centroids, probe the `nprobe` best cells, exact-cosine rerank
    * within the probed cells only.
    *
    * Scale shape: the probe frame is query-sized and BROADCASTS into
    * the join against the cell store, so (a) the corpus side never
    * shuffles, and (b) when `cells` is a cell-partitioned table scan,
    * dynamic partition pruning drops every unprobed cell's files at
    * the source — the IO contract that makes IVF sublinear
    * (AnnIngestSpec pins the DPP filter in the plan). The rerank
    * window partitions by q_id over candidate rows only.
    *
    * @param queries (q_id, v) query vectors
    * @param cells   (vec_id, cell, v) — the assigned corpus
    * @return (q_id, nn_id, sim, rank) with rank ≤ k per query
    */
  def annSearch(queries: DataFrame, cents: DataFrame, cells: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    val scored = crossScore(
      queries.select(col("q_id").as("vec_id"), col("v")), cents)
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(expr("floor(csim * 4503599627370496d)").desc,
        col("cent_id").asc)
    val probes = scored
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("qv"),
        col("cent_id").as("cell"))
    val cands = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", expr("cosine_sim(qv, v)"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    cands.withColumn("rn", row_number().over(wTop)).filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("nn_id"),
        round(col("sim"), 4).as("sim"), col("rn").as("rank"))
  }

  /** Persist the IVF index pair: a 16-row centroid table and the
    * corpus PARTITIONED BY CELL on disk — the disk twin of the dedup
    * band/component stores, and what makes [[annSearch]] + streaming
    * AnnIngest a complete incremental-ANN story: probes prune to the
    * probed cells' files (partition pruning, not bucketing — the cell
    * cardinality is 16, far below any useful bucket count, and probes
    * filter on equality), new vectors append into their cell's
    * directory without touching the rest, and centroids retrain only
    * at an out-of-band store refresh (roll the pair forward by
    * version, the [[Dedup.refreshStores]] convention).
    *
    * The in-cell rows are pre-shuffled by (cell, salt): `salt` spreads
    * each cell over `saltBuckets` write tasks, so a HOT cell (a
    * near-identical embedding block collapses into one cell) writes
    * through saltBuckets parallel tasks instead of serializing in one,
    * at the cost of at most saltBuckets files per cell directory. The
    * directory layout (and so partition pruning) is unchanged;
    * saltBuckets = 1 gives one file per cell. Size it to corpusRows /
    * (16 · targetRowsPerFile) at 100 TB.
    */
  def writeIvfStore(s: SparkSession, d: String, centTable: String,
      cellTable: String, saltBuckets: Int = 1): Unit = {
    val e = emb(s, d)
    val seeds = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    // 16 rows; pin so the cell write below doesn't retrain
    val cents = trainedCentroids(e, seeds).localCheckpoint(true)
    cents.write.mode("overwrite").format("parquet").saveAsTable(centTable)
    assignCells(e, s.table(centTable))
      .join(e.select(col("vec_id"), col("v")), "vec_id")
      .repartition(col("cell"), pmod(col("vec_id"), lit(saltBuckets.toLong)))
      .write.mode("overwrite").format("parquet")
      .partitionBy("cell").saveAsTable(cellTable)
  }

  /** RETRAIN refresh of the persisted IVF pair — the maintenance step
    * [[graft.streaming.AnnIngest.fold]] explicitly is not: warm-start
    * the store's centroids ONE fixed-point Lloyd step over today's
    * corpus (base cell store ∪ `extraCells`, e.g. AnnIngest's landed
    * batches via `readCells`), then reassign and rewrite the pair,
    * rolled forward to NEW tables (the [[graft.operators.Dedup.refreshStores]]
    * convention — overwriting tables mid-read is undefined; swap
    * readers, then drop the old version and clear the landing zone).
    *
    * Warm start is the production cadence: from the current centroids
    * one step moves each centroid to the mean of its present members,
    * so the refresh costs TWO corpus passes (the step's assignment,
    * the final reassignment — inherently two, since assignment under
    * the moved centroids differs from the assignment that moved them)
    * plus the partitioned rewrite; no from-scratch training, no
    * iteration count to tune. Both passes are broadcast cross-scores:
    * nothing wider than the per-vector argmax aggregate shuffles, and
    * the 16-row centroid frame is checkpoint-pinned across its
    * consumers (write + reassignment). At 100 TB the rewrite is the
    * dominant cost — same as the dedup component store's roll-forward
    * — and `saltBuckets` spreads hot cells exactly as in
    * [[writeIvfStore]].
    *
    * Returns the cell-churn report — (old_cell, new_cell, n_vecs),
    * diagonal included — read back from the WRITTEN table (so the
    * report covers what readers will actually see, and doubles as a
    * write verification). q161 oracle-checks this churn computation;
    * q116's drift report is the metric that decides when to call this.
    */
  def retrainIvfStore(s: SparkSession, centTable: String, cellTable: String,
      extraCells: DataFrame, newCentTable: String, newCellTable: String,
      saltBuckets: Int = 1): DataFrame = {
    require(DeltaStore.canon(s, newCentTable) != DeltaStore.canon(s, centTable)
        && DeltaStore.canon(s, newCellTable) != DeltaStore.canon(s, cellTable),
      "the retrained store pair rolls forward to NEW tables; " +
        "overwriting the tables being read is not defined")
    val corpus = s.table(cellTable).select(col("vec_id"), col("cell"), col("v"))
      .union(extraCells.select(col("vec_id"), col("cell"), col("v")))
    val e = corpus.select(col("vec_id"), col("v"))
    // 16 rows, two consumers (table write + the reassignment's
    // broadcast) — pin so the corpus-sized Lloyd step runs once
    val cNew = lloydStep(e, s.table(centTable)).localCheckpoint(true)
    cNew.write.mode("overwrite").format("parquet").saveAsTable(newCentTable)
    assignCells(e, s.table(newCentTable))
      .join(e, "vec_id")
      .repartition(col("cell"), pmod(col("vec_id"), lit(saltBuckets.toLong)))
      .write.mode("overwrite").format("parquet")
      .partitionBy("cell").saveAsTable(newCellTable)
    s.table(newCellTable).select(col("vec_id"), col("cell").as("new_cell"))
      .join(corpus.select(col("vec_id"), col("cell").as("old_cell")), "vec_id")
      .groupBy(col("old_cell"), col("new_cell"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** The q154/q155 fixture split: vectors with vec_id ≡ 2 (mod 5)
    * play the "new ingest batch", the rest the persisted corpus;
    * centroids train on the STORE subset only (seeds: the 16 store
    * vectors with vec_id < 20, renumbered 0‥15 by id order so the
    * packed argmax's cent_id ∈ [0,16) invariant holds).
    */
  private def storeTrainedCents(store: DataFrame): DataFrame = {
    val seeds = store.filter(col("vec_id") < 20)
      .withColumn("cent_id",
        (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("long"))
      .select(col("cent_id"), col("v").as("cv"))
    trainedCentroids(store, seeds)
  }

  /** Oracle-side twin of [[storeTrainedCents]] + the final scoring
    * CTE: the q43 Lloyd chain restricted to the store subset
    * (vec_id ≢ 2 mod 5), seeds renumbered identically. Ends with
    * `c2` (trained centroids) and `scored` (ALL vectors × c2).
    */
  private def storeLloydSql: String = {
    val lloyd = (1 to 2).map { i =>
      val prev = s"c${i - 1}"
      s"""s$i AS (SELECT vec_id, v AS qv, cent_id, cv, $cosSql AS csim
         |        FROM es CROSS JOIN $prev),
         |a$i AS (SELECT vec_id, qv, cell FROM (
         |          SELECT vec_id, qv, cent_id AS cell, row_number() OVER
         |            (PARTITION BY vec_id
         |             ORDER BY floor(csim * 4503599627370496) DESC, cent_id) AS rn
         |          FROM s$i) WHERE rn = 1),
         |m$i AS (SELECT cell, g.i - 1 AS pos,
         |          sum(CAST(round(qv[g.i] * 1073741824) AS BIGINT)) AS sfx,
         |          count(*) AS n
         |        FROM a$i, UNNEST(generate_series(1, len(qv))) AS g(i)
         |        GROUP BY 1, 2),
         |c$i AS (SELECT cell AS cent_id,
         |          list((sfx // n) / 1073741824.0 ORDER BY pos) AS cv
         |        FROM m$i GROUP BY cell)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |es AS (SELECT vec_id, v FROM e WHERE vec_id % 5 <> 2),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cent_id,
       |         v AS cv
       |       FROM es WHERE vec_id < 20),
       |$lloyd,
       |scored AS (SELECT vec_id, v AS qv, cent_id, cv, $cosSql AS csim
       |           FROM e CROSS JOIN c2)""".stripMargin
  }

  /** The IVFADC subtree (assignment, PQ encode, probes, distance
    * table, candidate ADC ranking), generalized over an nprobe SWEEP:
    * every sweep point shares ONE corpus pass — a candidate's cell is
    * probed at exactly one probe rank `prn` (each vector lives in one
    * cell), so the nprobe=k candidate set is just `prn ≤ k`, and only
    * the tiny per-query ranking re-runs per sweep point. Returns
    * (nprobe, q_id, c_id, afx, rn) with rn ≤ `k` per (nprobe, q_id)
    * by exact integer ADC order. Shared by q80/q117 (single point
    * nprobe=2 via [[ivfpqAdc]]) and q130's tuning curve.
    */
  private def ivfpqAdcSweep(s: SparkSession, d: String,
      nprobes: Seq[Int], k: Int): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    graft.functions.SquaredDistance.register(s)
    val maxNp = nprobes.max
    val e = emb(s, d)
    val seeds = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val scored = e.select(col("vec_id"), col("v").as("qv"))
      .crossJoin(broadcast(seeds))
      .withColumn("csim", expr("cosine_sim(qv, cv)"))
    // corpus → cell: packed argmax in HashAggregate (q43 idiom)
    val assign = scored.groupBy(col("vec_id"))
      .agg(max(expr(
        "floor(csim * 4503599627370496d) * 16 + (15 - cent_id)")).as("k"))
      .select(col("vec_id"), (lit(15L) - pmod(col("k"), lit(16L))).as("cell"))
    // corpus → 8 PQ codes (q72's encode, via the shared splitter)
    val cb = pqSplit(e.filter(col("vec_id") < 16), "code")
      .withColumnRenamed("sv", "cbv")
    val codes = pqSplit(e, "c_id")
      .join(broadcast(cb), "m")
      .withColumn("d2", pqD2)
      .groupBy(col("c_id"), col("m"))
      .agg(min(expr(
        "floor(d2 * 1125899906842624d) * 64 + code")).as("k"))
      .select(col("c_id"), col("m"), pmod(col("k"), lit(64L)).as("code"))
    // query → up-to-maxNp probe cells, keeping the probe rank
    // (ranked by the same quantized key as the assignment argmax)
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(expr("floor(csim * 4503599627370496d)").desc,
        col("cent_id").asc)
    val probes = scored.filter(col("vec_id") < 10)
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= maxNp)
      .select(col("vec_id").as("q_id"), col("cent_id").as("probe_cell"),
        col("prn"))
    // query → fixed-point ADC distance table (10×8×16 rows)
    val dtab = pqSplit(e.filter(col("vec_id") < 10), "q_id")
      .join(broadcast(cb), "m")
      .withColumn("dfx", expr(
        s"cast(round(($pqD2Sqlless) * 1099511627776d, 0) as bigint)"))
      .select(col("q_id"), col("m"), col("code"), col("dfx"))
    val cands = probes
      .join(assign, col("probe_cell") === col("cell")
        && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"), col("prn"))
    // the candidate list (queries × probed-cell members) broadcasts
    // against the corpus-sized code table — the code table itself
    // must never move for a query batch; prn is functionally
    // dependent on (q_id, c_id) so the extra group key changes
    // nothing but carries the sweep admission rank through
    val adc = codes.join(broadcast(cands), "c_id")
      .join(broadcast(dtab), Seq("q_id", "m", "code"))
      .groupBy(col("q_id"), col("c_id"), col("prn"))
      .agg(sum(col("dfx")).as("afx"))
    val wTop = Window.partitionBy(col("nprobe"), col("q_id"))
      .orderBy(col("afx").asc, col("c_id").asc)
    adc
      .withColumn("nprobe", explode(array(nprobes.map(lit(_)): _*)))
      .filter(col("prn") <= col("nprobe"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select(col("nprobe"), col("q_id"), col("c_id"), col("afx"), col("rn"))
  }

  /** q80's single-point IVFADC: nprobe=2, top-3 by exact integer ADC
    * order. Returns (q_id, c_id, afx, rn).
    */
  private def ivfpqAdc(s: SparkSession, d: String): DataFrame =
    ivfpqAdcSweep(s, d, Seq(2), 3).drop("nprobe")

  /** DuckDB mirror of [[ivfpqAdcSweep]] as a CTE chain ending in
    * `rs(nprobe, q_id, c_id, afx, rn)` (rn unfiltered).
    */
  private def ivfpqSweepCtes(nprobes: Seq[Int]): String = {
    val maxNp = nprobes.max
    val npRows = nprobes.map(n => s"($n)").mkString(", ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |seeds AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
              |scored AS (SELECT vec_id, v AS qv, cent_id, cv, $cosSql AS csim
              |           FROM e CROSS JOIN seeds),
              |ranked AS (SELECT vec_id, cent_id, row_number() OVER
              |             (PARTITION BY vec_id
              |              ORDER BY floor(csim * 4503599627370496) DESC, cent_id) AS rn
              |           FROM scored),
              |assign AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE rn = 1),
              |probes AS (SELECT vec_id AS q_id, cent_id AS probe_cell, rn AS prn
              |           FROM ranked WHERE vec_id < 10 AND rn <= $maxNp),
              |cb AS (SELECT g.m AS m, vec_id AS code, v[g.m*8+1 : g.m*8+8] AS cbv
              |       FROM e, UNNEST(generate_series(0, 7)) AS g(m)
              |       WHERE vec_id < 16),
              |p AS (SELECT vec_id, g.m AS m, v[g.m*8+1 : g.m*8+8] AS sv
              |      FROM e, UNNEST(generate_series(0, 7)) AS g(m)),
              |sc AS (SELECT vec_id, p.m, code,
              |         list_dot_product(sv, sv) - 2 * list_dot_product(sv, cbv)
              |           + list_dot_product(cbv, cbv) AS d2
              |       FROM p JOIN cb ON p.m = cb.m),
              |codes AS (SELECT vec_id AS c_id, m,
              |            CAST(((min(CAST(floor(d2 * 1125899906842624) AS BIGINT) * 64 + code)
              |                   % 64) + 64) % 64 AS BIGINT) AS code
              |          FROM sc GROUP BY vec_id, m),
              |dtab AS (SELECT p.vec_id AS q_id, p.m, code,
              |           CAST(round((list_dot_product(sv, sv) - 2 * list_dot_product(sv, cbv)
              |             + list_dot_product(cbv, cbv)) * 1099511627776) AS BIGINT) AS dfx
              |         FROM p JOIN cb ON p.m = cb.m WHERE p.vec_id < 10),
              |cands AS (SELECT q_id, a.vec_id AS c_id, prn
              |          FROM probes JOIN assign a
              |            ON probe_cell = a.cell AND a.vec_id <> q_id),
              |adc AS (SELECT q_id, c_id, prn, CAST(sum(dfx) AS BIGINT) AS afx
              |        FROM cands JOIN codes USING (c_id) JOIN dtab USING (q_id, m, code)
              |        GROUP BY q_id, c_id, prn),
              |sweep AS (SELECT np.nprobe, q_id, c_id, afx
              |          FROM adc JOIN (VALUES $npRows) np(nprobe)
              |            ON prn <= np.nprobe),
              |rs AS (SELECT nprobe, q_id, c_id, afx,
              |         CAST(row_number() OVER (PARTITION BY nprobe, q_id
              |                ORDER BY afx, c_id) AS INTEGER) AS rn
              |       FROM sweep)"""
  }

  /** DuckDB mirror of [[ivfpqAdc]] — the nprobe=2 slice of the sweep,
    * as a chain ending in `r(q_id, c_id, afx, rn)` (shared by q80 and
    * q117).
    */
  private def ivfpqCtes: String =
    s"""${ivfpqSweepCtes(Seq(2))},
              |r AS (SELECT q_id, c_id, afx, rn FROM rs)"""

  // ======== PQ-coded serving store (round-11 verdict item) ==============
  //
  // writeIvfStore's cell table persists FULL embeddings — fine as the
  // rerank fetch side, wrong as the thing a 100 TB ADC search scans:
  // the serving index should be cell + packed PQ codes (~16 bytes/
  // vector incl. the id vs 512+ for the 64-double embedding). These
  // functions persist and serve that store: the ADC ranking path
  // reads ONLY (vec_id, cell, pcode); full vectors are fetched for
  // the top-kAdc admitted candidates per query, nothing else.

  /** The 8×16 PQ codebook (q72/q80's): subvectors of the 16 seed
    * vectors, one row per (m, code) — (m, code, cbv).
    */
  private[graft] def pqCodebook(e: DataFrame): DataFrame =
    pqSplit(e.filter(col("vec_id") < 16), "code")
      .withColumnRenamed("sv", "cbv")

  /** PQ-encode a (vec_id, …, v) frame against the codebook, packing
    * all 8 codes into ONE 48-bit BIGINT (code m occupies bits
    * [6m, 6m+6)): (vec_id, pcode). Per-subspace nearest-code argmin
    * uses the same fixed-point packed key as q72's encode, so codes
    * (and therefore ADC ranking downstream) are bit-identical to the
    * in-flight q80 chain. One corpus-scale aggregate pair; the 128-row
    * codebook broadcasts.
    */
  private[graft] def pqEncodePacked(frame: DataFrame,
      codebook: DataFrame): DataFrame = {
    graft.functions.SquaredDistance.register(frame.sparkSession)
    pqSplit(frame.select(col("vec_id"), col("v")), "vec_id")
      .join(broadcast(codebook), "m")
      .withColumn("d2", pqD2)
      .groupBy(col("vec_id"), col("m"))
      .agg(min(expr(
        "floor(d2 * 1125899906842624d) * 64 + code")).as("k"))
      .select(col("vec_id"), col("m"), pmod(col("k"), lit(64L)).as("code"))
      .groupBy(col("vec_id"))
      .agg(sum(expr("shiftleft(code, cast(m * 6 as int))")).as("pcode"))
  }

  /** ADC ranking over the PACKED-code store: (q_id, c_id, afx, rn) with
    * rn ≤ kAdc per query by exact integer ADC order — reads only
    * (vec_id, cell, pcode) from `codes`. Probe selection, distance
    * table and tie-breaks are q80's exactly; the candidate filter is
    * a broadcast of the |Q|·nprobe probe frame into the code store
    * (partition-prunable on `cell` when `codes` is the persisted
    * cell-partitioned table), and each candidate's distance is 8
    * integer table lookups summed — the embedding is never read.
    */
  private[graft] def adcRank(queries: DataFrame, cents: DataFrame,
      codebook: DataFrame, codes: DataFrame, nprobe: Int,
      kAdc: Int): DataFrame = {
    graft.functions.SquaredDistance.register(queries.sparkSession)
    val scored = crossScore(
      queries.select(col("q_id").as("vec_id"), col("v")), cents)
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(expr("floor(csim * 4503599627370496d)").desc,
        col("cent_id").asc)
    val probes = scored
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cell"))
    val dtab = pqSplit(
      queries.select(col("q_id").as("vec_id"), col("v")), "q_id")
      .join(broadcast(codebook), "m")
      .withColumn("dfx", expr(
        s"cast(round(($pqD2Sqlless) * 1099511627776d, 0) as bigint)"))
      .select(col("q_id"), col("m"), col("code"), col("dfx"))
    val adc = codes.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        posexplode(expr(
          "transform(sequence(0, 7), m -> shiftright(pcode, m * 6) & 63)"))
          .as(Seq("m", "code")))
      .select(col("q_id"), col("c_id"), col("m").cast("long").as("m"),
        col("code"))
      .join(broadcast(dtab), Seq("q_id", "m", "code"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("dfx")).as("afx"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("afx").asc, col("c_id").asc)
    adc.withColumn("rn", row_number().over(wTop)).filter(col("rn") <= kAdc)
  }

  /** The complete two-stage serving search: ADC admission from the
    * packed-code store ([[adcRank]], kAdc candidates per query), then
    * exact cosine rerank on full vectors fetched from `fullVecs` for
    * ONLY the admitted candidates (a broadcast of |Q|·kAdc ids into
    * the vector store — never a corpus scan). Returns
    * (q_id, nn_id, sim, rank) with rank ≤ k.
    */
  def adcSearch(queries: DataFrame, cents: DataFrame, codebook: DataFrame,
      codes: DataFrame, fullVecs: DataFrame, nprobe: Int, kAdc: Int,
      k: Int): DataFrame = {
    graft.functions.CosineSimilarity.register(queries.sparkSession)
    val admitted = adcRank(queries, cents, codebook, codes, nprobe, kAdc)
      .select(col("q_id"), col("c_id"))
    val qv = queries.select(col("q_id"), col("v").as("qv"))
    val fetched = fullVecs.select(col("vec_id"), col("v"))
      .join(broadcast(admitted), col("vec_id") === col("c_id"))
      .join(broadcast(qv), Seq("q_id"))
      .withColumn("sim", expr("cosine_sim(qv, v)"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    fetched.withColumn("rn", row_number().over(wTop)).filter(col("rn") <= k)
      .select(col("q_id"), col("c_id").as("nn_id"),
        round(col("sim"), 4).as("sim"), col("rn").as("rank"))
  }

  /** Persist the PQ sidecar pair for an existing cell table: the
    * 128-row codebook and the packed-code store, partitioned by cell
    * exactly like the cell table (probes prune both the same way).
    * Re-encoding reads the cell table's own vectors, so the sidecar
    * is consistent with ANY cell table — base build, post-retrain
    * reassignment, post-fold re-layout — by construction.
    */
  def writePqSidecar(s: SparkSession, cellTable: String,
      codebookTable: String, codesTable: String,
      saltBuckets: Int = 1): Unit = {
    val cells = s.table(cellTable)
    // a REUSED codebook table (retrain/fold carry it forward — the
    // product quantizer never retrains with the coarse one) must not
    // be overwritten mid-read; it is immutable once written
    if (!s.catalog.tableExists(codebookTable)) {
      val cb = pqCodebook(
        cells.select(col("vec_id"), col("v")).filter(col("vec_id") < 16))
      cb.write.mode("overwrite").format("parquet").saveAsTable(codebookTable)
    }
    pqEncodePacked(cells.select(col("vec_id"), col("v")),
      s.table(codebookTable))
      .join(cells.select(col("vec_id"), col("cell")), "vec_id")
      .repartition(col("cell"), pmod(col("vec_id"), lit(saltBuckets.toLong)))
      .write.mode("overwrite").format("parquet")
      .partitionBy("cell").saveAsTable(codesTable)
  }

  /** 8×8-dim subvector split (PQ m ∈ [0,8)): shared by q72's encode
    * and q80's codebook/distance-table builds.
    */
  private def pqSplit(e: DataFrame, idAs: String): DataFrame =
    e.select(col("vec_id").as(idAs), explode(expr(
      "transform(sequence(0, 7), m -> struct(m AS m, slice(v, m*8+1, 8) AS sv))"))
      .as("x"))
      .select(col(idAs), col("x.m").cast("long").as("m"), col("x.sv").as("sv"))

  /** |sv−cbv|² via the dot-product expansion, strict left-to-right
    * folds (== DuckDB list_dot_product bit-for-bit). Native codegen
    * expression ([[graft.functions.SquaredDistance]]) — the
    * aggregate/zip_with HOF chain it replaces evaluated interpreted
    * and blocked whole-stage codegen on the corpus-sized encode path
    * (the round-5 q44 lesson). Caller must have registered `l2sq`.
    */
  private def pqD2: Column = expr(pqD2Sqlless)

  /** [[pqD2]] as a SQL-expression string (for embedding inside larger
    * Spark expressions).
    */
  private def pqD2Sqlless: String = "l2sq(sv, cbv)"
}
