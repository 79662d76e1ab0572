package graft

import org.apache.spark.sql.functions._

/** Executable form of the dedup skew guards: a small adversarial
  * corpus whose pair counts are known by construction, asserting that
  *  - q35's df cap silently DROPS the boilerplate cluster (df ≫ cap
  *    would otherwise emit C(300,2) = 44 850 pairs at J ≈ 0.93) while
  *    still finding the planted df=2 near-dup pair, and
  *  - q36's salted first-colliding-band pair generation emits every
  *    hot-bucket pair exactly ONCE (the set a distinct() would
  *    produce, without the pair-stream shuffle).
  */
class SkewGuardSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-skewspec").toString
    val boiler = (0 until 30).map(i => s"b$i").mkString(" ")
    val planted = (0 until 30).map(i => s"p$i").mkString(" ")
    val hot = (0 until 40).map(i => s"h$i").mkString(" ")
    val rows =
      (0 until 300).map(i => (i.toLong, s"$boiler x$i")) ++      // df=300 ≫ cap
        Seq((300L, s"$planted ya"), (301L, s"$planted yb")) ++   // df=2 pair
        (0 until 70).map(i => (400L + i, hot))                   // identical; df=70 > cap
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("test"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // embeddings: a 50-vector near-identical cluster (pairwise cosine
    // ≈ 1 — every pair must survive the banded LSH + rerank) plus 30
    // pseudo-random background vectors (few enough that no random
    // pair crosses sim 0.5 by chance)
    def vec(id: Long): Array[Float] =
      if (id < 50)
        Array.tabulate(64)(i =>
          ((i * 31 + 7) % 97) / 97.0f + ((id * 13 + i) % 5) * 1e-4f)
      else
        Array.tabulate(64)(i =>
          (((id * 2654435761L + i * 40503) % 2000) - 1000) / 1000.0f)
    (0L until 80L).map(id => (id, vec(id), (id % 8).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("q35 df cap drops the boilerplate cluster, keeps the df=2 pair") {
    val rows = SparkEntry.queries("q35_ngram_jaccard")(spark, dir).collect()
    assert(rows.length == 1,
      s"expected ONLY the planted pair (cap must kill df>64 shingles), got ${rows.length}")
    assert(rows.head.getLong(0) == 300L && rows.head.getLong(1) == 301L)
    assert(rows.head.getDouble(2) > 0.9)
  }

  test("q36 emits each hot-bucket pair exactly once, ordered da < db") {
    val df = SparkEntry.queries("q36_minhash_lsh")(spark, dir)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    // no cross-band duplicates: the first-colliding-band filter must
    // reproduce distinct() semantics exactly
    assert(rows.length == rows.distinct.length,
      s"duplicate pairs leaked past the first-band filter")
    assert(rows.forall { case (a, b) => a < b }, "pair order must be da < db")
    // the 70 identical docs share every shingle, hence every band
    // bucket: all C(70,2) pairs must be present
    val hotPairs = rows.filter { case (a, b) => a >= 400L && b >= 400L }
    assert(hotPairs.length == 70 * 69 / 2,
      s"expected ${70 * 69 / 2} hot-cluster pairs, got ${hotPairs.length}")
  }

  test("q110 error table covers exactly the capped pair set") {
    // q110 inherits q35's candidate generation: under the boilerplate
    // cluster its pair set must stay the single planted df=2 pair,
    // with the 8-slot estimate a valid probability
    val rows = SparkEntry.queries("q110_minhash_error")(spark, dir).collect()
    assert(rows.length == 1, s"expected only the planted pair, got ${rows.length}")
    val est = rows.head.getDouble(rows.head.fieldIndex("est"))
    assert(est >= 0.0 && est <= 1.0)
  }

  // q113 needs multi-chunk documents (32-token windows, 24 stride):
  // a planted pair sharing a 72-token run at a 24-token offset — two
  // aligned chunks on diagonal 1 — plus 70 identical template docs
  // whose chunks all have df = 70 > 64 and must be capped away
  private lazy val alignedDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-alignedspec").toString
    val shared = (0 until 72).map(i => s"s$i").mkString(" ")
    val prefA = (0 until 24).map(i => s"a$i").mkString(" ")
    val tailB = (0 until 24).map(i => s"b$i").mkString(" ")
    val template = (0 until 96).map(i => s"m$i").mkString(" ")
    val rows =
      Seq((0L, s"$prefA $shared"), (1L, s"$shared $tailB")) ++
        (0 until 70).map(i => (100L + i, template))
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("test"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("q113 finds the planted aligned run; template chunks are capped") {
    val rows = SparkEntry.queries("q113_aligned_dups")(spark, alignedDir).collect()
    assert(rows.length == 1,
      s"expected only the planted aligned pair (df cap must drop the " +
        s"70-doc template cluster), got ${rows.mkString("; ")}")
    val r = rows.head
    assert(r.getLong(r.fieldIndex("da")) == 0L && r.getLong(r.fieldIndex("db")) == 1L)
    assert(r.getLong(r.fieldIndex("max_aligned_run")) == 2L,
      s"the 72-token shared run spans 2 aligned chunks, got $r")
    assert(r.getLong(r.fieldIndex("shared_chunks")) == 2L)
  }

  test("q44 emits every hot-cluster embedding pair exactly once, ordered") {
    // the near-identical cluster collapses into ONE sign-LSH bucket of
    // every band — the salted pair generation + first-colliding-band
    // dedup must still produce each of the C(50,2) pairs exactly once
    val rows = SparkEntry.queries("q44_embed_neardup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.distinct.length,
      "duplicate pairs leaked past the first-band filter")
    assert(rows.forall { case (a, b) => a < b }, "pair order must be a < b")
    val hot = rows.filter { case (a, b) => a < 50 && b < 50 }.toSet
    assert(hot.size == 50 * 49 / 2,
      s"expected ${50 * 49 / 2} hot-cluster pairs, got ${hot.size}")
  }

  test("q154/q155 hot IVF cell: assignment covers the batch, search serves hot queries") {
    // the 50-vector near-identical cluster collapses into one IVF
    // cell (most trained centroids are themselves hot members) — the
    // incremental path must still (a) assign every batch vector
    // exactly once through the broadcast argmax, and (b) answer every
    // hot-cluster query with a hot near-identical neighbor, paying
    // only the probed cell's rerank
    val assigned = SparkEntry.queries("q154_ivf_incremental_assign")(spark, dir)
      .collect()
    assert(assigned.length === 16, // 80 ids, vec_id % 5 == 2
      s"one assignment per batch vector, got ${assigned.length}")
    assert(assigned.map(_.getLong(0)).distinct.length === 16)

    val res = SparkEntry.queries("q155_ivf_incremental_search")(spark, dir)
      .collect()
    assert(res.length === 10, "one top-1 row per query")
    res.foreach { r =>
      assert(r.getLong(1) < 50 && r.getDouble(2) > 0.999,
        s"hot query must find a near-identical hot neighbor: $r")
    }
  }
}
