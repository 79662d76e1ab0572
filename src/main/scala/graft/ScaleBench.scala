package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Uniform scale-growth bench (round-13 verdict item): everything else
  * is measured at sf0.1 (17 MB) plus targeted 10× SKEW shapes, so the
  * 100 TB claims rested on plan shapes alone — this harness measures
  * how the heaviest corpus-scaling queries actually GROW. It
  * synthesizes a uniform corpus (the [[SkewBench]] generator WITHOUT
  * the adversarial blocks: no boilerplate prefix, no hot LSH cluster,
  * no planted pairs, no hot embedding block) at 1× driver scale
  * (sf0.1: 5 000 docs / 2 000 vecs) and at 10×, times each target at
  * both, and records the per-query growth exponent
  * e = ln(t₁₀/t₁) / ln(10) — linear scaling ⇒ e ≈ 1, a constant-
  * dominated query ⇒ e < 1, anything super-linear is a scale bug
  * unless attributed.
  *
  * Known index-build constants (documented, NOT scale bugs): q171
  * runs 16 sequential vocabulary passes by construction (its cost is
  * passes × corpus, linear in corpus with a large constant); the IVF
  * family (q43/q117/q130/q155/q161) trains/loads k-means centroids
  * whose iteration count is fixed — their data-path cost is linear,
  * their training constant is not tied to corpus size. The wet
  * machinery (q202/q205/q206/q207) stages fixed store DDL per run
  * (the q183-class driver-bound lifecycle cost), so small exponents
  * there mean the constant dominates at 1×.
  *
  * Deterministic (hash-derived from ids), same timing discipline as
  * [[SkewBench]]: ContextCleaner drain + min-of-repeat + Bench.force.
  * Emits one JSON line (and SCALEBENCH_OUT.json) with t1/t10/exponent
  * per query and result-row counts at both scales (rows must scale
  * with the corpus or the run degenerated).
  *
  * Round 14: a THIRD scale point (default 100×, [[ThirdPointTargets]]
  * only — two points fit one line by construction) and the exponent
  * becomes the least-squares log-log slope over the available points,
  * so a super-linear term hiding behind a constant at 10× bends the
  * fit visibly at 100×.
  */
object ScaleBench {

  /** Uniform corpus: schema-identical to the driver tables
    * (TESTDATA.md), zero adversarial structure.
    */
  def writeUniform(spark: SparkSession, dir: String, nDocs: Long,
      nVecs: Long): Unit = {
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      expr("""concat_ws(' ', transform(sequence(0, 59),
             |  i -> concat('w', pmod(hash(id, i), 997))))""".stripMargin)
        .as("text"),
      expr("CASE WHEN id % 10 = 0 THEN 'de' ELSE 'en' END").as("lang"),
      expr("concat('src', pmod(id, 19))").as("source"))
      .withColumn("n_chars", length(col("text")))
    docs.repartition(32).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val vecs = spark.range(nVecs).select(
      col("id").as("vec_id"),
      expr("""transform(sequence(0, 63), i -> cast(
             |  (pmod(hash(id, i), 2000) - 1000) / 1000.0 + 0.0005
             |  as float))""".stripMargin).as("embedding"),
      expr("cast(pmod(id, 8) as int)").as("label"))
    vecs.repartition(8).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
  }

  /** The heaviest corpus-scaling queries of the round-12 bench that
    * run on (documents, embeddings) alone — metadata-bound lifecycle
    * scenarios (q174/q184/q186) are excluded by design: their cost is
    * catalog churn, constant in data volume.
    */
  val Targets: Seq[String] = Seq(
    // web/crawl machinery (incl. the round-13 near-dup + classifier)
    "q202_host_budget", "q203_web_pipeline", "q205_wet_rules",
    "q206_wet_neardup", "q207_wet_classifier",
    // text/stores
    "q171_bpe_batched", "q183_bm25_store", "q197_bpe_tokenize",
    "q95_winnow_pairs", "q102_prefix_join", "q104_bigram_lm",
    // incremental dedup closure family
    "q142_incremental_assign", "q151_incremental_within",
    "q152_refresh_closure", "q153_pending_bridges", "q156_refresh_churn",
    "q110_minhash_error", "q212_minhash_error_sampled",
    "q214_minhash_error_rate10",
    // ANN family (embeddings)
    "q43_ivf_ann", "q117_ivfpq_recall", "q130_probe_curve",
    "q155_ivf_incremental_search", "q161_ivf_retrain_churn",
    // cross-modal capstone
    "q191_multimodal_curation")

  private def runAll(spark: SparkSession, dir: String,
      repeat: Int, targets: Seq[String]): Map[String, (Double, Long)] = {
    // Small-target protocol (round 17, codifying the r16 finding): a
    // single in-suite timing of a sub-2 s query mostly measures the
    // GC/cache state the PREVIOUS target left behind, not the query —
    // q214 read exponent 0.41 in-suite vs 0.064 isolated in the r16
    // capture. Any target whose first timing lands under the
    // threshold is re-measured to min-of-N at that scale point, so
    // exponent tables are comparable by construction instead of by
    // after-the-fact isolated re-runs. Tune with
    // SPARK_GRAFT_SCALE_SMALL_SEC / SPARK_GRAFT_SCALE_SMALL_N;
    // SMALL_N=1 disables.
    val smallSec = sys.env.getOrElse("SPARK_GRAFT_SCALE_SMALL_SEC",
      "2.0").toDouble
    val smallN = sys.env.getOrElse("SPARK_GRAFT_SCALE_SMALL_N", "3").toInt
    def one(name: String): (Double, Long) = {
      System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(500)
      val t0 = System.nanoTime()
      val n = Bench.force(SparkEntry.queries(name)(spark, dir))
      ((System.nanoTime() - t0) / 1e9, n)
    }
    targets.flatMap(n => Seq.fill(repeat)(n)).map { name =>
      val first = one(name)
      val all =
        if (first._1 < smallSec && smallN > 1)
          first +: Seq.fill(smallN - 1)(one(name))
        else Seq(first)
      (name, all.map(_._1).min, all.map(_._2).max)
    }.groupBy(_._1).map { case (n, rs) =>
      n -> ((rs.map(_._2).min, rs.map(_._3).max))
    }
  }

  /** The third-point subset (round-13 verdict item 6): two points fit
    * one line by construction — a 100× point on the top-5 heaviest
    * distinguishes e ≈ 0.5 from a super-linear term hidden by
    * constants at 10×. Kept to five: the 100× corpus (500k docs /
    * 200k vecs) costs minutes per query.
    */
  val ThirdPointTargets: Seq[String] = Seq(
    "q206_wet_neardup", "q197_bpe_tokenize", "q95_winnow_pairs",
    "q202_host_budget", "q183_bm25_store",
    // round-15 additions (verdict item 7): the two highest 2-point
    // exponents not yet probed at 100× (0.697, 0.652 in r14) — the
    // exact profile q95 had before its third point exposed the
    // constant-hidden linear term
    "q104_bigram_lm", "q110_minhash_error",
    // the sampled evals ride along so their cost stays measured next
    // to the full eval they replace at scale — 50% (q212) and the
    // round-16 production-rate 10% point (q214), which turns the
    // rate² cost claim into three measured points
    "q212_minhash_error_sampled", "q214_minhash_error_rate10")

  /** Least-squares slope of ln t over ln scale — with two points this
    * degenerates to the old ln(tN/t1)/ln(N); with three it is the
    * fitted growth exponent.
    */
  private def fitExponent(pts: Seq[(Double, Double)]): Double = {
    val xs = pts.map(p => math.log(p._1)); val ys = pts.map(p => math.log(p._2))
    val mx = xs.sum / xs.size; val my = ys.sum / ys.size
    val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val varx = xs.map(x => (x - mx) * (x - mx)).sum
    cov / varx
  }

  def main(args: Array[String]): Unit = {
    val loadAtStart = Bench.hostLoad()
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-scale"
      else s"${System.getProperty("java.io.tmpdir")}/graft-scale")
    val docs1 = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "5000").toLong
    val vecs1 = sys.env.getOrElse("SPARK_GRAFT_SCALE_VECS", "2000").toLong
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val repeat = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPEAT", "1").toInt
    val spark = LocalSession()

    // subset selection happens BEFORE execution (round-13 advice fix:
    // filtering only the report defeated the fast-iteration purpose)
    val subset = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    val sel = Targets.filter(n => subset.forall(_.contains(n)))
    // third point: 100× on the top-5 by default; 0 disables
    val factor2 = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR2", "100").toInt
    // factor2 == factor would emit duplicate t<N>/rows<N> JSON keys
    // (ambiguous for strict parsers) and rewrite the same corpus dir
    // twice; < factor would invert the "tail decade" the slopes read
    require(factor2 == 0 || factor2 > factor,
      s"SPARK_GRAFT_SCALE_FACTOR2 ($factor2) must be 0 (disabled) or " +
        s"> SPARK_GRAFT_SCALE_FACTOR ($factor)")
    val sel2 = sys.env.get("SPARK_GRAFT_SCALE_TOP")
      .map(_.split(",").toSeq).getOrElse(ThirdPointTargets)
      .filter(sel.contains)

    writeUniform(spark, s"$base-1x", docs1, vecs1)
    writeUniform(spark, s"$base-${factor}x", docs1 * factor, vecs1 * factor)
    val calibBefore = Bench.calibrate(spark)
    val t1 = runAll(spark, s"$base-1x", repeat, sel)
    val tN = runAll(spark, s"$base-${factor}x", repeat, sel)
    val tM: Map[String, (Double, Long)] =
      if (factor2 > 0 && sel2.nonEmpty) {
        writeUniform(spark, s"$base-${factor2}x",
          docs1 * factor2, vecs1 * factor2)
        runAll(spark, s"$base-${factor2}x", repeat, sel2)
      } else Map.empty

    def jmap(ks: Seq[String], f: String => String): String =
      ks.map(k => "\"" + k + "\":" + f(k)).mkString("{", ",", "}")
    val done = sel.filter(k => t1.contains(k) && tN.contains(k))
    val done2 = sel2.filter(tM.contains)
    def r3(x: Double): String = (math.rint(x * 1000) / 1000).toString
    val json =
      s"""{"metric":"scale_total_${factor}x","value":${
        done.map(tN(_)._1).sum},"unit":"sec",""" +
        s""""factor":$factor,"factor2":$factor2,"docs1":$docs1,"vecs1":$vecs1,""" +
        s""""t1":${jmap(done, k => r3(t1(k)._1))},""" +
        s""""t${factor}":${jmap(done, k => r3(tN(k)._1))},""" +
        (if (done2.nonEmpty)
          s""""t${factor2}":${jmap(done2, k => r3(tM(k)._1))},"""
         else "") +
        s""""exponent":${jmap(done, { k =>
          val pts = Seq((1.0, t1(k)._1), (factor.toDouble, tN(k)._1)) ++
            tM.get(k).map(v => (factor2.toDouble, v._1))
          r3(fitExponent(pts))
        })},""" +
        s""""rows1":${jmap(done, k => t1(k)._2.toString)},""" +
        s""""rows${factor}":${jmap(done, k => tN(k)._2.toString)}""" +
        (if (done2.nonEmpty)
          s""","rows${factor2}":${jmap(done2, k => tM(k)._2.toString)}"""
         else "") +
        s"""${Bench.calibJson(calibBefore, Bench.calibrate(spark))}""" +
        s"""${Bench.loadJson(loadAtStart)}}"""
    println(json)
    System.err.println(json)
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALEBENCH_OUT.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
