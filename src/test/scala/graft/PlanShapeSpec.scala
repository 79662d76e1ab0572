package graft

import java.nio.file.Files

import graft.streaming.{AlertPipeline, AlertSinks}
import org.apache.spark.sql.catalyst.expressions.{GreaterThan, LessThan, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, Expand, Filter}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}

/** Pins the scale-critical physical-plan shapes: these assertions are
  * what "would survive 100×" means in executable form — a refactor
  * that silently turns a broadcast into a shuffle, or un-pushes a
  * scan filter, fails here before it costs anything on a cluster.
  */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf001)
    df.collect() // let AQE finalize so the string shows final choices
    df.queryExecution.executedPlan.toString
  }

  private def formattedOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf001)
    // "formatted" includes scan detail (PushedFilters, ReadSchema)
    org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("q2 filter and projection reach the parquet scan") {
    val f = formattedOf("q2_filter")
    assert(f.contains("PushedFilters:") && !f.matches("(?s).*PushedFilters: \\[\\].*"),
      s"expected non-empty pushed filters:\n$f")
    // projection pruning: the scan must not read the full lineitem row
    assert(f.contains("ReadSchema"), f)
    assert(!f.contains("l_comment"), "untouched columns must be pruned")
  }

  test("q3 joins its dimension side via broadcast, not shuffle") {
    val p = planOf("q3_join_agg")
    assert(p.contains("BroadcastHashJoin"), s"expected BHJ:\n$p")
  }

  test("q40 broadcasts the queries and aggregates the corpus side") {
    val p = planOf("q40_knn_brute")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastHashJoin"), s"expected broadcast of queries:\n$p")
    // the corpus-side top-1 must be an aggregation (partial-aggregable),
    // not a row_number window over all scored rows
    assert(!p.contains("Window"), s"argmax must not use a window:\n$p")
  }

  test("q34 exact dedup is a single exchange on the fingerprint") {
    // the AQE plan string repeats the tree under "== Initial Plan ==";
    // only the final section reflects what actually ran
    val p = planOf("q34_dedup_exact").split("== Initial Plan ==").head
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused") && !l.contains("Broadcast"))
    assert(exchanges == 1, s"expected exactly one shuffle, got $exchanges:\n$p")
  }

  test("q45 corpus grams meet the benchmark set via broadcast") {
    val p = planOf("q45_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"bench grams must broadcast:\n$p")
  }

  test("q20 pushes the alert predicate below the window aggregation") {
    val f = formattedOf("q20_sliding_alert")
    // the value-range disjunction prunes rows before the window agg:
    // it must appear in the scan's pushed filters, not only post-agg
    assert(f.contains("PushedFilters:") && f.contains("value"),
      s"expected value predicate at the scan:\n$f")
  }

  test("the alert query filters to qualifying events above the watermark") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val hr = MemoryStream[String]
    val bp = MemoryStream[String]
    val q = AlertSinks.foreachBatch(AlertPipeline(hr.toDF(), bp.toDF()),
      Files.createTempDirectory("ckpt_plan").toString,
      (ds, _) => { ds.collect(); () })
    val plan =
      try {
        hr.addData("""{"user_id":1,"heart_rate":150,"timestamp":0}""")
        q.processAllAvailable()
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.optimizedPlan
      } finally q.stop()
    // a reading threshold: the qualifying predicate's `> 100` / `< 100`
    def thresholds(f: Filter) = f.condition.exists {
      case GreaterThan(_, Literal(100, _)) | LessThan(_, Literal(100, _)) => true
      case _ => false
    }
    val above = plan.collect {
      case f @ Filter(_, w: EventTimeWatermark) if thresholds(f) => (f, w)
    }
    assert(above.size == 1,
      s"the qualifying filter must sit directly on the watermark:\n$plan")
    val (qualifying, watermark) = above.head
    assert(plan.collect { case e: Expand => e }
        .exists(_.child.find(_ eq qualifying).isDefined),
      s"the qualifying filter must feed the window Expand:\n$plan")
    // below the watermark every event is kept: non-qualifying events
    // must still advance it
    assert(watermark.child.collect { case f: Filter if thresholds(f) => f }.isEmpty,
      s"no source branch may carry the qualifying predicate:\n$plan")
  }

  test("q72 broadcasts the codebook and argmins in HashAggregate") {
    val p = planOf("q72_pq")
    assert(p.contains("BroadcastHashJoin"),
      s"the 8x16 codebook must broadcast:\n$p")
    assert(!p.contains("Window"),
      s"the per-(vector, subspace) argmin must not use a window:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q71 selects the bottom-K via TakeOrderedAndProject, not a global sort") {
    val p = planOf("q71_outlier")
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-K must be TakeOrderedAndProject:\n$p")
  }

  test("q75 computes gram frequency without a join or broadcast") {
    // df is gram-cardinality (corpus-sized): it must never broadcast
    // (that would collect ~corpus-token rows to the driver at 100 TB)
    // — and since the window re-plan it must not even be a join: the
    // count rides the gid partitioning the distinct already produced.
    val p = planOf("q75_dupgrams")
    assert(p.contains("Window"), s"df must be a window count:\n$p")
    assert(!p.contains("Join"), s"no join expected:\n$p")
  }

  test("q69 never FORCES the vocabulary broadcast") {
    // raw whitespace vocabulary grows with the corpus (10⁸–10⁹ terms
    // at 100 TB): a broadcast() hint on the vocab join is a forced
    // OOM at exactly the scale the engine targets. The planner may
    // still pick BHJ from stats at this SF — what's pinned is that no
    // equi-join carries a hint (the 1-row median crossJoin may).
    val df = SparkEntry.queries("q69_unigram")(spark, sf001)
    val equiHints = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.isDefined => j.hint
    }
    assert(equiHints.nonEmpty, "expected the term-keyed vocab join")
    equiHints.foreach { h =>
      assert(h.leftHint.isEmpty && h.rightHint.isEmpty,
        s"vocab-sized join side must not be hint-forced: $h")
    }
    // the exact median must come from the value-domain counts-of-
    // counts, not percentile()'s single-buffer-of-all-values agg
    val p = planOf("q69_unigram")
    assert(!p.contains("percentile"),
      s"median must be value-domain, not a buffering percentile:\n$p")
  }

  test("q76 chunking is shuffle-free: generator and md5 ride the scan") {
    // row-local sequence/slice/md5 — the only allowed exchange is the
    // input-split round-robin Tables.parallel adds on the driver's
    // single-row-group files (RoundRobinPartitioning, a no-op on a
    // properly split production table)
    val p = planOf("q76_chunk").split("== Initial Plan ==").head
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused")
        && !l.contains("Broadcast") && !l.contains("RoundRobin"))
    assert(shuffles == 0, s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate"), p)
  }

  test("q77 broadcasts query terms and corpus stats onto the tf aggregate") {
    val p = planOf("q77_bm25")
    assert(p.contains("BroadcastHashJoin"),
      s"the 5 query terms must broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row stats must broadcast:\n$p")
  }

  test("q78 decayed engagement is one user_id exchange with partial aggregation") {
    val p = planOf("q78_time_decay").split("== Initial Plan ==").head
    // the high-water mark's scalar aggregate collapses its partials
    // over a SinglePartition exchange of ONE row per task — not a
    // corpus shuffle; the only data-sized exchange is the user_id
    // hash aggregate
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused")
        && !l.contains("Broadcast") && !l.contains("SinglePartition"))
    assert(shuffles == 1, s"expected exactly one shuffle:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q84 compaction partial-aggregates before the exchange, no window") {
    // the string payload keeps the struct-max off HashAggregate's
    // primitive-buffer path (SortAggregate is expected) — what must
    // hold is partial aggregation (shuffle carries |keys| rows, not
    // the changelog) and the absence of a row_number window
    val p = planOf("q84_compact").split("== Initial Plan ==").head
    assert(p.contains("partial_max"),
      s"latest-wins must partial-aggregate map-side:\n$p")
    assert(!p.contains("Window"),
      s"a window would sort-shuffle the full changelog:\n$p")
  }

  test("q79 rolling frame is one user_id exchange + in-partition sort") {
    val p = planOf("q79_rolling").split("== Initial Plan ==").head
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused") && !l.contains("Broadcast"))
    assert(shuffles == 1, s"expected exactly one shuffle:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("q85 SCD-2 history is one exchange shared by lead() and versioning") {
    val p = planOf("q85_scd2").split("== Initial Plan ==").head
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused") && !l.contains("Broadcast"))
    assert(shuffles == 1, s"expected exactly one shuffle:\n$p")
  }

  test("q87 funnel rides one user_id exchange end to end") {
    // the session-id cumsum (user_id), the three stage windows
    // (user_id, sid), and both rollups are all satisfied by the one
    // hash(user_id) partitioning — subset-clustering must keep it
    val p = planOf("q87_funnel").split("== Initial Plan ==").head
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused") && !l.contains("Broadcast"))
    assert(shuffles == 1, s"expected exactly one shuffle:\n$p")
  }

  test("q86 chunk dedup: shuffle-free chunker, two integer-keyed exchanges") {
    // RoundRobin is Tables.parallel's input-split emulation (no-op on
    // a properly split table) — the data exchanges are the fp window
    // and the doc rollup, nothing else
    val p = planOf("q86_chunk_dedup").split("== Initial Plan ==").head
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused")
        && !l.contains("Broadcast") && !l.contains("RoundRobin"))
    assert(shuffles == 2, s"expected fp window + doc rollup only:\n$p")
    assert(p.contains("Generate"), s"chunker must ride the scan:\n$p")
  }

  test("q88 global rank never single-partition-sorts the corpus") {
    val p = planOf("q88_global_rank").split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast onto the corpus:\n$p")
    // the only SinglePartition exchange allowed is the |buckets|-row
    // offset window's input — the corpus-side window is bucket-keyed
    val single = p.linesIterator.filter(_.contains("SinglePartition")).toSeq
    assert(single.size <= 1, s"corpus must not collapse to one partition:\n$p")
  }

  test("q163 curriculum shards rank without a corpus total order") {
    val p = planOf("q163_curriculum_shards").split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"length offsets must broadcast onto the corpus:\n$p")
    // the ntile replacement may single-partition only the bounded
    // per-length offset window (and the 1-row count anchor) — the
    // corpus-side rank window is length-keyed
    val single = p.linesIterator.filter(_.contains("SinglePartition")).toSeq
    assert(single.size <= 2, s"corpus must not collapse to one partition:\n$p")
  }

  test("q89 temperature sampling keeps the corpus shuffle-free") {
    val p = planOf("q89_temp_sample").split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"cell rates must broadcast onto the scan:\n$p")
    // one exchange builds the |cells| aggregate (plus its 1-row anchor
    // on SinglePartition); the corpus itself never shuffles
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused")
        && !l.contains("Broadcast") && !l.contains("SinglePartition"))
    assert(shuffles == 1, s"only the cells aggregate may shuffle:\n$p")
  }

  test("q92 stratum sample pre-prunes per scan partition") {
    // the per-source window alone would funnel the corpus through
    // |sources| reducers; the (source, partition-id) local cut must
    // stay in the plan
    val p = planOf("q92_stratum_sample").split("== Initial Plan ==").head
    assert(p.contains("SPARK_PARTITION_ID") || p.contains("spark_partition_id"),
      s"local prune must key on the scan partition:\n$p")
  }

  test("q97/q98: the corpus crosses one user_id exchange") {
    // q97 is exactly one exchange; q98 adds the |cohorts×offsets|
    // rollup AFTER the (user, cohort, offset) de-dup — which itself
    // must ride the user exchange (subset clustering), so the second
    // exchange carries deduped partial-aggregated rows only
    val p97 = planOf("q97_rolling_anomaly").split("== Initial Plan ==").head
    assert(p97.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused") && !l.contains("Broadcast")) == 1,
      s"q97: expected exactly one shuffle:\n$p97")
    val p98 = planOf("q98_cohort_retention").split("== Initial Plan ==").head
    val ex98 = p98.linesIterator.filter(l =>
      l.contains("Exchange") && !l.contains("Reused") && !l.contains("Broadcast")).toSeq
    assert(ex98.size == 2 && ex98.exists(_.contains("user_id")),
      s"q98: user exchange + cell rollup only:\n$p98")
  }

  test("q99 deciles: targets broadcast, corpus never single-partitions") {
    val p = planOf("q99_exact_deciles").split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"decile targets must broadcast onto the corpus:\n$p")
    // the offsets window and the 9-row target build may single-
    // partition (|buckets|-bounded); the corpus-side window is
    // bucket-keyed
    assert(p.linesIterator.count(_.contains("SinglePartition")) <= 2, p)
  }

  test("q101 weighted sample pre-prunes per scan partition") {
    val p = planOf("q101_weighted_sample").split("== Initial Plan ==").head
    assert(p.contains("SPARK_PARTITION_ID") || p.contains("spark_partition_id"),
      s"local prune must key on the scan partition:\n$p")
  }

  test("q70 ranks only a top-k-limited prefix, never the full vocabulary") {
    // the vocabulary grows with the corpus, so every empty-partitionBy
    // window in this plan must consume rows already cut by a top-k
    // limit (TakeOrderedAndProject / GlobalLimit), not the raw term
    // aggregate
    val df = SparkEntry.queries("q70_vocab_coverage")(spark, sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val windows = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"expected the rank/cumsum window:\n$plan")
    windows.foreach { w =>
      val bounded = collectFirst(w.child) {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
        case g: org.apache.spark.sql.execution.GlobalLimitExec => g
      }
      assert(bounded.isDefined,
        s"window must consume a top-k-limited input, not the vocab:\n$plan")
    }
  }

  test("q105 never sorts a whole source through one reducer") {
    // the corpus-side rank window must be keyed by (source, bucket);
    // a source-only window over corpus rows is the skewed-key shuffle
    // the two-phase scheme exists to avoid. Windows keyed by source
    // alone are allowed only over the |sources×buckets| aggregate.
    val df = SparkEntry.queries("q105_calibrate")(spark, sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val windows = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"expected the two-phase windows:\n$plan")
    windows.foreach { w =>
      val aggBounded = collectFirst(w.child) {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      }
      assert(w.partitionSpec.size >= 2 || aggBounded.isDefined,
        s"source-only window over corpus rows:\n$plan")
    }
  }

  test("q106 weighted median windows run over the value-domain aggregate") {
    // the two-phase scheme: every per-lang window must consume the
    // (lang, n) weight-sum aggregate — a lang-keyed window directly
    // over doc rows is the skewed-key full shuffle (a language's
    // whole corpus through one reducer) the re-plan removed
    val df = SparkEntry.queries("q106_weighted_median")(spark, sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val windows = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"expected the two-phase windows:\n$plan")
    windows.foreach { w =>
      val aggBounded = collectFirst(w.child) {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      }
      assert(aggBounded.isDefined,
        s"per-lang window must sit above the value-domain aggregate:\n$plan")
    }
  }

  test("q109 grouped deciles: targets broadcast, sources never single-reduce") {
    val df = SparkEntry.queries("q109_source_deciles")(spark, sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("BroadcastHashJoin"),
      s"decile targets must broadcast onto the corpus:\n$plan")
    val windows = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    windows.foreach { w =>
      val aggBounded = collectFirst(w.child) {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      }
      assert(w.partitionSpec.size >= 2 || aggBounded.isDefined,
        s"source-only window over corpus rows:\n$plan")
    }
  }

  test("q90 recall eval pre-prunes ground truth per scan partition") {
    val p = planOf("q90_ann_recall").split("== Initial Plan ==").head
    assert(p.contains("SPARK_PARTITION_ID") || p.contains("spark_partition_id"),
      s"local top-k prune must key on the scan partition:\n$p")
    assert(p.contains("BroadcastHashJoin")
      || p.contains("BroadcastNestedLoopJoin"),
      s"queries must broadcast against the corpus:\n$p")
  }

  test("q122 computes the bigram aggregate ONCE; marginals read the pinned frame") {
    // counts(w1, w2) feeds four consumers (probe side, both
    // marginals, the N total). Exchange reuse collapsed the four
    // SOURCE exchanges, but each marginal still re-ran the final
    // aggregate over the reused shuffle output — and the round-11
    // bench caught the residual recompute (isolated A/B 1.51→0.99 s
    // from pinning). `counts` is now localCheckpointed (round 12), so
    // the executed query must read the materialized frame and NEVER
    // touch the corpus: the parquet scan happens exactly once, inside
    // the checkpoint, before this plan runs.
    val p = planOf("q122_collocations")
    assert(p.contains("Scan ExistingRDD"),
      s"marginals must read the pinned bigram frame:\n$p")
    assert(!p.contains("Scan parquet"),
      s"the corpus must not be re-scanned by any consumer:\n$p")
  }

  test("q124/q131 broadcast their codebook/centroid tables, never cartesian") {
    // the 16-row PQ codebook and the |labels|-row centroid table are
    // the ONLY things allowed to move — the corpus side must stream
    // against a broadcast, and no crossJoin may degrade to a
    // CartesianProduct (which would partition-multiply corpus rows)
    for (q <- Seq("q124_pq_error", "q131_label_purity")) {
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin")
        || p.contains("BroadcastNestedLoopJoin"),
        s"$q must broadcast its small side:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q must never plan a cartesian product:\n$p")
    }
  }

  test("q125 broadcasts the value-domain bucket marginal") {
    // the source×bucket comparison grid crosses the source totals
    // with the ≤ ~60-row bucket marginal: that cross must be a
    // broadcast nested-loop, not a cartesian shuffle
    val p = planOf("q125_source_drift")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"bucket marginal must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian product in the grid build:\n$p")
  }

  test("q139 never sorts the token stream; the curve window is 20 rows") {
    // the ONLY Sort allowed is inside the 20-row window — a sort or
    // window over the corpus-sized token/term stream would be the
    // classic Heaps-curve scale killer (windowed count-distinct)
    val p = planOf("q139_heaps_vocab").split("== Initial Plan ==").head
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows == 1, s"exactly the 20-row running-sum window:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"vocab firsts must partial-aggregate:\n$p")
  }

  test("q141 capstone plans with no window functions and no corpus sort") {
    val p = planOf("q141_corpus_rewrite").split("== Initial Plan ==").head
    assert(!p.contains("Window ["),
      s"the materialization must not window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the benchmark gid set must broadcast into the gram stream:\n$p")
    assert(p.contains("LeftAnti") || p.contains("left_anti")
      || p.contains("LEFT ANTI"), s"contamination exclusion is an anti join:\n$p")
  }

  test("q143 audit aggregates bucket sizes and never generates pairs") {
    val p = planOf("q143_lsh_bucket_audit").split("== Initial Plan ==").head
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"the audit is joins-free:\n$p")
    // two aggregations (bucket sizes, per-band rollup) — the explodes
    // in the plan are the shingle/band projections, never a pair
    // combination explode (no posting-list collect feeds a Generate)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q53/q173 rerank their pairs with NO join back to the corpus") {
    // the round-10 shape: payload/vector data rides IN the salted
    // pair struct, so the exact verify (cosine / hamming) is a
    // codegen'd filter on the pair stream — a refactor that
    // reintroduces the fetch-the-endpoints join (2 × |pairs| rows
    // shuffled on the skew corpus) fails here
    for (q <- Seq("q53_semdedup", "q173_phash_neardup")) {
      val p = planOf(q).split("== Initial Plan ==").head
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q must not join the pair stream back to the corpus:\n$p")
    }
  }

  test("q181 audio decode is shuffle-free until the frame aggregate") {
    // decode runs partition-parallel at the mapPartitions seam; the
    // adjacent-sample pairing is an array zip_with, NOT a per-sample
    // window (which would sort |samples| rows per doc); the only
    // exchange in the whole chain is the frame groupBy's doc_id hash
    val p = planOf("q181_wav_decode").split("== Initial Plan ==").head
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused")
        && !l.contains("Broadcast"))
    assert(exchanges == 1,
      s"expected exactly one shuffle (the frame groupBy), got $exchanges:\n$p")
    assert(!p.contains("Window"),
      s"sample pairing must ride zip_with, not a window sort:\n$p")
  }
}
