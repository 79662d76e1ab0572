package graft

import graft.plans.GroupedTopKPrune
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The optimizer-rule half of the extension surface: grouped top-k
  * filters get the partition-local pre-prune automatically (the
  * hand-written idiom in q90/q92, as a `Rule[LogicalPlan]`).
  */
class GroupedTopKPruneSpec extends SparkSpec {

  private def ranked(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("v").desc)
    df.withColumn("rn", row_number().over(w))
  }

  private def topk(df: DataFrame, k: Int): DataFrame =
    ranked(df).filter(col("rn") <= k)

  /** The unpruned answer. The session runs the rule, as deployed, so
    * the reference never plans a filter over the window: it applies
    * the rank bound to the collected rows instead.
    */
  private def unpruned(windowed: DataFrame, rank: String, k: Int): Seq[Row] =
    windowed.collect().toSeq.filter(_.getAs[Int](rank) <= k)

  private def fixture = {
    import spark.implicits._
    // unique v per row → a total, deterministic per-group order
    (1 to 5000).map(i => (((i * 2654435761L) % 13).toInt, i))
      .toDF("g", "v").repartition(8)
  }

  test("rewrite preserves results exactly") {
    val expected = unpruned(ranked(fixture), "rn", 3).toSet
    spark.experimental.extraOptimizations = Seq(GroupedTopKPrune)
    try {
      val got = topk(fixture, 3).collect().toSet
      assert(got === expected)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("rewrite inserts exactly one local window, keyed by the input partition") {
    spark.experimental.extraOptimizations = Seq(GroupedTopKPrune)
    try {
      val plan = topk(fixture, 3).queryExecution.optimizedPlan.toString
      assert(plan.contains("SPARK_PARTITION_ID")
        || plan.contains("spark_partition_id"), plan)
      // exactly TWO window operators (local cut + original) — a third
      // would mean the fixed-point batch re-applied the rule to its
      // own output
      val windows = plan.linesIterator.count(_.contains("Window ["))
      assert(windows == 2, s"expected 2 windows, got $windows:\n$plan")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("rank = 1 form is pruned; unbounded rank filters are left alone") {
    spark.experimental.extraOptimizations = Seq(GroupedTopKPrune)
    try {
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc)
      val eq = fixture.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      assert(eq.queryExecution.optimizedPlan.toString.contains("SPARK_PARTITION_ID"))
      // rn >= k admits no local cut — must not rewrite
      val unbounded = fixture.withColumn("rn", row_number().over(w))
        .filter(col("rn") >= 3)
      assert(!unbounded.queryExecution.optimizedPlan.toString
        .contains("SPARK_PARTITION_ID"))
      // nor is a top-k a join broadcasts: the cut saves nothing on a
      // broadcast-sized side, and its SPARK_PARTITION_ID would stop
      // dynamic partition pruning from filtering the other side
      val probe = broadcast(topk(fixture, 3).select(col("g")))
      val joined = fixture.join(probe, "g")
      assert(!joined.queryExecution.optimizedPlan.toString
        .contains("SPARK_PARTITION_ID"), joined.queryExecution.optimizedPlan)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("global top-k (empty partitionBy) gets the local cut") {
    val expected = {
      val w = Window.orderBy(col("v").desc)
      unpruned(fixture.withColumn("rn", row_number().over(w)), "rn", 7).toSet
    }
    spark.experimental.extraOptimizations = Seq(GroupedTopKPrune)
    try {
      val w = Window.orderBy(col("v").desc)
      val df = fixture.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 7)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("SPARK_PARTITION_ID")
        || plan.contains("spark_partition_id"),
        s"global top-k must pre-prune per input partition:\n$plan")
      assert(df.collect().toSet === expected)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("stacked same-spec windows (rank + running sum) still prune") {
    // the q70 shape: a row_number AND a cumulative sum over the same
    // partition/order, filter on the rank — the cut must land below
    // BOTH windows, and the cum values of surviving rows must be
    // exactly what the unpruned plan computes (their predecessors all
    // survive the local cut)
    def windowed: DataFrame = {
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc)
      fixture
        .withColumn("rn", row_number().over(w))
        .withColumn("cum", sum(col("v")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }
    def q: DataFrame = windowed.filter(col("rn") <= 4)
    val expected = unpruned(windowed, "rn", 4).toSet
    spark.experimental.extraOptimizations = Seq(GroupedTopKPrune)
    try {
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("SPARK_PARTITION_ID")
        || plan.contains("spark_partition_id"),
        s"stacked windows must still admit the cut:\n$plan")
      assert(q.collect().toSet === expected)
    } finally spark.experimental.extraOptimizations = Nil
  }

  // ties that cross the cut boundary: 4 groups × values 1,1,2,2,3,3,…
  // — at k=3 the third-smallest value is tied between two rows, so a
  // row_number-based local cut could split the tied pair between
  // input partitions and change rank/RANGE-frame results
  private def tiedFixture = {
    import spark.implicits._
    (1 to 4000).map(i => (i % 4, (i / 8) % 25, i))
      .toDF("g", "v", "id").repartition(8)
  }

  test("rank() filters prune, and tied rows crossing the cut all survive") {
    def windowed: DataFrame = {
      val w = Window.partitionBy(col("g")).orderBy(col("v"))
      tiedFixture.withColumn("rk", rank().over(w))
    }
    def q: DataFrame = windowed.filter(col("rk") <= 3)
    // rank is tie-invariant: a set compare is exact
    val expected = unpruned(windowed, "rk", 3).toSet
    spark.experimental.extraOptimizations = Seq(GroupedTopKPrune)
    try {
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("SPARK_PARTITION_ID")
        || plan.contains("spark_partition_id"),
        s"rank() <= k must admit the local cut:\n$plan")
      assert(q.collect().toSet === expected)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("default-frame (RANGE CURRENT ROW) running sum under ties is exact") {
    // the advisor's scenario: sum().over(partitionBy.orderBy) resolves
    // to RANGE UNBOUNDED PRECEDING .. CURRENT ROW, whose frame includes
    // ALL order-key peers of the current row — a local cut that
    // separates tied peers would hand surviving rows aggregate values
    // no unpruned execution could produce. The rank-based cut keeps
    // every peer of every survivor, so the multiset of (g, v, cum)
    // must match the unpruned plan exactly
    def windowed: DataFrame = {
      val w = Window.partitionBy(col("g")).orderBy(col("v"))
      tiedFixture
        .withColumn("rn", row_number().over(w))
        .withColumn("cum", sum(col("id")).over(w)) // default RANGE frame
    }
    def q: DataFrame =
      windowed.filter(col("rn") <= 5).select(col("g"), col("v"), col("cum"))
    val expected = unpruned(windowed, "rn", 5)
      .map(r => Row(r.getAs[Int]("g"), r.getAs[Int]("v"), r.getAs[Long]("cum")))
      .groupBy(identity).view.mapValues(_.size).toMap
    spark.experimental.extraOptimizations = Seq(GroupedTopKPrune)
    try {
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("SPARK_PARTITION_ID")
        || plan.contains("spark_partition_id"),
        s"range-frame stacked window must still admit the cut:\n$plan")
      val got = q.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
      assert(got === expected)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("rank cut keeps tied peers: local cut is a rank, not row_number") {
    // direct plan evidence for the mechanism the two tests above rely
    // on: the inserted local window computes rank(), whose value never
    // separates equal order keys
    spark.experimental.extraOptimizations = Seq(GroupedTopKPrune)
    try {
      val w = Window.partitionBy(col("g")).orderBy(col("v"))
      val df = tiedFixture.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("_graft_lrn"), plan)
      val lrnLine = plan.linesIterator
        .find(l => l.contains("Window [") && l.contains("_graft_lrn")).get
      assert(lrnLine.toLowerCase.contains("rank"),
        s"local cut must be rank-based:\n$lrnLine")
      assert(!lrnLine.toLowerCase.contains("row_number"),
        s"row_number cut splits tied peers:\n$lrnLine")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("a forward-looking stacked window rejects the whole chain") {
    // lead() reads a row AFTER the current one — a row the local cut
    // may have removed even though the final filter keeps the current
    // row; the chain must be left alone
    spark.experimental.extraOptimizations = Seq(GroupedTopKPrune)
    try {
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc)
      val df = fixture
        .withColumn("rn", row_number().over(w))
        .withColumn("nxt", lead(col("v"), 1).over(w))
        .filter(col("rn") <= 3)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("SPARK_PARTITION_ID")
        && !plan.contains("spark_partition_id"),
        s"lead() must reject the rewrite:\n$plan")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("re-optimizing a pruned plan never stacks a second cut") {
    // the TreeNodeTag guard, exercised the way the advisor's scenario
    // described: push an already-optimized (pruned) plan through the
    // full default batch again — CollapseProject/ColumnPruning will
    // have reshaped the footprint, and the tag must still block a
    // re-match
    spark.experimental.extraOptimizations = Seq(GroupedTopKPrune)
    try {
      val once = topk(fixture, 3).queryExecution.optimizedPlan
      val onceWindows = once.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.size
      val twice = spark.sessionState.optimizer.execute(once)
      val twiceWindows = twice.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.size
      assert(onceWindows == 2, s"one cut + original expected:\n$once")
      assert(twiceWindows == onceWindows,
        s"re-optimization stacked windows:\n$twice")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("GraftExtensions registers the rule") {
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e)
    // buildOptimizerRules is private[sql]; resolve-level check via
    // reflection (the behavior itself is covered by the tests above)
    val m = classOf[org.apache.spark.sql.SparkSessionExtensions]
      .getDeclaredMethods.find(_.getName == "buildOptimizerRules").get
    m.setAccessible(true)
    val rules = m.invoke(e, spark).asInstanceOf[Seq[_]]
    assert(rules.contains(GroupedTopKPrune))
    // and the suites' own session is the deployed one: the native
    // functions resolve without a register call (a new session has a
    // clean registry, so no other suite's register can mask a missing
    // extension) and the optimizer runs the rule
    val fresh = SparkSpec.session.newSession()
    val md5 = fresh.sql("SELECT md5long('a'), " +
      "cast(conv(substr(md5('a'), 1, 15), 16, 10) as bigint)").head()
    assert(md5.getLong(0) === md5.getLong(1))
    assert(fresh.sql("SELECT cosine_sim(array(1D, 0D), array(1D, 0D))")
      .head().getDouble(0) === 1.0)
    assert(SparkSpec.session.sessionState.optimizer.batches
      .exists(_.rules.contains(GroupedTopKPrune)))
  }
}
