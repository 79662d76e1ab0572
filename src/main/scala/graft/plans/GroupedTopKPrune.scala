package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** Grouped-top-k pre-pruning: rewrite
  *
  * {{{ Filter(rn <= k, Window(rn = row_number() OVER (PARTITION BY p ORDER BY o))) }}}
  *
  * so each INPUT partition first cuts to its local top-k per group
  * before the group-keyed exchange. The naive plan shuffles the entire
  * child through |groups| reducers — the classic bottleneck when a
  * top-k-per-group query has few groups and 100 TB of input; with an
  * EMPTY partition list (global top-k) it is one reducer for the whole
  * input. The rewrite inserts a window keyed by
  * (p, spark_partition_id()): same full data volume through the first
  * exchange but spread over groups × input-splits reducers, after
  * which ≤ k·splits rows per group reach the original window.
  *
  * The filter may bound `row_number()` or `rank()`. The local cut is
  * always a local RANK (not row_number): rank never separates tied
  * order keys, which is what makes the rewrite lossless AND
  * value-preserving under ties. Concretely, for any row the original
  * filter keeps, (1) the row itself passes the cut — its local rank is
  * at most its global rank, which is at most the bounded attribute;
  * (2) every strict order-predecessor passes the cut — its global rank
  * is below the kept row's, so at most k; and (3) every TIED peer
  * passes the cut — equal keys have equal global rank. (2)+(3) mean a
  * running window frame — ROWS or RANGE, upper at or before CURRENT
  * ROW — evaluates over exactly the rows it saw unpruned: a RANGE
  * CURRENT ROW frame includes all order-key peers of the current row,
  * and a row_number-based cut could remove a peer the frame needs
  * (changing e.g. a default-frame cumulative sum under ties); the
  * rank-based cut cannot. Re-evaluated rank values are exact on the
  * pruned input (for a row of global rank r ≤ k, the r−1 globally
  * smaller rows all survive; for global rank > k, the k globally
  * smallest strict predecessors all survive, pinning the pruned rank
  * above k), so the re-applied filter keeps exactly the original rows.
  * That closure property is what admits the STACKED-window shape
  * (e.g. a running cumulative sum over the same partition/order as the
  * row_number, authored as a second `withColumn`): the rule peels the
  * chain of same-spec Window nodes under the filter, requires every
  * window expression in the chain to be deterministic with a running
  * frame, and plants the local cut below the innermost one. (With a
  * non-unique order key, ROW-frame functions are already
  * nondeterministic between tied rows; the rewrite preserves the
  * deterministic case exactly and never produces a value no unpruned
  * tie order could, same contract as the plain rule. RANGE-frame
  * values are deterministic and preserved exactly.)
  *
  * Guards: exactly one bounded rank-like (row_number/rank) in the
  * chain, deterministic partition/order expressions, a non-empty
  * order (rank without order is arbitrary), k bounded (the local cut
  * materializes k·splits rows per group, plus tied peers under rank),
  * and running frames throughout — lead()/following
  * frames reject the whole chain. A side a join broadcasts (hinted, or
  * under the broadcast threshold) is left alone: it is small by
  * definition, so the cut saves nothing, and its SPARK_PARTITION_ID
  * column would make the side nondeterministic — a dynamic-partition-
  * pruning subquery built from it is then nondeterministic too, so it
  * is never pushed into the other side's file scan and the scan reads
  * every partition (the IVF probe frame broadcast into the
  * cell-partitioned store). Re-application in the fixed-point
  * batch is prevented by a [[TreeNodeTag]] on every Window node the
  * rule rewrites or creates: a tag rides along when surrounding rules
  * (CollapseProject, ColumnPruning) transform the node, unlike the
  * plan-shape footprint a previous version matched, which those rules
  * could reshape into a spurious re-match. The same idiom appears
  * hand-written in q90/q92; this rule applies it to any user query on
  * a session built with [[graft.GraftExtensions]].
  */
object GroupedTopKPrune extends Rule[LogicalPlan] with JoinSelectionHelper {

  private val MaxK = 10000L

  /** Set on the rewritten original windows AND the local-cut window,
    * so neither ever matches the rule again.
    */
  private[graft] val PrunedTag = TreeNodeTag[Boolean]("graft.groupedTopKPruned")

  /** cond is a bound on `attr`: attr <= k, attr < k, attr = k (any
    * rank-k filter admits pruning to local rank ≤ k).
    */
  private def boundOn(cond: Expression, attr: Attribute): Option[Long] = {
    def lit(e: Expression): Option[Long] = e match {
      case Literal(v: Int, _) => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      case _ => None
    }
    cond match {
      case LessThanOrEqual(a: Attribute, l) if a.semanticEquals(attr) => lit(l)
      case LessThan(a: Attribute, l) if a.semanticEquals(attr) => lit(l).map(_ - 1)
      case EqualTo(a: Attribute, l) if a.semanticEquals(attr) => lit(l)
      case GreaterThanOrEqual(l, a: Attribute) if a.semanticEquals(attr) => lit(l)
      case GreaterThan(l, a: Attribute) if a.semanticEquals(attr) => lit(l).map(_ - 1)
      case EqualTo(l, a: Attribute) if a.semanticEquals(attr) => lit(l)
      case _ => None
    }
  }

  /** Frame upper bound at or before CURRENT ROW: the function can see
    * the current row and its order-predecessors only, never a row the
    * local cut might have removed from after the true top-k prefix.
    */
  private def runningUpper(upper: Expression): Boolean = upper match {
    case CurrentRow | UnboundedPreceding => true
    case e if e.foldable =>
      e.eval() match {
        case i: java.lang.Integer => i <= 0
        case l: java.lang.Long => l <= 0L
        case _ => false
      }
    case _ => false
  }

  /** Deterministic window expression with a running frame (row_number
    * itself qualifies: its resolved frame is ROWS UNBOUNDED PRECEDING
    * .. CURRENT ROW).
    */
  private def isRunning(e: NamedExpression): Boolean = e match {
    case a @ Alias(WindowExpression(_,
        WindowSpecDefinition(_, _, SpecifiedWindowFrame(_, _, upper))), _) =>
      a.deterministic && runningUpper(upper)
    case _ => false
  }

  private def sameSpec(a: Window, b: Window): Boolean =
    a.partitionSpec.length == b.partitionSpec.length &&
      a.partitionSpec.zip(b.partitionSpec)
        .forall { case (x, y) => x.semanticEquals(y) } &&
      a.orderSpec.length == b.orderSpec.length &&
      a.orderSpec.zip(b.orderSpec)
        .forall { case (x, y) => x.semanticEquals(y) }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case j: Join =>
      val build = getBroadcastBuildSide(j, hintOnly = true, conf)
        .orElse(getBroadcastBuildSide(j, hintOnly = false, conf))
      j.withNewChildren(Seq(
        if (build.contains(BuildLeft)) j.left else apply(j.left),
        if (build.contains(BuildRight)) j.right else apply(j.right)))
    case f @ Filter(_, top: Window) if top.getTagValue(PrunedTag).isEmpty =>
      rewrite(f, top).getOrElse(f).mapChildren(apply)
    case p => p.mapChildren(apply)
  }

  private def rewrite(f: Filter, top: Window): Option[LogicalPlan] = {
    // peel the chain of same-(partition, order) Window nodes under the
    // filter — separate withColumns over one spec plan as a stack of
    // Window nodes (or one collapsed multi-expression node)
    def peel(p: LogicalPlan, acc: List[Window]): (List[Window], LogicalPlan) =
      p match {
        case w: Window if sameSpec(w, top) && w.getTagValue(PrunedTag).isEmpty =>
          peel(w.child, acc :+ w)
        case other => (acc, other)
      }
    val (chain, child) = peel(top.child, List(top))
    val part = top.partitionSpec
    val order = top.orderSpec
    val exprs = chain.flatMap(_.windowExpressions)
    val rankLike = exprs.collect {
      case a @ Alias(WindowExpression(fn, _), _)
          if fn.isInstanceOf[RowNumber] || fn.isInstanceOf[Rank] =>
        a.toAttribute
    }
    val bound = rankLike.flatMap(a => boundOn(f.condition, a)).headOption
    bound match {
      case Some(k) if k >= 1 && k <= MaxK && rankLike.size == 1 &&
          order.nonEmpty && order.forall(_.deterministic) &&
          part.forall(_.deterministic) && exprs.forall(isRunning) =>
        val pid = Alias(SparkPartitionID(), "__graft_pid")()
        val withPid = Project(child.output :+ pid, child)
        val localPart = part :+ pid.toAttribute
        // local RANK, not row_number: under tied order keys the cut
        // must keep every peer of a surviving row or a RANGE CURRENT
        // ROW frame above would aggregate a set no unpruned run saw
        val lrn = Alias(
          WindowExpression(Rank(order.map(_.child)),
            WindowSpecDefinition(localPart, order,
              SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))),
          "__graft_lrn")()
        val localWin = Window(Seq(lrn), localPart, order, withPid, None)
        localWin.setTagValue(PrunedTag, true)
        // rank is IntegerType; the literal must match exactly —
        // optimizer-made expressions get no implicit casts, and a
        // type-mismatched comparison silently unresolves the plan
        val localCut = Filter(
          LessThanOrEqual(lrn.toAttribute, Literal(k.toInt)), localWin)
        val restored = Project(child.output, localCut)
        val rebuilt = chain.reverse.foldLeft(restored: LogicalPlan) { (c, w) =>
          val nw = w.copy(child = c)
          nw.setTagValue(PrunedTag, true)
          nw
        }
        Some(f.copy(child = rebuilt))
      case _ => None
    }
  }
}
