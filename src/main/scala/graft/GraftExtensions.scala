package graft

import graft.functions.{BlockMeans, CosineSimilarity, Md5Long, WinnowFps}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Spark extension entry point: register the engine's native
  * expressions at session build time —
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * This is the deployment-grade registration path (cluster-wide via
  * config, survives session cloning); `CosineSimilarity.register`
  * remains as the per-session programmatic alternative.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("md5long"),
      new ExpressionInfo(classOf[Md5Long].getName, "md5long"),
      (exprs: Seq[Expression]) => Md5Long(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getName, "winnow_fps"),
      (exprs: Seq[Expression]) => WinnowFps(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("block_means64"),
      new ExpressionInfo(classOf[BlockMeans].getName, "block_means64"),
      (exprs: Seq[Expression]) => BlockMeans(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (exprs: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          exprs(0), exprs(1), exprs(2))))
    e.injectFunction((
      FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_contains"),
      (exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs(0), exprs(1))))
  }
}
