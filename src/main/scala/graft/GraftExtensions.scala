package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.TopKPerGroupStrategy
import graft.expr.{DotProductD, RewriteDotProduct, RewriteRangeJoin}

/** Build-time installer for the graft engine pieces — the standard
  * packaging path for a Spark library:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * installs the optimizer rules, the planner strategy, and the SQL-callable
  * native functions on every session built with that config. The runtime
  * twin is [[Engine.init]], which patches an ALREADY-BUILT session (needed
  * by the Verify/Bench drivers, which construct the SparkSession
  * themselves). Session confs are not extensions: build-time users set
  * the two that `Engine.init` sets themselves, for example
  *
  * {{{
  *   spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS
  *   spark.hadoop.fs.AbstractFileSystem.file.impl=graft.sources.NioLocalFs
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RewriteDotProduct)
    ext.injectOptimizerRule(_ => RewriteRangeJoin)
    ext.injectOptimizerRule(_ => graft.plans.RewriteSummaryAgg)
    ext.injectPlannerStrategy(_ => TopKPerGroupStrategy)
    ext.injectFunction((
      FunctionIdentifier("dot_product_d"),
      new ExpressionInfo(classOf[DotProductD].getName, "dot_product_d"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProductD(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("sq_dist_l"),
      new ExpressionInfo(classOf[graft.expr.SqDistL].getName, "sq_dist_l"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.expr.SqDistL(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[graft.expr.MinHashSigs].getName, "minhash_sigs"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.expr.MinHashSigs(exprs.head)))
  }
}
