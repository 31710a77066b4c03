package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.graft.TopKPerGroupStrategy
import graft.expr.{DotProductD, MinHashSigs, RewriteDotProduct, RewriteRangeJoin, SqDistL}

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
  * themselves). Both install the lists of the companion object, in their
  * order. Session confs are not extensions: build-time users set the two
  * that `Engine.init` sets themselves, for example
  *
  * {{{
  *   spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS
  *   spark.hadoop.fs.AbstractFileSystem.file.impl=graft.sources.NioLocalFs
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
  }
}

/** The engine's session pieces, listed once for both installers. */
object GraftExtensions {
  val rules: Seq[Rule[LogicalPlan]] =
    Seq(RewriteDotProduct, RewriteRangeJoin, graft.plans.RewriteSummaryAgg)

  val strategies: Seq[SparkStrategy] = Seq(TopKPerGroupStrategy)

  /** SQL name, expression class, builder. */
  val functions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("dot_product_d", classOf[DotProductD], e => DotProductD(e.head, e(1))),
    ("sq_dist_l", classOf[SqDistL], e => SqDistL(e.head, e(1))),
    ("minhash_sigs", classOf[MinHashSigs], e => MinHashSigs(e.head)))
}
