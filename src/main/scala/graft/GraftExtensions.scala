package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.DotProductLong

/** Cluster-wide registration entry point:
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or a session
  * builder's `.withExtensions(new GraftExtensions)`) makes the
  * engine's custom expressions available to every session's SQL without
  * per-session register() calls.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("dot_product_long"),
      new ExpressionInfo(classOf[DotProductLong].getName, "dot_product_long"),
      (exprs: Seq[Expression]) => DotProductLong(exprs.head, exprs(1))))
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushLimitThroughAsOfJoin)
    e.injectOptimizerRule(_ => graft.plans.LevenshteinPrefilter)
  }
}
