package graft

import graft.functions.{AsOfLookup, DotProduct}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extensions: native SQL functions for the engine's custom
  * Catalyst expressions. Install at session build time, with
  * `.withExtensions(new GraftExtensions)` on the session builder or
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  *
  * [[GraftExtensions.install]] registers the same functions on an
  * already-running session (useful in shells and tests).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      exprs => DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("asof_lookup"),
      new ExpressionInfo(classOf[AsOfLookup].getName, "asof_lookup"),
      exprs => AsOfLookup(exprs(0), exprs(1))))
    // rewrite HOF-spelled dot products into the codegen'd expression
    e.injectOptimizerRule(_ => graft.functions.RewriteDotProduct)
    // plan the native as-of join (graft.plans.AsOfJoinPlan)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  /** Runtime registration on an existing session: the native SQL
    * functions plus the M1/M2 udafs. */
  def install(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "asof_lookup", exprs => AsOfLookup(exprs(0), exprs(1)), "scala_udf")
    functions.MLFunctions.register(spark)
    plans.AsOfJoin.install(spark)
  }
}
