package graft

import graft.expressions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions registering the graft extension functions on the
  * SQL surface (so `spark.sql("SELECT cosine_sim(a,b) ...")` works — the
  * engine's equivalent of Pinot's scalar-function plugin registry,
  * SURVEY.md §2.10 X0a), the interval-join optimizer rule, and the
  * literal-hoisting physical rule that lets repeated dashboard templates
  * reuse compiled code (plans.HoistLiterals).
  *
  * Usage: `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`. `Graft.session` does the
  * former.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name),
         new ExpressionInfo("graft.expressions", name),
         builder))
    }
    // interval-join binning (conf-guarded, off by default) — turns naive
    // BETWEEN theta-joins into equi-joins; see plans.RangeJoinBinningRule
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBinningRule)
    // always on: runs in query preparation and on every adaptive stage
    ext.injectColumnar(_ => graft.plans.HoistLiterals.columnarRule)
  }
}

object GraftExtensions {
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (args => CosineSimilarity(args(0), args(1))),
    "dot_product" -> (args => DotProduct(args(0), args(1))),
    "simhash64" -> (args => SimHash64(args.head)),
    "fingerprint64" -> (args => Fingerprint64(args.head)),
    "byte_avg" -> (args => ByteAvg(args.head)))

  /** True when `spark` was built with these extensions (its session state
    * carries the injected columnar rule). */
  def injected(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.sessionState.columnarRules.contains(graft.plans.HoistLiterals.columnarRule)

  /** Register on an existing session (used by tests and the local engine).
    * The optimizer rule goes through `experimental.extraOptimizations`
    * (the post-creation injection point) unless the extension already
    * injected it; it is conf-guarded so presence alone changes nothing. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
    if (!injected(spark) &&
        !spark.experimental.extraOptimizations.contains(graft.plans.RangeJoinBinningRule)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RangeJoinBinningRule
    }
  }
}
