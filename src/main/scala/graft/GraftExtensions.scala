package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.plans.{AsOfJoinPlan, ForagePeriod, ForagePeriodEnd, PayloadPhash, RangeJoinRule,
  VecDot, VecExprs, VecSqDistL}

/** The engine's Catalyst extensions, installed one of two ways:
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * injects them into every session at build (including SQL-only clients);
  * `GraftExtensions.install(spark)` adds them to a live session. Registry
  * queries install through `Q.run`, so the harness sessions need neither
  * the config nor per-query calls.
  *
  *  - `forage_period_end(date, anchorDate)` — the 16-day year-reset period
  *    calendar (W1) as O(1) arithmetic (graft.plans.ForagePeriod)
  *  - `vec_dot(arr, arr)` — codegen'd embedding dot product / norm kernel
  *    (graft.plans.VecExprs)
  *  - `payload_phash(binary)` — 48-bit perceptual media fingerprint
  *    (graft.plans.PhashExpr)
  *  - `vec_sqdist_l(arr, arr, off, len)` — exact BIGINT subspace squared
  *    distance, the PQ kernel (graft.plans.VecExprs)
  *  - native as-of join planning (`AsOfJoinPlan.AsOfJoinStrategy`)
  *  - interval-join bucketing rewrite (`RangeJoinRule`, fires when
  *    `spark.graft.rangeJoin.bucketWidth` > 0)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
    ext.injectPlannerStrategy(_ => AsOfJoinPlan.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => RangeJoinRule)
  }
}

object GraftExtensions {

  /** (SQL name, expression class, builder) of every native function. */
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("forage_period_end", classOf[ForagePeriodEnd], ForagePeriod.builder),
    ("vec_dot", classOf[VecDot], exprs => VecDot(exprs.head, exprs(1))),
    ("payload_phash", classOf[PayloadPhash], exprs => PayloadPhash(exprs.head)),
    ("vec_sqdist_l", classOf[VecSqDistL], VecExprs.sqDistBuilder))

  /** Adds the functions, the as-of strategy and the range-join rule to a
    * live session. Idempotent: what the session already has is left alone,
    * so a repeated call registers nothing (and logs nothing). */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, cls, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.lookupFunction(id).exists(_.getClassName == cls.getName))
        registry.registerFunction(id, new ExpressionInfo(cls.getName, name), builder)
    }
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(AsOfJoinPlan.AsOfJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsOfJoinPlan.AsOfJoinStrategy
    if (!exp.extraOptimizations.contains(RangeJoinRule))
      exp.extraOptimizations = exp.extraOptimizations :+ RangeJoinRule
  }
}
