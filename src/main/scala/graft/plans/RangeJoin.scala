package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Range-join bucketing — the optimizer-`Rule` rung of the Catalyst
  * surface (functions: ForagePeriod/VecExprs; strategy+physical: AsOfJoin).
  *
  * OSS Spark plans a pure interval predicate
  * `points JOIN intervals ON v >= lo AND v <= hi` as a broadcast
  * nested-loop (or cartesian) join: O(|points| × |intervals|) predicate
  * evaluations — the classic non-equi-join cliff. This rule rewrites the
  * join to a bucketed equi-join when `spark.graft.rangeJoin.bucketWidth`
  * (W > 0) is set:
  *
  *   - each interval row explodes to its covered bucket ids
  *     `floor(lo/W) .. floor(hi/W)` (a `Generate(Explode(Sequence(...)))`)
  *   - each point row gets bucket id `floor(v/W)`
  *   - the join becomes `bucket = bucket AND <original condition>` — an
  *     equi-join Spark shuffles-or-broadcasts by bucket, with the exact
  *     range predicate kept as the residual filter.
  *
  * Correct for ANY W > 0 (wide intervals just explode to more buckets; the
  * residual predicate restores exactness); W should be on the order of the
  * typical interval width. The same rewrite is what the reference's own
  * `round(X, 3)` grid-snap join does by hand (`data_extraction_v2.py:
  * 354-355`, SURVEY J2) — here it is packaged as an engine rule, so the
  * user writes the declarative BETWEEN join and the optimizer picks the
  * scalable plan. Fires only on Inner joins whose condition has NO
  * cross-side equi conjunct (if one exists Spark already hash-joins on it,
  * and the guard also makes the rule idempotent under the fixed-point
  * batch, since the rewritten join carries a bucket equality).
  */
object RangeJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  val WidthConf = "spark.graft.rangeJoin.bucketWidth"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val w = try conf.getConfString(WidthConf, "0").toLong catch { case _: NumberFormatException => 0L }
    if (w <= 0) plan
    else plan.transformUp {
      case j @ Join(_, _, Inner, Some(_), _) => rewrite(j, w).getOrElse(j)
    }
  }

  private def integral(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == IntegerType

  private def asLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  /** floor(a / w) for w > 0 in pure integer arithmetic (IntegralDivide
    * truncates toward zero; fix up negative dividends). */
  private def floorDiv(a: Expression, w: Long): Expression = {
    val aL = asLong(a)
    val q = IntegralDivide(aL, Literal(w))
    val rem = Remainder(aL, Literal(w))
    If(LessThan(rem, Literal(0L)), Subtract(q, Literal(1L)), q)
  }

  private def rewrite(j: Join, w: Long): Option[LogicalPlan] = {
    val cond = j.condition.get
    val conjuncts = splitConjunctivePredicates(cond)

    def sideOf(e: Expression): Option[Boolean] = { // Some(true)=left only
      val refs = e.references
      if (refs.isEmpty) None
      else if (refs.subsetOf(j.left.outputSet)) Some(true)
      else if (refs.subsetOf(j.right.outputSet)) Some(false)
      else None
    }

    // leave joins that already have a usable cross-side equality alone
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) =>
        (sideOf(a), sideOf(b)) match {
          case (Some(x), Some(y)) => x != y
          case _ => false
        }
      case _ => false
    }
    if (hasEqui) return None

    // normalize each comparison to (smaller, larger)
    val bounds = conjuncts.collect {
      case GreaterThanOrEqual(a, b) => (b, a)
      case GreaterThan(a, b)        => (b, a)
      case LessThanOrEqual(a, b)    => (a, b)
      case LessThan(a, b)           => (a, b)
    }.filter { case (lo, hi) => integral(lo) && integral(hi) &&
      lo.deterministic && hi.deterministic }

    // find v bounded below by one side and above by the other:
    //   lower: (lo, v)  with lo and v on opposite sides
    //   upper: (v, hi)  with the SAME v and hi on lo's side
    val candidate = (for {
      (lo, v1) <- bounds.iterator
      (v2, hi) <- bounds.iterator
      if v1.semanticEquals(v2)
      vSide <- sideOf(v1)
      loSide <- sideOf(lo)
      hiSide <- sideOf(hi)
      if loSide != vSide && hiSide != vSide
    } yield (v1, lo, hi, vSide)).find(_ => true)

    candidate.map { case (v, lo, hi, vOnLeft) =>
      val (pointPlan, intervalPlan) = if (vOnLeft) (j.left, j.right) else (j.right, j.left)

      // point side: bucket(v)
      val pb = Alias(floorDiv(v, w), "graft_range_bucket_p")()
      val pointProj = Project(pointPlan.output :+ pb, pointPlan)

      // interval side: drop unmatchable rows (hi < lo would make Sequence
      // throw; they cannot satisfy the condition anyway), then explode the
      // covered bucket range
      val filtered = Filter(LessThanOrEqual(lo, hi), intervalPlan)
      // Sequence is TimeZoneAwareExpression — it only resolves with a zone id
      val seq = Sequence(floorDiv(lo, w), floorDiv(hi, w), Some(Literal(1L)),
                         Some(conf.sessionLocalTimeZone))
      val gOut = AttributeReference("graft_range_bucket_i", LongType, nullable = false)()
      val gen = Generate(Explode(seq), unrequiredChildIndex = Nil, outer = false,
                         qualifier = None, generatorOutput = Seq(gOut), child = filtered)

      val newCond = And(EqualTo(pb.toAttribute, gOut), cond)
      val newJoin =
        if (vOnLeft) Join(pointProj, gen, Inner, Some(newCond), j.hint)
        else Join(gen, pointProj, Inner, Some(newCond), j.hint)
      // restore the original output (drop the helper bucket columns)
      Project(j.output, newJoin)
    }
  }
}
