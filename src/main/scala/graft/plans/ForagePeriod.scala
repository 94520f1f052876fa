package graft.plans

import java.time.LocalDate
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DateType}

/** W1 as a scalar expression (the "optional custom Expression" of SURVEY.md
  * §4): maps a date directly to its composite-period end without the
  * broadcast day-calendar join.
  *
  * Closed form of `get_composite_periods` (`data_extraction_v2.py:85-106`):
  * a period crossing Dec 31 is truncated to end Jan 1, and the next starts
  * Jan 2 — so within the anchor year periods tile from the anchor, and
  * within every later year they tile from Jan 2, with Jan 1 belonging to the
  * previous year's truncated period. That makes period assignment O(1)
  * arithmetic per row instead of a join.
  */
object ForagePeriod {

  /** Where year `y`'s period tiling starts. The anchor year tiles from the
    * anchor. The next year starts Jan 1 when the anchor tiling lands exactly
    * on Dec 31 (no crossing period → no truncation), else Jan 2. Every later
    * year starts Jan 2, because neither 365 nor 366 (from Jan 1) nor 364/365
    * (from Jan 2) is divisible by 16 — a crossing period is then inevitable
    * and gets truncated to end Jan 1. */
  private def schemeStart(y: Int, ad: LocalDate): LocalDate = {
    if (y == ad.getYear) ad
    else if (y == ad.getYear + 1) {
      val toYearEnd = ChronoUnit.DAYS.between(ad, LocalDate.of(ad.getYear, 12, 31)) + 1
      if (toYearEnd % 16 == 0) LocalDate.of(y, 1, 1) else LocalDate.of(y, 1, 2)
    } else LocalDate.of(y, 1, 2)
  }

  /** Period end in epoch days for date `d` (epoch days), Int.MinValue when
    * `d` precedes the anchor. Static forwarder → callable from generated
    * Java code. */
  def periodEndDaysOrMin(d: Int, anchor: Int): Int = {
    if (d < anchor) return Int.MinValue
    val dd = LocalDate.ofEpochDay(d.toLong)
    val ad = LocalDate.ofEpochDay(anchor.toLong)
    var s = schemeStart(dd.getYear, ad)
    // Jan 1 under a Jan-2 scheme belongs to the previous year's truncated
    // crossing period
    if (dd.isBefore(s)) s = schemeStart(dd.getYear - 1, ad)
    val k = ChronoUnit.DAYS.between(s, dd) / 16
    val start = s.plusDays(16L * k)
    var end = start.plusDays(15L)
    if (end.getYear != start.getYear) end = LocalDate.of(start.getYear + 1, 1, 1)
    end.toEpochDay.toInt
  }

  /** SQL builder (registered by `graft.GraftExtensions`): validates the
    * anchor is a foldable non-null DATE instead of letting a NULL literal
    * unbox silently to epoch day 0 (= anchor 1970-01-01) through
    * `asInstanceOf[Int]`, or a mistyped literal throw an opaque
    * ClassCastException at planning time. */
  def builder(exprs: Seq[Expression]): ForagePeriodEnd = {
    require(exprs.length == 2,
      s"forage_period_end(date, anchorDate) takes 2 arguments, got ${exprs.length}")
    val a = exprs(1)
    require(a.foldable && a.dataType == DateType,
      s"forage_period_end: anchor must be a foldable DATE literal, got ${a.dataType.simpleString}")
    a.eval() match {
      case n: java.lang.Number => ForagePeriodEnd(exprs.head, n.intValue())
      case _ => throw new IllegalArgumentException(
        "forage_period_end: anchor folded to NULL")
    }
  }
}

/** Codegen-capable scalar: DateType → DateType (period end), null before the
  * anchor. */
case class ForagePeriodEnd(child: Expression, anchorDays: Int)
    extends UnaryExpression {

  override def dataType: DataType = DateType
  override def nullable: Boolean = true

  override def nullSafeEval(d: Any): Any = {
    val r = ForagePeriod.periodEndDaysOrMin(d.asInstanceOf[Int], anchorDays)
    if (r == Int.MinValue) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("graftPeriodEnd")
      s"""
         |int $tmp = graft.plans.ForagePeriod.periodEndDaysOrMin($c, $anchorDays);
         |if ($tmp == Integer.MIN_VALUE) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ForagePeriodEnd =
    copy(child = newChild)
}
