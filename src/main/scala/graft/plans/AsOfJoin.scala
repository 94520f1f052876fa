package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, TimestampType}

/** Native AS-OF join — the whole-operator rung of the builder contract
  * (custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`).
  *
  * Semantics: for every left row, attach the single right row with equal
  * keys and the greatest right-time that is `<` (strict, the reference's
  * "most recent PRIOR" shape — `BiomassHindcasts.py`'s lag attachment) or
  * `<=` left-time; unmatched left rows keep nulls (left-outer).
  *
  * Why a custom operator: composed forms either window over a UNION of both
  * relations (materialize + one wide sort of left+right together) or
  * range-join + per-key argmax (the pair blow-up). The native plan is the
  * minimal physical recipe — shuffle each side by key, sort each side by
  * (key, time) independently, then a single forward-only merge pass per
  * partition: no union materialization, no pair space, state = one row.
  * At 100 TB both sides stay partitioned on the join key; AQE still plans
  * the exchanges.
  */
object AsOfJoinPlan {

  /** Logical node. Constructed with resolved child outputs (the API below
    * re-aliases both sides, so attribute sets never collide). */
  case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
                      leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                      leftTime: Expression, rightTime: Expression,
                      strict: Boolean, toleranceUnits: Long = -1L)
      extends BinaryNode {
    override def output: Seq[Attribute] =
      left.output ++ right.output.map(_.withNullability(true))
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
      copy(left = newLeft, right = newRight)
  }

  /** Physical merge as-of join: requires co-clustering on the keys and
    * per-partition (key, time) order from the children — EnsureRequirements
    * inserts the exchanges/sorts, AQE sizes them. */
  case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                          leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                          leftTime: Expression, rightTime: Expression,
                          strict: Boolean, toleranceUnits: Long = -1L)
      extends BinaryExecNode {

    override def output: Seq[Attribute] =
      left.output ++ right.output.map(_.withNullability(true))

    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
      leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
      rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

    override def outputOrdering: Seq[SortOrder] =
      leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)

    // the merge is a per-partition map over the left side — its clustering
    // survives, so downstream key-aggregations plan without a re-shuffle
    override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
      left.outputPartitioning

    private def timeExtractor(e: Expression, output: Seq[Attribute]): InternalRow => Long = {
      val bound = BindReferences.bindReference(e, output)
      e.dataType match {
        case LongType | TimestampType => row => bound.eval(row).asInstanceOf[Long]
        case IntegerType | DateType   => row => bound.eval(row).asInstanceOf[Int].toLong
        case t => throw new IllegalArgumentException(s"as-of time must be integral/date/timestamp, got $t")
      }
    }

    override protected def doExecute(): RDD[InternalRow] = {
      val strictLocal = strict
      val tolLocal = toleranceUnits // < 0 ⇒ unbounded lookback
      val lOut = left.output
      val rOut = right.output
      val lKeysLocal = leftKeys
      val rKeysLocal = rightKeys
      val lTimeLocal = leftTime
      val rTimeLocal = rightTime
      left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
        val lKeyProj = UnsafeProjection.create(lKeysLocal, lOut)
        val rKeyProj = UnsafeProjection.create(rKeysLocal, rOut)
        val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeysLocal.map(_.dataType))
        val lTimeOf = timeExtractor(lTimeLocal, lOut)
        val rTimeOf = timeExtractor(rTimeLocal, rOut)
        val nullRight = new GenericInternalRow(rOut.size)
        val joined = new JoinedRow
        val toUnsafe = UnsafeProjection.create(output, lOut ++ rOut)
        val rBuf = rIt.buffered

        var lastMatch: InternalRow = null // copy of the best right row so far
        var lastMatchKey: InternalRow = null
        var lastMatchTime: Long = Long.MinValue

        lIt.map { lRow =>
          val lKey = lKeyProj(lRow)
          val lT = lTimeOf(lRow)
          // forward-only scan: consume right rows whose key precedes the
          // current left key, or whose key matches and time qualifies
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rKey = rKeyProj(rBuf.head)
            val cmp = keyOrd.compare(rKey, lKey)
            if (cmp < 0) {
              rBuf.next() // right key already behind every remaining left row
            } else if (cmp == 0) {
              val rT = rTimeOf(rBuf.head)
              if (if (strictLocal) rT < lT else rT <= lT) {
                lastMatch = rBuf.next().copy()
                lastMatchKey = lKey.copy()
                lastMatchTime = rT
              } else advancing = false
            } else advancing = false
          }
          val matched =
            lastMatch != null && lastMatchKey != null && keyOrd.compare(
              lastMatchKey.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow],
              lKey) == 0 &&
            (tolLocal < 0 || lT - lastMatchTime <= tolLocal)
          toUnsafe(joined(lRow, if (matched) lastMatch else nullRight))
        }
      }
    }

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
      copy(left = newLeft, right = newRight)
  }

  /** Broadcast as-of join: when the quote side is small, ship it whole and
    * binary-search per probe row — the probe side is never shuffled OR
    * sorted (map-side only, preserves upstream partitioning). This is the
    * as-of analog of BroadcastHashJoin and the plan you want at 100 TB
    * facts × small reference series. */
  case class BroadcastAsOfJoinExec(left: SparkPlan, right: SparkPlan,
                                   leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                                   leftTime: Expression, rightTime: Expression,
                                   strict: Boolean, toleranceUnits: Long = -1L)
      extends BinaryExecNode {

    override def output: Seq[Attribute] =
      left.output ++ right.output.map(_.withNullability(true))

    override def requiredChildDistribution: Seq[Distribution] = Seq(
      org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution,
      org.apache.spark.sql.catalyst.plans.physical.BroadcastDistribution(
        org.apache.spark.sql.catalyst.plans.physical.IdentityBroadcastMode))

    override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
      left.outputPartitioning
    override def outputOrdering: Seq[SortOrder] = left.outputOrdering

    private def timeOf(e: Expression, out: Seq[Attribute]): InternalRow => Long = {
      val bound = BindReferences.bindReference(e, out)
      e.dataType match {
        case LongType | TimestampType => row => bound.eval(row).asInstanceOf[Long]
        case IntegerType | DateType   => row => bound.eval(row).asInstanceOf[Int].toLong
        case t => throw new IllegalArgumentException(s"as-of time must be integral/date/timestamp, got $t")
      }
    }

    override protected def doExecute(): RDD[InternalRow] = {
      val strictLocal = strict
      val tolLocal = toleranceUnits // < 0 ⇒ unbounded lookback
      val lOut = left.output
      val rOut = right.output
      val lKeysLocal = leftKeys
      val rKeysLocal = rightKeys
      val lTimeLocal = leftTime
      val rTimeLocal = rightTime
      val bc = right.executeBroadcast[Array[InternalRow]]()
      left.execute().mapPartitions { lIt =>
        // per-partition index over the broadcast side: key → rows sorted by time
        val rKeyProj = UnsafeProjection.create(rKeysLocal, rOut)
        val rTimeOf = timeOf(rTimeLocal, rOut)
        val index = bc.value.groupBy(r => rKeyProj(r).copy())
          .map { case (k, rows) =>
            val sorted = rows.map(r => (rTimeOf(r), r)).sortBy(_._1)
            k -> (sorted.map(_._1), sorted.map(_._2))
          }
        val lKeyProj = UnsafeProjection.create(lKeysLocal, lOut)
        val lTimeOf = timeOf(lTimeLocal, lOut)
        val nullRight = new GenericInternalRow(rOut.size)
        val joined = new JoinedRow
        val toUnsafe = UnsafeProjection.create(output, lOut ++ rOut)
        lIt.map { lRow =>
          val matched = index.get(lKeyProj(lRow)) match {
            case Some((times, rows)) =>
              val lT = lTimeOf(lRow)
              // rightmost index with time < lT (or <= when non-strict)
              var lo = 0; var hi = times.length - 1; var best = -1
              while (lo <= hi) {
                val mid = (lo + hi) >>> 1
                if (if (strictLocal) times(mid) < lT else times(mid) <= lT) {
                  best = mid; lo = mid + 1
                } else hi = mid - 1
              }
              if (best >= 0 && (tolLocal < 0 || lT - times(best) <= tolLocal)) rows(best) else null
            case None => null
          }
          toUnsafe(joined(lRow, if (matched != null) matched else nullRight))
        }
      }
    }

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
      copy(left = newLeft, right = newRight)
  }

  /** Planner strategy — cost-based physical selection, the BroadcastHashJoin
    * vs SortMergeJoin decision replayed for the custom operator: a quote
    * side under the broadcast threshold plans map-side, else co-clustered
    * merge. */
  object AsOfJoinStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case AsOfJoin(l, r, lk, rk, lt, rt, strict, tol) =>
        val threshold = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
        if (threshold > 0 && r.stats.sizeInBytes >= 0 && r.stats.sizeInBytes <= threshold)
          BroadcastAsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, strict, tol) :: Nil
        else
          AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, strict, tol) :: Nil
      case _ => Nil
    }
  }

  /** Public API: `AsOf.join(purchases, views, keys = left "user_id" ->
    * right "v_user_id", times = "ts_us" -> "v_ts_us")`. Column names must be
    * disjoint across sides (every column is re-aliased, which also gives
    * the plan collision-free attribute ids).
    *
    * `tolerance` (pandas `merge_asof(tolerance=...)`): when set, a prior
    * right row only matches if `leftTime − rightTime <= tolerance`, in the
    * time column's own units (µs for timestamps, days for dates). Stale
    * quotes fall out as nulls instead of matching from arbitrarily far
    * back. */
  def join(left: DataFrame, right: DataFrame,
           keys: Seq[(String, String)],
           times: (String, String),
           strict: Boolean = true,
           tolerance: Option[Long] = None): DataFrame = {
    val spark = left.sparkSession
    graft.GraftExtensions.install(spark) // a public API, callable outside the registry
    require(left.columns.toSet.intersect(right.columns.toSet).isEmpty,
            "as-of join requires disjoint column names across sides")
    def fresh(df: DataFrame) = df.select(df.columns.map(c => col(c).as(c)).toSeq: _*)
    val lPlan = fresh(left).queryExecution.analyzed
    val rPlan = fresh(right).queryExecution.analyzed
    def attr(out: Seq[Attribute], n: String): Attribute =
      out.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${out.map(_.name)}"))
    require(tolerance.forall(_ >= 0), "as-of tolerance must be non-negative")
    val node = AsOfJoin(lPlan, rPlan,
      keys.map(k => attr(lPlan.output, k._1)), keys.map(k => attr(rPlan.output, k._2)),
      attr(lPlan.output, times._1), attr(rPlan.output, times._2), strict,
      tolerance.getOrElse(-1L))
    org.apache.spark.sql.graftshim.GraftSqlBridge.ofRows(spark, node)
  }
}
