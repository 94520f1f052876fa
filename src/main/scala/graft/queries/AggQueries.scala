package graft.queries

import java.time.LocalDate
import graft.Q
import graft.core.{CleanOps, Tables}
import graft.oracle.Sql
import graft.window.Periods
import org.apache.spark.sql.functions._

/** Aggregation + calendar operators (SURVEY.md §2.6/§2.7): the 16-day
  * composite calendar with year reset (W1), complete-window filter (F6),
  * temporal mean/sum composites (A1/A3), watermark max (A11), distinct-date
  * discovery (A10), nonzero-share (A9), and the point→grid burn (W8/P11).
  */
object AggQueries {

  private val dec = "DECIMAL(18,2)"
  private val anchor = LocalDate.parse("1995-01-01")
  private val current = LocalDate.parse("2001-12-31")

  def all: Seq[Q] = Seq(

    // W1 in isolation: the period calendar itself (year-boundary truncation
    // to Jan 1, next window starts Jan 2, only complete windows).
    Q("w1_period_calendar", Seq("W1", "F6"),
      (s, _) => {
        import s.implicits._
        Periods.compositePeriods(anchor, current)
          .map(p => (java.sql.Date.valueOf(p.start), java.sql.Date.valueOf(p.end)))
          .toDF("p_start", "p_end")
          .orderBy("p_start")
      },
      Some(s"""${Sql.periodCtes(anchor, current)}
              |SELECT p_start, p_end FROM periods WHERE p_end <= DATE '$current'
              |ORDER BY p_start""".stripMargin)),

    // The flagship stage-1 composite: assign facts to 16-day periods via a
    // broadcast day-calendar equi-join (no shuffle on the fact side), then
    // per-period mean (A1, null-skipping) and sum (A3).
    Q("w1_period_composite", Seq("W1", "F6", "A1", "A2", "A3", "A12"),
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(to_date(col("l_shipdate")).as("sd"), col("l_quantity"),
                  col("l_extendedprice"), col("l_discount"))
        Periods.assign(li, "sd", anchor, current)
          .groupBy("p_start", "p_end")
          .agg(count(lit(1)).as("n_obs"),
               sum(col("l_quantity")).as("sum_qty"),
               avg(col("l_quantity")).as("avg_qty"),
               expr(s"CAST(sum(CAST(l_extendedprice AS $dec) * (1 - CAST(l_discount AS $dec))) AS DOUBLE)").as("revenue"))
          .orderBy("p_end")
      },
      Some(s"""${Sql.periodCtes(anchor, current)}
              |SELECT p_start, p_end, count(*) AS n_obs, sum(l_quantity) AS sum_qty,
              |  avg(l_quantity) AS avg_qty,
              |  CAST(sum(CAST(l_extendedprice AS $dec) * (1 - CAST(l_discount AS $dec))) AS DOUBLE) AS revenue
              |FROM lineitem JOIN period_days ON CAST(l_shipdate AS DATE) = d
              |GROUP BY p_start, p_end ORDER BY p_end""".stripMargin)),

    // W1 via the custom codegen'd scalar expression (graft.plans.
    // ForagePeriodEnd) instead of the calendar join: O(1) arithmetic per
    // row, zero extra operators in the plan. Same oracle as the join form —
    // the recursive-CTE calendar — so the closed form is proven equivalent.
    Q("w1_period_expr_scalar", Seq("W1", "F6", "A1", "§2.10"),
      (s, dir) => {
        Tables.lineitem(s, dir)
          .select(to_date(col("l_shipdate")).as("sd"), col("l_quantity"))
          .where(col("sd") >= lit(anchor.toString))
          .withColumn("p_end", expr(s"forage_period_end(sd, DATE '$anchor')"))
          .where(col("p_end") <= lit(current.toString)) // F6 complete windows
          .groupBy("p_end")
          .agg(count(lit(1)).as("n_obs"), sum(col("l_quantity")).as("sum_qty"))
          .orderBy("p_end")
      },
      Some(s"""${Sql.periodCtes(anchor, current)}
              |SELECT p_end, count(*) AS n_obs, sum(l_quantity) AS sum_qty
              |FROM lineitem JOIN period_days ON CAST(l_shipdate AS DATE) = d
              |GROUP BY p_end ORDER BY p_end""".stripMargin)),

    // A11 + §2.9: high-watermark resolution — resume point = max(date) + 1.
    Q("a11_watermark_max", Seq("A11", "P18"),
      (s, dir) =>
        Tables.lineitem(s, dir)
          .agg(max(to_date(col("l_shipdate"))).as("max_d"))
          .select(col("max_d"), date_add(col("max_d"), 1).as("resume_start")),
      Some("""SELECT max(CAST(l_shipdate AS DATE)) AS max_d,
             |  max(CAST(l_shipdate AS DATE)) + 1 AS resume_start
             |FROM lineitem""".stripMargin)),

    // A10: distinct-date discovery (rasterize.py:80-82 unique-loop).
    Q("a10_distinct_dates", Seq("A10", "F5"),
      (s, dir) =>
        Tables.orders(s, dir)
          .select(to_date(col("o_orderdate")).as("d")).distinct().orderBy("d"),
      Some("SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders ORDER BY d")),

    // A9: nonzero-share scalar aggregate (gwr_model.py:43-48) — integer
    // counts divided once, so the double result is bit-deterministic.
    Q("a9_nonzero_share", Seq("A9"),
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg((sum(when(col("l_discount") =!= 0, 1).otherwise(0)).cast("double") * 100 /
                count(lit(1))).as("pct_discounted"),
               count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  CAST(sum(CASE WHEN l_discount <> 0 THEN 1 ELSE 0 END) AS DOUBLE) * 100 / count(*) AS pct_discounted,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Skew pattern: two-phase salted aggregation over a 5-value hot key
    // (event_type). Decimal sums are associativity-free, so the salted
    // two-phase result is bit-identical to the direct GROUP BY — which is
    // the oracle.
    Q("a_salted_two_phase", Seq("A1", "A12", "skew"),
      (s, dir) => {
        val e = Tables.events(s, dir)
        graft.join.Salted.saltedSumCount(
            e, "event_type",
            expr(s"CAST(value AS $dec)"), entropy = col("event_id"), salts = 16)
          .select(col("event_type"), expr(s"CAST(CAST(total AS $dec) AS DOUBLE)").as("total"), col("n"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type, CAST(CAST(sum(CAST(value AS $dec)) AS $dec) AS DOUBLE) AS total,
              |  count(*) AS n
              |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // W8 + P11: point→grid burn. Points are affine-projected to integer
    // cells; collisions resolve deterministically (min event_id wins — the
    // declared version of rasterio's burn-order semantics); non-positive
    // burned values become the nodata sentinel.
    Q("w8_grid_burn", Seq("W8", "P11", "J3"),
      (s, dir) =>
        Tables.events(s, dir)
          .select(to_date(col("ts")).as("d"),
                  CleanOps.gridSnap(col("value"), 0d, 50d).as("grid_row"),
                  (col("user_id") % 20).as("grid_col"),
                  col("value"), col("event_id"))
          .groupBy("d", "grid_row", "grid_col")
          .agg(expr("min_by(value, event_id)").as("first_v"), count(lit(1)).as("n_burned"))
          .select(col("d"), col("grid_row"), col("grid_col"),
                  CleanOps.negativeToSentinel(col("first_v") - 250d).as("burned"),
                  col("n_burned"))
          .orderBy("d", "grid_row", "grid_col"),
      Some("""SELECT CAST(ts AS DATE) AS d, CAST(floor(value / 50) AS BIGINT) AS grid_row,
             |  user_id % 20 AS grid_col,
             |  CASE WHEN min_by(value, event_id) - 250 <= 0 THEN -99999
             |       ELSE min_by(value, event_id) - 250 END AS burned,
             |  count(*) AS n_burned
             |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Exact distributed quantiles, rank-based: p is "the smallest value
    // whose rank reaches ⌈p·n⌉" — pure integer/element logic, no
    // interpolation, so any two engines agree bit-for-bit (built-in
    // percentile_cont/quantile interpolation formulas differ in the last
    // ulp across engines and are unhashable). At 100 TB the same contract
    // is served by approx_percentile's sketch (mergeable, one pass); this
    // exact form is the oracle-able reference and the small-key path.
    Q("a_exact_quantiles", Seq("A9", "A13", "W9", "§2.10"),
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("v")
        val wn = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
        Tables.events(s, dir)
          .select(col("event_type"), col("value").cast("double").as("v"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wn))
          .groupBy("event_type")
          .agg(min(when(col("rn") >= ceil(col("n") * 0.5), col("v"))).as("p50"),
               min(when(col("rn") >= ceil(col("n") * 0.9), col("v"))).as("p90"),
               min(when(col("rn") >= ceil(col("n") * 0.99), col("v"))).as("p99"),
               max(col("n")).as("n"))
          .orderBy("event_type")
      },
      Some("""WITH r AS (
             |  SELECT event_type, CAST(value AS DOUBLE) AS v,
             |    row_number() OVER (PARTITION BY event_type ORDER BY CAST(value AS DOUBLE)) AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS n
             |  FROM events)
             |SELECT event_type,
             |  min(CASE WHEN rn >= ceil(n * 0.5) THEN v END) AS p50,
             |  min(CASE WHEN rn >= ceil(n * 0.9) THEN v END) AS p90,
             |  min(CASE WHEN rn >= ceil(n * 0.99) THEN v END) AS p99,
             |  max(n) AS n
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),
      note = "rank-based exact quantiles (sketchable via approx_percentile at scale)"),

    // The HIGH-cardinality face of the exact quantile/MAD contract:
    // per-order median and MAD over ~n/4 groups (15k at sf0.01, millions at
    // scale). Where a_exact_quantiles / w_anomaly_mad sort full low-
    // cardinality partitions (exact baselines, skew-prone by construction
    // — the sketch is their scale path), this variant is the shape that IS
    // the scale path when the key is fine-grained: groupBy + collect_list
    // partial-aggregates map-side, per-group state is the group's own rows
    // (bounded: ≤7 lines/order in TPC-H-shaped data), and the shuffle
    // balances across any executor count because no reducer sees more than
    // one group's rows at once. Lower-median by integer rank on the sorted
    // array; MAD = median of |v − median| via the same rank — all integer
    // indexing + exact double compares, bit-identical across engines.
    Q("a_exact_median_mad_highcard", Seq("A9", "A13", "A12", "§2.10"),
      (s, dir) =>
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_extendedprice").cast("double").as("v"))
          .groupBy("l_orderkey")
          .agg(sort_array(collect_list(col("v"))).as("vs"), count(lit(1)).as("n"))
          .select(
            col("l_orderkey"), col("n"),
            expr("element_at(vs, CAST((n + 1) DIV 2 AS INT))").as("med"),
            expr("element_at(sort_array(transform(vs, x -> abs(x - element_at(vs, CAST((n + 1) DIV 2 AS INT))))), CAST((n + 1) DIV 2 AS INT))").as("mad"))
          .orderBy("l_orderkey"),
      Some("""WITH g AS (
             |  SELECT l_orderkey,
             |    list_sort(list(CAST(l_extendedprice AS DOUBLE))) AS vs,
             |    count(*) AS n
             |  FROM lineitem GROUP BY 1)
             |SELECT l_orderkey, n,
             |  vs[CAST((n + 1) // 2 AS INTEGER)] AS med,
             |  list_sort(list_transform(vs, x -> abs(x - vs[CAST((n + 1) // 2 AS INTEGER)])))[CAST((n + 1) // 2 AS INTEGER)] AS mad
             |FROM g ORDER BY l_orderkey""".stripMargin),
      note = "exact per-group median+MAD at high key cardinality: partial-aggregating, skew-free — the exact path's scale shape"),

    // KMV distinct sketch (graft.agg.KmvSketch, typed Aggregator): the
    // mergeable estimator next to the exact countDistinct. Because the
    // hash is md5-derived, the oracle reproduces the same k-min set and
    // the same estimate — a deterministic sketch, verifiable bit-for-bit
    // (HLL++'s approx_count_distinct can't cross engines like this).
    Q("sketch_kmv_distinct", Seq("A12", "A13", "§2.10", "sampling"),
      (s, dir) => {
        val kmv = udaf(new graft.agg.KmvSketch(64, graft.dedup.Hashing.P.toDouble))
        Tables.events(s, dir)
          .select(col("event_type"),
                  col("user_id"),
                  expr(graft.dedup.Hashing.sparkMd5Mod("CAST(user_id AS STRING)")).as("h"))
          .groupBy("event_type")
          .agg(countDistinct("user_id").as("n_exact"),
               round(kmv(col("h")), 6).as("kmv_est"))
          .orderBy("event_type")
      },
      Some {
        val h = graft.dedup.Hashing.duckMd5Mod("CAST(user_id AS VARCHAR)")
        val P = graft.dedup.Hashing.P
        s"""WITH hx AS (SELECT DISTINCT event_type, $h AS h FROM events),
           |r AS (SELECT event_type, h,
           |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
           |    count(*) OVER (PARTITION BY event_type) AS d
           |  FROM hx),
           |est AS (SELECT event_type,
           |    CASE WHEN max(d) < 64 THEN CAST(max(d) AS DOUBLE)
           |         ELSE 63.0 * $P.0 / CAST(max(CASE WHEN rk = 64 THEN h END) AS DOUBLE)
           |    END AS e
           |  FROM r GROUP BY 1),
           |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1)
           |SELECT ex.event_type, ex.n_exact, round(est.e, 6) AS kmv_est
           |FROM ex JOIN est USING (event_type)
           |ORDER BY event_type""".stripMargin
      },
      note = "mergeable k-min-values sketch (typed Aggregator) vs exact, same answer either merge order"),

    // KMV SET ALGEBRA — the reason warehouses keep sketches instead of
    // counts: distinct-union, distinct-intersection and Jaccard of two key
    // sets (parts shipped in Jan '97 vs parts with a deep-discount return)
    // estimated from the
    // sketches alone, no re-scan of the fact table. Union sketch = k
    // smallest of the merged hash sets; intersection à la
    // Beyer et al. (SIGMOD'07): ρ = members of the union sketch lying in
    // BOTH per-set sketches, est∩ = ρ/k · est∪. Hash ranks are integers and
    // every estimate is one division of exact operands, so the numbers are
    // engine-exact. Each per-class top-k prune is the window form of the
    // bounded top-k Aggregator (w_topk_bounded) — at 100 TB that aggregator
    // carries O(k) state per partition and this plan's global sort sees
    // ≤ 3k rows, never the key universe. Exact counts ride along as audit.
    Q("sketch_kmv_setops", Seq("A12", "A13", "W5", "§2.10", "sampling"),
      (s, dir) => {
        val P = graft.dedup.Hashing.P
        val K = 64
        val kf = Tables.lineitem(s, dir)
          .groupBy("l_partkey")
          .agg(max(when(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
                        col("l_shipdate") < lit("1997-02-01").cast("timestamp"), 1)
                     .otherwise(0)).as("fa"),
               max(when(col("l_returnflag") === "R" && col("l_discount") > 0.08, 1)
                     .otherwise(0)).as("fb"))
          .where(col("fa") === 1 || col("fb") === 1)
        val exact = kf.agg(
          sum("fa").as("n_exact_a"), sum("fb").as("n_exact_b"),
          count(lit(1)).as("n_exact_union"),
          sum(expr("fa * fb")).as("n_exact_intersect"))
        val hx = kf
          .select(expr(graft.dedup.Hashing.sparkMd5Mod("CAST(l_partkey AS STRING)")).as("h"),
                  col("fa"), col("fb"))
          .groupBy("h").agg(max("fa").as("fa"), max("fb").as("fb"))
        val d = hx.agg(sum("fa").as("da"), sum("fb").as("db"), count(lit(1)).as("du"))
        val wClass = org.apache.spark.sql.expressions.Window.partitionBy("fa", "fb").orderBy("h")
        val pruned = hx.withColumn("rc", row_number().over(wClass))
          .where(col("rc") <= K).drop("rc")
        // boundedWindow: `pruned` keeps row_number <= K per (fa, fb)
        // class, so at most 4K rows reach it
        val wu = graft.core.Shape.boundedWindow("h")
        val wuF = wu.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                                 org.apache.spark.sql.expressions.Window.currentRow)
        val t = pruned
          .withColumn("ru", row_number().over(wu))
          .withColumn("ra", sum("fa").over(wuF))
          .withColumn("rb", sum("fb").over(wuF))
        val th = t.agg(
          max(when(col("fa") === 1 && col("ra") === K, col("h"))).as("tha"),
          max(when(col("fb") === 1 && col("rb") === K, col("h"))).as("thb"),
          max(when(col("ru") === K, col("h"))).as("thu"))
        val rho = t.crossJoin(broadcast(th))
          .where(col("ru") <= K && col("fa") === 1 && col("fb") === 1 &&
                 col("h") <= coalesce(col("tha"), lit(P)) &&
                 col("h") <= coalesce(col("thb"), lit(P)))
          .agg(count(lit(1)).as("rho"))
        exact.crossJoin(d).crossJoin(th).crossJoin(rho)
          .select(col("n_exact_a"), col("n_exact_b"),
                  col("n_exact_union"), col("n_exact_intersect"),
                  expr(s"round(CASE WHEN da < $K THEN CAST(da AS DOUBLE) ELSE ${K - 1}.0 * $P.0 / CAST(tha AS DOUBLE) END, 6)").as("kmv_a"),
                  expr(s"round(CASE WHEN db < $K THEN CAST(db AS DOUBLE) ELSE ${K - 1}.0 * $P.0 / CAST(thb AS DOUBLE) END, 6)").as("kmv_b"),
                  expr(s"round(CASE WHEN du < $K THEN CAST(du AS DOUBLE) ELSE ${K - 1}.0 * $P.0 / CAST(thu AS DOUBLE) END, 6)").as("kmv_union"),
                  expr(s"round(CASE WHEN du < $K THEN CAST(rho AS DOUBLE) ELSE rho * (${K - 1}.0 * $P.0 / CAST(thu AS DOUBLE)) / $K.0 END, 6)").as("kmv_intersect"),
                  expr(s"round((CASE WHEN du < $K THEN CAST(rho AS DOUBLE) ELSE rho * (${K - 1}.0 * $P.0 / CAST(thu AS DOUBLE)) / $K.0 END) / (CASE WHEN du < $K THEN CAST(du AS DOUBLE) ELSE ${K - 1}.0 * $P.0 / CAST(thu AS DOUBLE) END), 6)").as("jaccard_est"))
      },
      Some {
        val h = graft.dedup.Hashing.duckMd5Mod("CAST(l_partkey AS VARCHAR)")
        val P = graft.dedup.Hashing.P
        val K = 64
        s"""WITH kf AS (
           |  SELECT l_partkey,
           |    max(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
           |             AND l_shipdate < TIMESTAMP '1997-02-01' THEN 1 ELSE 0 END) AS fa,
           |    max(CASE WHEN l_returnflag = 'R' AND l_discount > 0.08 THEN 1 ELSE 0 END) AS fb
           |  FROM lineitem GROUP BY 1),
           |kf2 AS (SELECT * FROM kf WHERE fa = 1 OR fb = 1),
           |ex AS (SELECT CAST(sum(fa) AS BIGINT) AS n_exact_a,
           |         CAST(sum(fb) AS BIGINT) AS n_exact_b,
           |         count(*) AS n_exact_union,
           |         CAST(sum(fa * fb) AS BIGINT) AS n_exact_intersect
           |       FROM kf2),
           |hx AS (SELECT $h AS h, max(fa) AS fa, max(fb) AS fb FROM kf2 GROUP BY 1),
           |d AS (SELECT CAST(sum(fa) AS BIGINT) AS da, CAST(sum(fb) AS BIGINT) AS db,
           |        count(*) AS du FROM hx),
           |pr AS (SELECT h, fa, fb FROM (
           |         SELECT h, fa, fb,
           |           row_number() OVER (PARTITION BY fa, fb ORDER BY h) AS rc
           |         FROM hx) z WHERE rc <= $K),
           |t AS (SELECT h, fa, fb,
           |        row_number() OVER (ORDER BY h) AS ru,
           |        sum(fa) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ra,
           |        sum(fb) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rb
           |      FROM pr),
           |th AS (SELECT max(CASE WHEN fa = 1 AND ra = $K THEN h END) AS tha,
           |         max(CASE WHEN fb = 1 AND rb = $K THEN h END) AS thb,
           |         max(CASE WHEN ru = $K THEN h END) AS thu
           |       FROM t),
           |rho AS (SELECT count(*) AS rho FROM t, th
           |        WHERE ru <= $K AND fa = 1 AND fb = 1
           |          AND h <= coalesce(tha, $P) AND h <= coalesce(thb, $P))
           |SELECT n_exact_a, n_exact_b, n_exact_union, n_exact_intersect,
           |  round(CASE WHEN da < $K THEN CAST(da AS DOUBLE) ELSE ${K - 1}.0 * $P.0 / CAST(tha AS DOUBLE) END, 6) AS kmv_a,
           |  round(CASE WHEN db < $K THEN CAST(db AS DOUBLE) ELSE ${K - 1}.0 * $P.0 / CAST(thb AS DOUBLE) END, 6) AS kmv_b,
           |  round(CASE WHEN du < $K THEN CAST(du AS DOUBLE) ELSE ${K - 1}.0 * $P.0 / CAST(thu AS DOUBLE) END, 6) AS kmv_union,
           |  round(CASE WHEN du < $K THEN CAST(rho AS DOUBLE) ELSE rho * (${K - 1}.0 * $P.0 / CAST(thu AS DOUBLE)) / $K.0 END, 6) AS kmv_intersect,
           |  round((CASE WHEN du < $K THEN CAST(rho AS DOUBLE) ELSE rho * (${K - 1}.0 * $P.0 / CAST(thu AS DOUBLE)) / $K.0 END)
           |    / (CASE WHEN du < $K THEN CAST(du AS DOUBLE) ELSE ${K - 1}.0 * $P.0 / CAST(thu AS DOUBLE) END), 6) AS jaccard_est
           |FROM ex, d, th, rho""".stripMargin
      },
      note = "KMV set algebra (Beyer et al.): union/intersection/Jaccard from the sketches alone, exact audits alongside; bounded top-k prune is the scale path"),

    // Exact WEIGHTED median (quantity-weighted price per return flag):
    // order by value, accumulate integer weights, and the answer is the
    // minimum value whose running weight reaches half the total — a
    // monotone suffix, so a conditional min replaces the rank-pick and the
    // whole thing is one window pass + one aggregate. The picked value is
    // tie-independent (equal values crossing the threshold ARE the answer),
    // so no float arithmetic ever happens — the median is a value lookup,
    // not a computed statistic. Same skew caveat as the other exact
    // rank paths: per-group sort, low-cardinality key, with the sketch
    // family as the 100-TB alternative.
    Q("a_weighted_median", Seq("A9", "A13", "W9", "§2.10"),
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")
          .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                       org.apache.spark.sql.expressions.Window.currentRow)
        val wc = org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")
        Tables.lineitem(s, dir)
          .select(col("l_returnflag"), col("l_extendedprice"),
                  col("l_orderkey"), col("l_linenumber"),
                  expr("CAST(l_quantity AS BIGINT)").as("q"))
          .withColumn("cumw", sum("q").over(w))
          .withColumn("totw", sum("q").over(wc))
          .groupBy("l_returnflag")
          .agg(max("totw").as("total_weight"),
               min(when(col("cumw") * 2 >= col("totw"), col("l_extendedprice")))
                 .as("weighted_median_price"))
          .orderBy("l_returnflag")
      },
      Some("""WITH t AS (
             |  SELECT l_returnflag, l_extendedprice,
             |    CAST(sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag
             |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw,
             |    CAST(sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag) AS BIGINT) AS totw
             |  FROM lineitem)
             |SELECT l_returnflag, CAST(max(totw) AS BIGINT) AS total_weight,
             |  min(CASE WHEN cumw * 2 >= totw THEN l_extendedprice END)
             |    AS weighted_median_price
             |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),
      note = "exact weighted median as a conditional min over the running-weight suffix: value lookup, no float math"),

    // HLL REAGGREGATION — why warehouses store registers, not counts: the
    // per-group register vectors (64 buckets, max-ρ each) merge by
    // element-wise max into the GLOBAL sketch, and because max is
    // associative the merged registers are IDENTICAL to the registers of a
    // direct global pass — the query proves it by computing both paths and
    // comparing the estimates bit-for-bit (merge_lossless = 1). This is the
    // pre-aggregated-cube contract: per-partition/per-day sketches roll up
    // to any coarser grain with zero extra error. Register arithmetic is
    // the same portable 42-arm ρ CASE the HllSketch Aggregator uses;
    // shuffle volume is O(groups × 64) registers, never the key universe.
    Q("sketch_hll_rollup", Seq("A12", "A4", "W5", "§2.10", "sampling"),
      (s, dir) => {
        val x = graft.dedup.Hashing.sparkMd5Raw("CAST(user_id AS STRING)")
        val rho = graft.agg.HllSketch.rhoSql("rest")
        val estE = "CASE WHEN 0.709 * 4096.0 / (s_hit + (64 - nb) * 1.0) <= 160.0 AND (64 - nb) > 0 " +
                   "THEN 64.0 * ln(64.0 / (64 - nb)) " +
                   "ELSE 0.709 * 4096.0 / (s_hit + (64 - nb) * 1.0) END"
        val hb = Tables.events(s, dir)
          .select(col("event_type"), col("user_id"), expr(x).as("xx"))
          .select(col("event_type"), col("user_id"),
                  expr("xx % 64").as("bucket"), expr("xx div 64").as("rest"))
        def estimate(reg: org.apache.spark.sql.DataFrame, name: String) =
          reg.agg(sum(expr("CAST(1.0 AS DOUBLE) / CAST(shiftleft(CAST(1 AS BIGINT), m) AS DOUBLE)")).as("s_hit"),
                  count(lit(1)).as("nb"))
            .select(round(expr(estE), 6).as(name))
        val perType = hb.groupBy("event_type", "bucket").agg(max(expr(rho)).as("m"))
        val merged = estimate(perType.groupBy("bucket").agg(max("m").as("m")), "hll_merged")
        val direct = estimate(hb.groupBy("bucket").agg(max(expr(rho)).as("m")), "hll_direct")
        val exact = Tables.events(s, dir).agg(countDistinct("user_id").as("n_exact"))
        exact.crossJoin(merged).crossJoin(direct)
          .withColumn("merge_lossless",
                      (col("hll_merged") === col("hll_direct")).cast("int"))
      },
      Some {
        val x = graft.dedup.Hashing.duckMd5Raw("CAST(user_id AS VARCHAR)")
        val rho = graft.agg.HllSketch.rhoSql("rest")
        val estE = "CASE WHEN 0.709 * 4096.0 / (s_hit + (64 - nb) * 1.0) <= 160.0 AND (64 - nb) > 0 " +
                   "THEN 64.0 * ln(64.0 / (64 - nb)) " +
                   "ELSE 0.709 * 4096.0 / (s_hit + (64 - nb) * 1.0) END"
        s"""WITH hb AS (SELECT event_type, x % 64 AS bucket, x // 64 AS rest
           |  FROM (SELECT event_type, user_id, $x AS x FROM events) t),
           |per_type AS (SELECT event_type, bucket, max($rho) AS m FROM hb GROUP BY 1, 2),
           |merged_reg AS (SELECT bucket, max(m) AS m FROM per_type GROUP BY 1),
           |direct_reg AS (SELECT bucket, max($rho) AS m FROM hb GROUP BY 1),
           |me AS (SELECT round($estE, 6) AS hll_merged FROM (
           |  SELECT sum(CAST(1.0 AS DOUBLE) / (CAST(1 AS BIGINT) << m)) AS s_hit,
           |    count(*) AS nb FROM merged_reg) t),
           |de AS (SELECT round($estE, 6) AS hll_direct FROM (
           |  SELECT sum(CAST(1.0 AS DOUBLE) / (CAST(1 AS BIGINT) << m)) AS s_hit,
           |    count(*) AS nb FROM direct_reg) t),
           |ex AS (SELECT count(DISTINCT user_id) AS n_exact FROM events)
           |SELECT n_exact, hll_merged, hll_direct,
           |  CAST(hll_merged = hll_direct AS INTEGER) AS merge_lossless
           |FROM ex, me, de""".stripMargin
      },
      note = "register-level HLL rollup: per-group sketches merge losslessly to the global one (max is associative) — the pre-aggregated-cube contract, proven in-query"),

    // Sweep-line maximum concurrency: how many 10-minute activity windows
    // overlap at the busiest instant, per event type. Each event becomes a
    // +1 at its start and a −1 at its (half-open) end; one sort per type
    // and a running sum IS the concurrency profile, its max the answer —
    // O(n log n) where the naive interval self-join is O(n²). Boundary
    // convention: at equal timestamps the −1 sorts first (half-open
    // intervals never touch), making every prefix value — and therefore
    // the max and its first-reach time — engine-exact integers.
    Q("w_concurrency_sweep", Seq("W3", "W9", "F8", "A11", "session"),
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
          .select(col("event_type"), unix_micros(col("ts")).as("t0"))
        val pts = ev.select(col("event_type"), col("t0").as("t"), lit(1L).as("d"))
          .union(ev.select(col("event_type"), (col("t0") + 600000000L).as("t"), lit(-1L).as("d")))
        val run = pts.withColumn("run",
          sum("d").over(W.partitionBy("event_type").orderBy(col("t"), col("d"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)))
        val mx = run.groupBy("event_type").agg(max("run").as("max_concurrent"))
        run.join(mx, "event_type")
          .where(col("run") === col("max_concurrent"))
          .groupBy("event_type")
          .agg(max("run").as("max_concurrent"), min("t").as("first_peak_us"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type, epoch_us(ts) AS t0 FROM events),
             |pts AS (SELECT event_type, t0 AS t, CAST(1 AS BIGINT) AS d FROM ev
             |        UNION ALL
             |        SELECT event_type, t0 + 600000000 AS t, CAST(-1 AS BIGINT) AS d FROM ev),
             |r AS (SELECT event_type, t,
             |        CAST(sum(d) OVER (PARTITION BY event_type ORDER BY t, d
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
             |      FROM pts),
             |mx AS (SELECT event_type, max(run) AS max_concurrent FROM r GROUP BY 1)
             |SELECT r.event_type, CAST(max(r.run) AS BIGINT) AS max_concurrent,
             |  min(r.t) AS first_peak_us
             |FROM r JOIN mx ON r.event_type = mx.event_type AND r.run = mx.max_concurrent
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      note = "interval max-concurrency by sweep line: +1/−1 running sum, one sort per key vs the quadratic self-join"),

    // HLL-shaped register sketch (graft.agg.HllSketch): the FIXED-SIZE
    // companion to KMV — 64 one-byte registers whatever the cardinality,
    // merge = elementwise max. This is the one-pass distinct-count shape for
    // a 100 TB corpus (O(executors × 64) merge traffic). 2^-M terms are
    // exact powers of two and their ≤64-term sum is exact in any order;
    // the small-range linear-counting correction's ln(64/V) has only 64
    // possible inputs, verified bit-identical between JVM Math.log and
    // DuckDB ln — so the oracle reproduces the estimate bit-for-bit.
    Q("sketch_hll_distinct", Seq("A12", "§2.10", "sampling"),
      (s, dir) => {
        val hll = udaf(new graft.agg.HllSketch)
        Tables.events(s, dir)
          .select(col("event_type"),
                  col("user_id"),
                  expr(graft.dedup.Hashing.sparkMd5Raw("CAST(user_id AS STRING)")).as("h"))
          .groupBy("event_type")
          .agg(countDistinct("user_id").as("n_exact"),
               round(hll(col("h")), 6).as("hll_est"))
          .orderBy("event_type")
      },
      Some {
        val x = graft.dedup.Hashing.duckMd5Raw("CAST(user_id AS VARCHAR)")
        val rho = graft.agg.HllSketch.rhoSql("rest")
        s"""WITH hx AS (SELECT event_type, $x AS x FROM events),
           |hb AS (SELECT event_type, x % 64 AS bucket, x // 64 AS rest FROM hx),
           |hr AS (SELECT event_type, bucket, max($rho) AS m FROM hb GROUP BY 1, 2),
           |reg AS (SELECT event_type,
           |    sum(CAST(1.0 AS DOUBLE) / (CAST(1 AS BIGINT) << m)) AS s_hit,
           |    count(*) AS nb
           |  FROM hr GROUP BY 1),
           |est AS (SELECT event_type,
           |    CAST(0.709 AS DOUBLE) * 4096.0 / (s_hit + (64 - nb) * CAST(1.0 AS DOUBLE)) AS raw,
           |    64 - nb AS nzero
           |  FROM reg),
           |corr AS (SELECT event_type,
           |    CASE WHEN raw <= 160.0 AND nzero > 0
           |         THEN 64.0 * ln(CAST(64.0 AS DOUBLE) / nzero)
           |         ELSE raw END AS e
           |  FROM est),
           |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1)
           |SELECT ex.event_type, ex.n_exact, round(corr.e, 6) AS hll_est
           |FROM ex JOIN corr USING (event_type)
           |ORDER BY event_type""".stripMargin
      },
      note = "fixed-size mergeable register sketch (typed Aggregator) with linear-counting small-range fix; oracle-exact"),

    // Histogram-quantile sketch — the third mergeable sketch next to
    // KMV/HLL, for the quantile contract: a fixed-width integer histogram
    // (~105 bins over the price domain) is built with one map-side-combined
    // groupBy (O(bins) state per partition, O(executors × bins) merge
    // traffic — the one-pass 100 TB shape, vs a_exact_quantiles' full sort),
    // then each quantile reads the first bin whose cumulative count reaches
    // ⌈q·n⌉. Bin ids, counts, and rank thresholds are all integers, so the
    // sketch — unlike t-digest/approx_percentile — is deterministic and the
    // oracle reproduces it bit-for-bit. Resolution = bin width (1000).
    Q("sketch_hist_quantiles", Seq("A9", "A12", "§2.10", "sampling"),
      (s, dir) => {
        import s.implicits._
        val W = org.apache.spark.sql.expressions.Window
        val hist = Tables.lineitem(s, dir)
          .select(expr("CAST(floor(l_extendedprice / 1000) AS INT)").as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("cnt"))
        val cum = hist
          .withColumn("cum", sum("cnt").over(
            W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)))
          .withColumn("tot", sum("cnt").over(
            W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
        cum.crossJoin(Seq(0.25, 0.5, 0.9, 0.99).toDF("q"))
          .where(col("cum") >= ceil(col("q") * col("tot")))
          .groupBy("q")
          .agg(min("bin").as("bin"), max("tot").as("n"))
          .withColumn("est_lo", col("bin").cast("double") * 1000.0)
          .orderBy("q")
      },
      Some("""WITH h AS (
             |  SELECT CAST(floor(l_extendedprice / 1000) AS INTEGER) AS bin,
             |    count(*) AS cnt
             |  FROM lineitem GROUP BY 1),
             |c AS (SELECT bin, cnt,
             |    CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum,
             |    CAST(sum(cnt) OVER () AS BIGINT) AS tot
             |  FROM h),
             |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.9, 0.99]) AS DOUBLE) AS q)
             |SELECT q, min(bin) AS bin, max(tot) AS n,
             |  CAST(min(bin) AS DOUBLE) * 1000.0 AS est_lo
             |FROM qs JOIN c ON cum >= ceil(q * tot)
             |GROUP BY q ORDER BY q""".stripMargin),
      note = "fixed-width integer histogram quantiles: mergeable one-pass sketch, deterministic bins"),

    // Count-min heavy hitters — the third mergeable sketch (distinct →
    // KMV/HLL, quantiles → histogram, frequent items → this): a 3×64
    // integer count matrix, cell (j, h_j(x) mod 64) += tf(x), merge =
    // elementwise add. The estimate min_j cm[j][h_j(x)] upper-bounds the
    // true count (never under), and because the hash rows are the md5
    // permutation family the whole sketch — collisions included — is
    // reproduced bit-for-bit by the oracle. Shape: terms dictionary-
    // compressed first (combiner groupBy), the 192-cell matrix broadcasts,
    // and the audit joins the exact top-20 against their estimates.
    Q("sketch_cm_topk_freq", Seq("A12", "W4", "§2.10", "sampling"),
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val cmCoefs = graft.dedup.Hashing.coefficients(3)
        // the 3 row-hashes live as an array column and posexplode into
        // (j, bucket) — ONE dictionary aggregation feeds both the matrix
        // and the probe side (cached; a union of per-row branches would
        // recompute the term groupBy once per hash row)
        val buckets = array(cmCoefs.map { case (a, b) =>
          expr(s"${graft.dedup.Hashing.permute("x", a, b)} % 64")
        }: _*)
        val tf = Tables.documents(s, dir)
          .select(explode(split(col("text"), " ")).as("term"))
          .where(length(col("term")) >= 1)
          .groupBy("term").agg(count(lit(1)).as("tf"))
          .withColumn("x", expr(graft.dedup.Hashing.sparkMd5Mod("term")))
          .withColumn("buckets", buckets)
          // localCheckpoint, not cache(): the blocks are reference-tracked
          // and dropped by the ContextCleaner once the result materializes
          // and this frame goes out of scope — a CacheManager entry would
          // outlive the query until someone calls unpersist/clearCache
          .localCheckpoint()
        val cm = tf
          .select(col("tf"), posexplode(col("buckets")).as(Seq("j", "bucket")))
          .groupBy("j", "bucket").agg(sum("tf").as("cell"))
        val top = tf
          .withColumn("rank", row_number().over(W.orderBy(col("tf").desc, col("term"))))
          .where(col("rank") <= 20)
        val probes = top
          .select(col("term"), col("tf"), col("rank"),
                  posexplode(col("buckets")).as(Seq("j", "bucket")))
        probes.join(broadcast(cm), Seq("j", "bucket"))
          .groupBy("term")
          .agg(max("rank").as("rank"), max("tf").as("tf"), min("cell").as("cm_est"))
          .select(col("rank").cast("int").as("rank"), col("term"), col("tf"),
                  col("cm_est"), (col("cm_est") - col("tf")).as("overcount"))
          .orderBy("rank")
      },
      Some {
        val cmCoefs = graft.dedup.Hashing.coefficients(3)
        val x = graft.dedup.Hashing.duckMd5Mod("term")
        val rowArms = cmCoefs.zipWithIndex.map { case ((a, b), j) =>
          s"SELECT $j AS j, ${graft.dedup.Hashing.permute("x", a, b)} % 64 AS bucket, tf FROM tf"
        }.mkString("\n  UNION ALL ")
        val probeArms = cmCoefs.zipWithIndex.map { case ((a, b), j) =>
          s"SELECT term, tf, rank, $j AS j, ${graft.dedup.Hashing.permute("x", a, b)} % 64 AS bucket FROM top"
        }.mkString("\n  UNION ALL ")
        s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
           |tf0 AS (SELECT term, count(*) AS tf FROM t WHERE length(term) >= 1 GROUP BY 1),
           |tf AS (SELECT term, tf, $x AS x FROM tf0),
           |rows AS (
           |  $rowArms),
           |cm AS (SELECT j, bucket, CAST(sum(tf) AS BIGINT) AS cell FROM rows GROUP BY 1, 2),
           |top AS (SELECT term, tf, x, row_number() OVER (ORDER BY tf DESC, term) AS rank
           |        FROM tf QUALIFY rank <= 20),
           |probes AS (
           |  $probeArms)
           |SELECT CAST(max(rank) AS INTEGER) AS rank, term, CAST(max(tf) AS BIGINT) AS tf,
           |  CAST(min(cell) AS BIGINT) AS cm_est,
           |  CAST(min(cell) - max(tf) AS BIGINT) AS overcount
           |FROM probes JOIN cm USING (j, bucket)
           |GROUP BY term ORDER BY rank""".stripMargin
      },
      note = "3x64 count-min matrix over the term dictionary; broadcast cells, exact top-20 audit"),

    // Robust outlier screen — median/MAD, the data-cleaning gate that mean/
    // stddev can't provide (one wild value drags a z-score threshold; the
    // median absolute deviation shrugs it off). Both centers use the same
    // rank-based exact-quantile contract as a_exact_quantiles (smallest
    // value whose rank reaches ⌈n/2⌉ — no interpolation, engine-exact), so
    // the flag |x − med| > 3·MAD is bit-deterministic. Two window passes
    // over the SAME event_type partitioning — the second sort reuses the
    // first's shuffle (one exchange in the plan). At 100 TB both passes
    // sketch down to approx_percentile without changing the contract.
    Q("w_anomaly_mad", Seq("A9", "A13", "P10", "W9"),
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val byType = W.partitionBy("event_type")
        val v = Tables.events(s, dir)
          .select(col("event_type"), col("value").cast("double").as("v"))
          .withColumn("rn", row_number().over(byType.orderBy("v")))
          .withColumn("n", count(lit(1)).over(byType))
          .withColumn("med", min(when(col("rn") >= ceil(col("n") * 0.5), col("v")))
            .over(byType))
          .withColumn("dev", abs(col("v") - col("med")))
          .withColumn("drn", row_number().over(byType.orderBy("dev")))
          .withColumn("mad", min(when(col("drn") >= ceil(col("n") * 0.5), col("dev")))
            .over(byType))
        v.groupBy("event_type")
          .agg(max("n").as("n"), max("med").as("med"), max("mad").as("mad"),
               sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers"))
          .orderBy("event_type")
      },
      Some("""WITH r AS (
             |  SELECT event_type, CAST(value AS DOUBLE) AS v,
             |    row_number() OVER (PARTITION BY event_type ORDER BY CAST(value AS DOUBLE)) AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS n
             |  FROM events),
             |m AS (SELECT event_type, v, n,
             |    min(CASE WHEN rn >= ceil(n * 0.5) THEN v END)
             |      OVER (PARTITION BY event_type) AS med
             |  FROM r),
             |d AS (SELECT event_type, v, n, med, abs(v - med) AS dev,
             |    row_number() OVER (PARTITION BY event_type ORDER BY abs(v - med)) AS drn
             |  FROM m),
             |x AS (SELECT event_type, v, n, med, dev,
             |    min(CASE WHEN drn >= ceil(n * 0.5) THEN dev END)
             |      OVER (PARTITION BY event_type) AS mad
             |  FROM d)
             |SELECT event_type, max(n) AS n, max(med) AS med, max(mad) AS mad,
             |  CAST(sum(CASE WHEN dev > mad * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM x GROUP BY 1 ORDER BY 1""".stripMargin),
      note = "rank-exact median/MAD outlier gate; one partition shuffle, two in-partition sorts"),

    // Exact per-group mode — the categorical companion to the quantile
    // family. Two combiner-friendly aggregations (value histogram, then
    // argmax via max(struct)): no window sort, and the (count, −value)
    // struct ordering makes ties resolve to the SMALLEST modal value
    // deterministically. Values are cents-scaled integers.
    Q("a_mode_exact", Seq("A1", "A12", "W4"),
      (s, dir) =>
        Tables.events(s, dir)
          .select(col("event_type"),
                  expr("CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)").as("cents"))
          .groupBy("event_type", "cents").agg(count(lit(1)).as("n"))
          .groupBy("event_type")
          .agg(max(struct(col("n"), (-col("cents")).as("neg"))).as("m"),
               sum("n").as("n_rows"))
          .select(col("event_type"), (-col("m.neg")).as("mode_cents"),
                  col("m.n").as("n_mode"), col("n_rows"))
          .orderBy("event_type"),
      Some("""SELECT event_type, mode_cents, n_mode, n_rows FROM (
             |  SELECT event_type, cents AS mode_cents, n AS n_mode,
             |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS n_rows,
             |    row_number() OVER (PARTITION BY event_type ORDER BY n DESC, cents) AS rk
             |  FROM (SELECT event_type,
             |          CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS cents,
             |          count(*) AS n
             |        FROM events GROUP BY 1, 2) h) t
             |WHERE rk = 1 ORDER BY event_type""".stripMargin),
      note = "mode via two combiner aggs + max(struct) argmax; smallest-value tie rule"),

    // GROUPING SETS with grouping_id — the general multi-grain aggregate
    // that rollup (a_rollup_totals) is a special case of: an arbitrary
    // list of grain tuples computed in ONE pass over the data (Catalyst
    // expands the sets into a single Expand + one aggregate exchange, not
    // |sets| scans). grouping_id is the part that matters for correctness:
    // it distinguishes "aggregated-away" from "genuinely NULL" group keys,
    // so the display labels below are driven by the id bits, never by
    // NULL-ness — the classic cube-table bug this operator exists to avoid.
    // Bit convention (both engines): leftmost grouping column = MSB;
    // sets (status,prio)/(status)/() → gid 0/1/3.
    Q("a_grouping_sets_id", Seq("A1", "A4", "A13", "W5"),
      (s, dir) => {
        val o = Tables.orders(s, dir)
        o.groupingSets(
            Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
                Seq(col("o_orderstatus")), Seq()),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(grouping_id().cast("long").as("gid"),
               count(lit(1)).as("n_orders"),
               expr(s"CAST(sum(CAST(o_totalprice AS $dec)) AS DOUBLE)").as("total"))
          .select(
            when(col("gid") === 3, lit("ALL")).otherwise(col("o_orderstatus")).as("status_d"),
            when(col("gid") >= 1, lit("ALL")).otherwise(col("o_orderpriority")).as("prio_d"),
            col("gid"), col("n_orders"), col("total"))
          .orderBy("gid", "status_d", "prio_d")
      },
      Some(s"""WITH g AS (
              |  SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
              |    CAST(sum(CAST(o_totalprice AS $dec)) AS DOUBLE) AS total,
              |    CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
              |  FROM orders
              |  GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ()))
              |SELECT CASE WHEN gid = 3 THEN 'ALL' ELSE o_orderstatus END AS status_d,
              |  CASE WHEN gid >= 1 THEN 'ALL' ELSE o_orderpriority END AS prio_d,
              |  gid, n_orders, total
              |FROM g ORDER BY gid, status_d, prio_d""".stripMargin),
      note = "multi-grain aggregate in one Expand+exchange pass; grouping_id-driven labels, immune to the NULL-vs-ALL ambiguity")
  )
}
