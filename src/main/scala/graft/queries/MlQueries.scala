package graft.queries

import java.time.LocalDate
import java.time.temporal.ChronoUnit

import graft.Q
import graft.core.Tables
import graft.ml.{GP, GWR, Hindcast}
import org.apache.spark.sql.functions._

/** ML per-group transform operators (SURVEY.md §2.8): closed-form GP
  * forecast (M3), rolling-origin hindcast with lag widening (M4/W3/W2), and
  * GWR locally-weighted scoring (M2) with the biomass formula (P6/P7).
  *
  * Not SQL-expressible — no DuckDB oracle; the driver records rows-only
  * checks. Determinism: all three are closed-form double arithmetic over
  * deterministically-ordered groups.
  */
object MlQueries {

  private val dec = "DECIMAL(18,2)"

  /** Daily per-zone series from events: zone = user_id, biomass = daily sum.
    * The decimal-sum keeps the series values bit-deterministic. */
  private def zoneSeries(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.events(s, dir)
      .groupBy(col("user_id").as("zone"), to_date(col("ts")).as("d"))
      .agg(expr(s"CAST(sum(CAST(value AS $dec)) AS DOUBLE)").as("biomass"))

  def all: Seq[Q] = Seq(

    // M3 + A13 + P16 + W4: per-zone GP forecast at +16/+32/+48 days,
    // emitting the last-4 predictions like BiomassForecast.py:78-84.
    Q("m3_gp_forecast", Seq("M3", "A13", "P16", "W4", "F4"),
      (s, dir) => {
        import s.implicits._
        val ds = zoneSeries(s, dir)
          .select(col("zone"), col("d").cast("string"), col("biomass"))
          .as[(Long, String, Double)]
        ds.groupByKey(_._1)
          .flatMapGroups { (zone: Long, it: Iterator[(Long, String, Double)]) =>
            val rows = it.toArray.sortBy(_._2)
            val d0 = LocalDate.parse(rows.head._2)
            val days = rows.map(r => ChronoUnit.DAYS.between(d0, LocalDate.parse(r._2)).toDouble)
            val y = rows.map(_._3)
            val (xt, preds) = GP.forecast(days, y)
            val n = xt.length
            (n - 4 until n).map { i =>
              (zone, xt(i), java.sql.Date.valueOf(d0.plusDays(xt(i).toLong)), preds(i))
            }
          }
          .toDF("zone", "day_offset", "pred_date", "pred")
          .orderBy("zone", "day_offset")
      },
      None,
      note = "closed-form RBF GP (ls=60, var=0.5, noise=0.01), mean-centered"),

    // M4 + W3 + W2 + F10: expanding-origin hindcast; prediction k of origin
    // run r lands at series row halfway+r+k, column k (hind:67-69), widening
    // the zone series with lag0/lag16/lag32/lag48 columns (hind:91-93).
    Q("m4_hindcast_lags", Seq("M4", "W3", "W2", "F10", "F4"),
      (s, dir) => {
        import s.implicits._
        val ds = zoneSeries(s, dir)
          .select(col("zone"), col("d").cast("string"), col("biomass"))
          .as[(Long, String, Double)]
        ds.groupByKey(_._1)
          .flatMapGroups { (zone: Long, it: Iterator[(Long, String, Double)]) =>
            val rows = it.toArray.sortBy(_._2)
            val d0 = LocalDate.parse(rows.head._2)
            val days = rows.map(r => ChronoUnit.DAYS.between(d0, LocalDate.parse(r._2)).toDouble)
            val y = rows.map(_._3)
            Hindcast.lagMatrix(days, y).map { lr =>
              val obsDate =
                if (lr.seriesIdx < rows.length)
                  Some(java.sql.Date.valueOf(LocalDate.parse(rows(lr.seriesIdx)._2)))
                else None // the 16-row forecast tail past the observed series
              (zone, lr.seriesIdx, obsDate, lr.lag0, lr.lag16, lr.lag32, lr.lag48)
            }
          }
          .toDF("zone", "series_idx", "d", "lag0", "lag16", "lag32", "lag48")
          .orderBy("zone", "series_idx")
      },
      None,
      note = "rolling-origin GP refits (≤100/zone from halfway), lag-widened"),

    // M4's SQL half, hash-checked: everything around the GP kernel — the
    // expanding-origin run schedule (halfway = n/2, nruns = min(100,
    // n−halfway), hind:43-51), the scatter of prediction k of run r into
    // result row r+k / column k (hind:67-69), and the full output spine
    // running 16 rows past the observed series (hind:81-95) — driven by a
    // deterministic FIXTURE predictor instead of the GP: pred(r, k) =
    // mean of the training prefix [0, halfway+r) + 16·k. The prefix mean
    // folds as an exact DECIMAL window sum with ONE double division, so
    // both engines agree bitwise; the unverified surface of M4 shrinks to
    // the GP kernel alone (GoldenGwrSpec-style property tests cover that).
    // Scale shape: one per-zone window pass, one (zone, row) groupBy, and
    // a sequence-explode spine — all keyed by zone (high cardinality).
    Q("m4_lag_assembly", Seq("M4", "W2", "W3", "F10", "§2.10"),
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("zone").orderBy("d")
        val ser = Tables.events(s, dir)
          .groupBy(col("user_id").as("zone"), to_date(col("ts")).as("d"))
          .agg(expr(s"sum(CAST(value AS $dec))").as("b"))
        val stats = ser.groupBy("zone")
          .agg(count(lit(1)).as("n"))
          .where(col("n") >= 4)
          .select(col("zone"), col("n"), expr("n DIV 2").as("halfway"),
                  expr("least(100L, n - n DIV 2)").as("nruns"))
        val runs = ser
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("csum", sum(col("b")).over(w))
          .join(stats, Seq("zone"))
          .where(col("rn") >= col("halfway") && col("rn") < col("halfway") + col("nruns"))
          .select(col("zone"), (col("rn") - col("halfway")).as("run_r"),
                  expr("CAST(csum AS DOUBLE) / CAST(rn AS DOUBLE)").as("em"))
        val scattered = runs
          .select(col("zone"), col("run_r"), col("em"),
                  explode(sequence(lit(0L), lit(3L))).as("k"))
          .groupBy(col("zone"), (col("run_r") + col("k")).as("i"))
          .agg(max(when(col("k") === 0, col("em"))).as("lag0"),
               max(when(col("k") === 1, col("em") + 16.0)).as("lag16"),
               max(when(col("k") === 2, col("em") + 32.0)).as("lag32"),
               max(when(col("k") === 3, col("em") + 48.0)).as("lag48"))
        stats
          .select(col("zone"), col("halfway"),
                  explode(sequence(lit(0L), col("n") - col("halfway") + 15L)).as("i"))
          .join(scattered, Seq("zone", "i"), "left")
          .select(col("zone"), (col("halfway") + col("i")).as("series_idx"),
                  col("lag0"), col("lag16"), col("lag32"), col("lag48"))
          .orderBy("zone", "series_idx")
      },
      Some(s"""WITH ser AS (
              |  SELECT user_id AS zone, CAST(ts AS DATE) AS d,
              |    sum(CAST(value AS $dec)) AS b
              |  FROM events GROUP BY 1, 2),
              |stats AS (
              |  SELECT zone, count(*) AS n, count(*) // 2 AS halfway,
              |    least(100, count(*) - count(*) // 2) AS nruns
              |  FROM ser GROUP BY zone HAVING count(*) >= 4),
              |r AS (
              |  SELECT zone, row_number() OVER w AS rn, sum(b) OVER w AS csum
              |  FROM ser
              |  WINDOW w AS (PARTITION BY zone ORDER BY d
              |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              |runs AS (
              |  SELECT r.zone, rn - halfway AS run_r,
              |    CAST(csum AS DOUBLE) / CAST(rn AS DOUBLE) AS em
              |  FROM r JOIN stats USING (zone)
              |  WHERE rn >= halfway AND rn < halfway + nruns),
              |sc AS (
              |  SELECT zone, run_r + k.k AS i,
              |    max(CASE WHEN k.k = 0 THEN em END) AS lag0,
              |    max(CASE WHEN k.k = 1 THEN em + 16.0 END) AS lag16,
              |    max(CASE WHEN k.k = 2 THEN em + 32.0 END) AS lag32,
              |    max(CASE WHEN k.k = 3 THEN em + 48.0 END) AS lag48
              |  FROM runs CROSS JOIN (VALUES (0), (1), (2), (3)) k(k)
              |  GROUP BY 1, 2),
              |spine AS (
              |  SELECT zone, halfway,
              |    unnest(range(0, n - halfway + 16)) AS i
              |  FROM stats)
              |SELECT spine.zone, halfway + spine.i AS series_idx,
              |  lag0, lag16, lag32, lag48
              |FROM spine LEFT JOIN sc ON sc.zone = spine.zone AND sc.i = spine.i
              |ORDER BY 1, 2""".stripMargin),
      note = "hindcast scatter/spine hash-checked with a fixture predictor; GP kernel stays golden-only"),

    // M2 + P6 + P7: GWR scoring. Scale design: GWR coefficients depend only
    // on the (quantized — P4) coordinates, so we fit one WLS system per
    // DISTINCT coordinate cell on the executors (broadcast calibration),
    // then broadcast-join the small coefficient table back and score every
    // row with a pure column expression. Fact rows are never shuffled and
    // the kernel work is O(cells × calib), not O(rows × calib) — at sf0.1
    // that is 2.5k × 16k instead of 600k × 16k (a ~240× cut).
    // Then the biomass formula and abs(round(·,2)) exactly as
    // gwr_model.py:105 / rasterize.py:47-48.
    Q("m2_gwr_score", Seq("M2", "M1", "P4", "P6", "P7"),
      (s, dir) => {
        import s.implicits._
        val pts = Tables.lineitem(s, dir)
          .select(
            (col("l_orderkey") * 8 + col("l_linenumber")).as("id"),
            (col("l_partkey") % 50).cast("double").as("px"),
            (col("l_suppkey") % 50).cast("double").as("py"),
            col("l_quantity").as("f1"),
            col("l_discount").as("f2"),
            (col("l_extendedprice") / 1000).as("y"))
        // Deterministic calibration sample, CAPPED (same shape as
        // Forage.stage2Score): if the fact table is small keep it all,
        // otherwise keep every m-th row by stable key hash with m sized so
        // the sample is ≤ calibCap however large the table grows. The cap
        // is what bounds the driver collect + broadcast AND the per-cell
        // WLS cost (cells × calib) at any SF — a fixed fraction would make
        // the broadcast grow linearly with the data. ~4k obs at sf0.1
        // still puts hundreds of points inside every bw=10 kernel over the
        // 50×50 cell grid.
        val calibCap = 4000L
        val nRows = pts.count()
        val calibSrc =
          if (nRows <= calibCap) pts
          else {
            val m = (nRows + calibCap - 1) / calibCap
            pts.where(pmod(xxhash64(col("id")), lit(m)) === 0)
          }
        val calib = GWR.Calib(calibSrc
          .as[(Long, Double, Double, Double, Double, Double)].collect()
          .map(r => GWR.Obs(r._2, r._3, Array(r._4, r._5), r._6)))
        val bcast = s.sparkContext.broadcast(calib)
        val bw = 10.0
        val coefs = pts.select("px", "py").distinct()
          .as[(Double, Double)]
          .mapPartitions { it =>
            val c = bcast.value
            it.map { case (px, py) =>
              val b = GWR.fitAt(px, py, c, bw)
              (px, py, b(0), b(1), b(2))
            }
          }
          .toDF("px", "py", "b0", "b1", "b2")
        pts.join(broadcast(coefs), Seq("px", "py"))
          .withColumn("pred", col("b0") + col("b1") * col("f1") + col("b2") * col("f2"))
          .withColumn("biom", abs(round((col("pred") * 6480.2 - 958.6) / 1000.0, 2)))
          .select("id", "pred", "biom")
          .orderBy("id")
      },
      None,
      note = "local WLS fit per distinct coord cell, broadcast coef join, bw=10"),

    // Distributed OLS by normal equations — the regression shape that DOES
    // scale to 100 TB, unlike anything iterative: ONE full pass reduces the
    // data to a 10-number Gram/moment summary (map-side combine all the
    // way), and the 3×3 solve happens INSIDE the plan by Cramer's rule —
    // no driver collect, no second pass, no broadcast-back. Exactness
    // contract: features are small integers and y is scaled to integer
    // cents, so every Gram sum is an exact BIGINT; the solve is then one
    // fixed tree of IEEE-754 double ops written as the SAME SQL text on
    // both engines, so even the floating-point coefficients hash
    // identically (drift only ever comes from different summation orders,
    // and integer sums have none). Overflow headroom: the largest moment,
    // sum(yc²) ≤ 2.5e7/row, stays under 2⁶³ past 10¹¹ rows — the 100-TB
    // fact table fits; cross engines the sums stay under 2⁵³ (double-exact)
    // through ~10⁹ rows. Unlike m2's locally-weighted variant this is the
    // global-coefficient fit — the cheap first look before paying for GWR.
    Q("ml_ols_normal_eq", Seq("M2", "M1", "A1", "A13", "§2.10"),
      (s, dir) => {
        val t = Tables.lineitem(s, dir).selectExpr(olsVars: _*)
        val g = t.groupBy().agg(expr(olsSums.head), olsSums.tail.map(expr): _*)
        g.selectExpr(("*" +: olsDets): _*).selectExpr(olsOut: _*)
      },
      Some(s"""WITH t AS (SELECT ${olsVars.mkString(", ")} FROM lineitem),
              |g AS (SELECT ${olsSums.mkString(", ")} FROM t),
              |d AS (SELECT *, ${olsDets.mkString(", ")} FROM g)
              |SELECT ${olsOut.mkString(", ")} FROM d""".stripMargin),
      note = "one-pass OLS: exact-integer Gram summary + in-plan Cramer solve, identical double op tree on both engines"),

    // Forecast-skill scorecard against the persistence baseline — the
    // evaluation half of the reference's hindcast loop (hind:81-95 scores
    // per-origin forecasts against observed biomass): every forecaster must
    // beat "tomorrow equals today". For horizons 1/2/4/8 days, the lag-h
    // persistence forecast of the per-type daily series is scored by
    // MAE / RMSE / bias. Daily totals are decimal-exact; the error folds
    // run in d-order over a sorted collected array, so every double is
    // partial-agg-order-free and matches DuckDB's ordered list_sum bitwise.
    //
    // Scale: the shifted join is an equi-join on (event_type, date);
    // horizons are a 4-row broadcast; metric groups are #types × #horizons.
    Q("m_skill_persistence", Seq("M4", "W2", "A1", "A13"),
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), to_date(col("ts")).as("d"))
          .agg(expr("CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)")
            .as("daily"))
        val hs = s.range(1).selectExpr("explode(array(1, 2, 4, 8)) AS h")
        daily.crossJoin(broadcast(hs))
          .withColumn("d_prev", expr("date_add(d, -h)"))
          .join(daily.select(col("event_type"), col("d").as("d_prev"),
                             col("daily").as("prev")),
                Seq("event_type", "d_prev"))
          .withColumn("e", col("daily") - col("prev"))
          .groupBy("event_type", "h")
          .agg(expr("array_sort(collect_list(struct(d, e)))").as("arr"))
          .selectExpr("event_type", "CAST(h AS INT) AS horizon",
            "CAST(size(arr) AS BIGINT) AS n",
            "aggregate(arr, CAST(0.0 AS DOUBLE), (a, x) -> a + abs(x.e)) / size(arr) AS mae",
            "sqrt(aggregate(arr, CAST(0.0 AS DOUBLE), (a, x) -> a + x.e * x.e) / size(arr)) AS rmse",
            "aggregate(arr, CAST(0.0 AS DOUBLE), (a, x) -> a + x.e) / size(arr) AS bias")
          .orderBy("event_type", "horizon")
      },
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS d,
             |    CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS daily
             |  FROM events GROUP BY 1, 2),
             |h AS (SELECT unnest([1, 2, 4, 8]) AS h),
             |j AS (SELECT a.event_type, h.h, a.d, a.daily - b.daily AS e
             |  FROM daily a CROSS JOIN h
             |  JOIN daily b ON b.event_type = a.event_type AND b.d = a.d - h.h),
             |g AS (SELECT event_type, h, list(e ORDER BY d) AS le, count(*) AS n
             |  FROM j GROUP BY 1, 2)
             |SELECT event_type, CAST(h AS INTEGER) AS horizon, CAST(n AS BIGINT) AS n,
             |  list_sum(list_transform(le, x -> abs(x))) / n AS mae,
             |  sqrt(list_sum(list_transform(le, x -> x * x)) / n) AS rmse,
             |  list_sum(le) / n AS bias
             |FROM g ORDER BY event_type, horizon""".stripMargin),
      note = "persistence-baseline skill scorecard (MAE/RMSE/bias per type x horizon): the hindcast evaluation shape; d-ordered error folds keep every double bit-deterministic")
  )

  /** `ml_ols_normal_eq` shares these exact SQL strings between the Spark
    * plan and the DuckDB oracle: identical expression text → identical
    * IEEE-754 op tree → bit-identical doubles on both engines. */
  private val olsVars = Seq(
    "l_partkey % 50 AS x1",
    "l_suppkey % 20 AS x2",
    // y in integer cents; round() first — both engines then truncate the
    // already-integral double identically in the BIGINT cast
    "CAST(round(l_quantity * 100) AS BIGINT) AS yc")

  private val olsSums = Seq(
    "CAST(count(*) AS DOUBLE) AS n",
    "CAST(sum(x1) AS DOUBLE) AS s1", "CAST(sum(x2) AS DOUBLE) AS s2",
    "CAST(sum(x1*x1) AS DOUBLE) AS s11", "CAST(sum(x1*x2) AS DOUBLE) AS s12",
    "CAST(sum(x2*x2) AS DOUBLE) AS s22",
    "CAST(sum(yc) AS DOUBLE) AS sy", "CAST(sum(x1*yc) AS DOUBLE) AS s1y",
    "CAST(sum(x2*yc) AS DOUBLE) AS s2y", "CAST(sum(yc*yc) AS DOUBLE) AS syy")

  // Cramer determinants for A·b = X'y with A = [[n,s1,s2],[s1,s11,s12],
  // [s2,s12,s22]] (first-row cofactor expansion; detK replaces column K
  // with the rhs (sy, s1y, s2y))
  private val olsDets = Seq(
    "n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det",
    "sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y) AS det0",
    "n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2) AS det1",
    "n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2) AS det2")

  // coefficients back in quantity units (one /100); R² from the standard
  // SSE = y'y − b'X'y identity — still the same shared double tree
  private val olsOut = Seq(
    "CAST(n AS BIGINT) AS n_obs",
    "(det0 / det) / 100 AS b0",
    "(det1 / det) / 100 AS b1",
    "(det2 / det) / 100 AS b2",
    "1 - (syy - ((det0/det)*sy + (det1/det)*s1y + (det2/det)*s2y)) / (syy - sy*sy/n) AS r2")
}
