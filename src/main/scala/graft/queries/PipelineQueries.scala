package graft.queries

import java.time.LocalDate

import graft.Q
import graft.core.Tables
import graft.pipeline.Forage
import org.apache.spark.sql.functions._

/** The composed 5-stage forage pipeline run end-to-end over harness data
  * (SURVEY.md §3/§7 module 7): three event-derived point-sample sources →
  * 16-day composites + quantized 3-way join (stage 1) → GWR scoring
  * (stage 2) → raster burn (stage 3) → zonal cascade (stage 4). Per-group GP
  * forecasting (stage 5) is exercised by m3/m4; not SQL-expressible →
  * rows-only check.
  */
object PipelineQueries {

  def all: Seq[Q] = Seq(

    Q("forage_pipeline_e2e", Seq("§3", "J1", "A1", "A2", "A3", "A7", "M2", "W8", "J4", "A4", "A5", "A6", "S7", "P13"),
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(
            (lit(36.0) + (col("user_id") % 15).cast("double") * 0.1).as("lon"),
            (lit(15.0) - floor(col("user_id") / 15).cast("double") * 0.1).as("lat"),
            to_date(col("ts")).as("d"), col("event_type"), col("value"))
        def src(et: String, scale: Double) =
          e.where(col("event_type") === et)
            .select(col("lon"), col("lat"), col("d"), (col("value") * scale).as("v"))
        // Stage-boundary memo: stage 2's GWR surface is a per-corpus MODEL
        // ARTIFACT — the calibration collect, the per-coordinate fit, and
        // the coefficient broadcast happen once per (session, corpus), like
        // any trained model, and every downstream run scores against it.
        // Without the memo each invocation re-fired the calibration count +
        // collect (driver actions during plan CONSTRUCTION) and the O(coords
        // × calib) kernel fit. Disclosed with the other FrameMemo builders
        // in BENCHCMP.md; stages 3-4 (burn, zonal cascade) run per pass.
        // stage 2 reads its input four times, so the stage-1 composite is
        // cached here rather than recomputed per read.
        val scored = FrameMemo(s, s"$dir#e2e_scored") {
          val combined = Forage.stage1Combined(
            ndvi = src("view", 0.001), sm = src("click", 0.01), preci = src("purchase", 0.1),
            anchor = LocalDate.parse("2024-01-01"), watermark = LocalDate.parse("2024-01-31"))
            .cache()
          Forage.stage2Score(s, combined, bandwidth = 0.5)
        }
        val cells = Forage.stage3Rasterize(scored)
        val zones = Seq(
          "Z_WEST" -> "POLYGON((35.95 15.05, 36.75 15.05, 36.75 13.9, 35.95 13.9, 35.95 15.05))",
          "Z_EAST" -> "POLYGON((36.75 15.05, 37.55 15.05, 37.55 13.9, 36.75 13.9, 36.75 15.05))",
          "Z_SLIVER" -> "POLYGON((36.001 14.999, 36.009 14.999, 36.009 14.991, 36.001 14.991, 36.001 14.999))")
        Forage.stage4Zonal(s, cells, zones)
          .orderBy("zone_id", "date")
      },
      None,
      note = "stages 1-4 composed over event-derived sources; GP (stage 5) in m3/m4"),

    // The SQL-expressible prefix of the pipeline, hash-checked end-to-end:
    // stage 1 (quantize → 16-day periods w/ year reset → 3-way composite
    // join) → P6 biomass formula applied directly to the composite (stage-2
    // GWR is the one non-SQL stage, cut here) → stage 3 burn (P7 abs/round,
    // W8 min_by collision rule, P11 sentinel) → stage 4 zonal cascade over
    // two rectangle zones. Exactness choices: source values rounded to
    // integers so the composite means are exact (integer sums + one
    // division); burned 2-dp values scaled to integral "cents" before the
    // zonal sums (double sums of integers are order-independent at any
    // parallelism) and divided back once at the end; zone bounds chosen off
    // the cell-center/corner grid so membership predicates are FP-robust;
    // anchor 2023-12-20 exercises the W1 year-boundary truncation.
    Q("forage_pipeline_sql_prefix",
      Seq("§3", "J1", "A1", "A3", "W1", "F6", "P4", "P6", "P7", "W8", "P11", "J4", "A4", "A5", "A8"),
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(
            (lit(36.0) + (col("user_id") % 15).cast("double") * 0.1).as("lon"),
            (lit(15.0) - floor(col("user_id") / 15).cast("double") * 0.1).as("lat"),
            to_date(col("ts")).as("d"), col("event_type"), col("value"))
        def src(et: String) =
          e.where(col("event_type") === et)
            .select(col("lon"), col("lat"), col("d"), round(col("value"), 0).as("v"))
        val combined = Forage.stage1Combined(
          ndvi = src("view"), sm = src("click"), preci = src("purchase"),
          anchor = PrefixAnchor, watermark = PrefixWatermark)
        val scored = combined.withColumn("biom", (col("ndvi") * 6480.2 - 958.6) / 1000.0) // P6
        val pts = scored.select(
          graft.core.DateOps.fromYyyymmdd(col("date")).as("date"),
          col("lon"), col("lat"),
          abs(round(col("biom"), 2)).as("value"), // P7
          expr("CAST(round(lon * 1000) AS BIGINT) * 1000000 + CAST(round(lat * 1000) AS BIGINT)").as("tie"))
        val cells = graft.grid.Grid.burn(pts, graft.grid.Grid.Reference)
        val cents = cells.withColumn("value",
          when(col("value") === graft.grid.Grid.Nodata, col("value"))
            .otherwise(round(col("value") * 100, 0)))
        Forage.stage4Zonal(s, cents, PrefixZones)
          .withColumn("mean_value", col("mean_value") / 100.0)
          .orderBy("zone_id", "date")
      },
      Some(prefixOracle("ndvi")),
      note = "hash-checked stages 1+3+4 (cut before GWR); exact integer-scaled zonal means"),

    // The prefix pushed THROUGH scoring: stage 2 as a fixed-coefficient WLS
    // score (stage2ScoreFixed — the impute + pred + P6 path with the
    // per-cell fit factored out), so stages 1→2→3→4 are all hash-checked
    // and the rows-only surface shrinks to the GWR fit + GP alone. The
    // pred expression is written with identical association order on both
    // sides ((b0 + b1·sm) + b2·preci); each term is one correctly-rounded
    // double op over identical inputs, so the engines agree bit-for-bit.
    Q("forage_pipeline_sql_scored",
      Seq("§3", "J1", "A1", "A3", "W1", "F6", "P4", "P6", "P7", "P8", "W8", "P11", "J4", "A4", "A5", "A8", "M2"),
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(
            (lit(36.0) + (col("user_id") % 15).cast("double") * 0.1).as("lon"),
            (lit(15.0) - floor(col("user_id") / 15).cast("double") * 0.1).as("lat"),
            to_date(col("ts")).as("d"), col("event_type"), col("value"))
        def src(et: String) =
          e.where(col("event_type") === et)
            .select(col("lon"), col("lat"), col("d"), round(col("value"), 0).as("v"))
        val combined = Forage.stage1Combined(
          ndvi = src("view"), sm = src("click"), preci = src("purchase"),
          anchor = PrefixAnchor, watermark = PrefixWatermark)
        val scored = Forage.stage2ScoreFixed(combined, ScoreB0, ScoreB1, ScoreB2)
        val pts = scored.select(
          graft.core.DateOps.fromYyyymmdd(col("date")).as("date"),
          col("lon"), col("lat"),
          abs(round(col("biom"), 2)).as("value"), // P7
          expr("CAST(round(lon * 1000) AS BIGINT) * 1000000 + CAST(round(lat * 1000) AS BIGINT)").as("tie"))
        val cells = graft.grid.Grid.burn(pts, graft.grid.Grid.Reference)
        val cents = cells.withColumn("value",
          when(col("value") === graft.grid.Grid.Nodata, col("value"))
            .otherwise(round(col("value") * 100, 0)))
        Forage.stage4Zonal(s, cents, PrefixZones)
          .withColumn("mean_value", col("mean_value") / 100.0)
          .orderBy("zone_id", "date")
      },
      Some(prefixOracle(
        s"CAST($ScoreB0 AS DOUBLE) + CAST($ScoreB1 AS DOUBLE) * sm + CAST($ScoreB2 AS DOUBLE) * preci")),
      note = "hash-checked stages 1+2(fixed-coefficient WLS)+3+4; only the GWR fit + GP stay rows-only"),

    // K4/K5 REST payloads, oracle-checked END TO END: the reference POSTs
    // `[{extId, mean(rounded, null-if-NaN), date}]` rows to its aggregates
    // and forecasts endpoints (`BiomassAggregate.py:367-395`,
    // `BiomassForecast.py:104-144`); `Sinks.restPayload` is that contract
    // and these queries push its actual JSON bytes through the hash gate.
    // Cross-engine JSON determinism: per-key means are a decimal-exact sum
    // divided ONCE, then pre-quantized to the payload precision with an
    // explicit floor(x*10^p + 0.5)/10^p — the SAME double op tree on both
    // engines. restPayload's own round() then sees a value half-an-ulp from
    // a p-dp decimal, never near a tie, so Spark's BigDecimal HALF_UP and
    // DuckDB's multiply-round agree (a raw mean CAN land exactly on a tie:
    // 67.49125 at sf0.1 rounded differently before the pre-quantize).
    // Both engines emit shortest-round-trip doubles with identical field
    // order — verified by the hash, which is the point.
    Q("k4_rest_payload", Seq("K4", "A1", "P7", "P15"),
      (s, dir) => {
        val agg = Tables.events(s, dir)
          .groupBy(col("user_id").as("extId"), to_date(col("ts")).as("date"))
          .agg((expr("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)")
            / count(lit(1))).as("mean0"))
          .withColumn("mean", expr("floor(mean0 * 1000000.0D + 0.5D) / 1000000.0D"))
        graft.pipeline.Sinks.restPayload(agg.select("extId", "mean", "date"), 6)
          .orderBy("payload")
      },
      Some("""WITH a AS (
             |  SELECT user_id AS extId, CAST(ts AS DATE) AS d,
             |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean0
             |  FROM events GROUP BY 1, 2),
             |b AS (SELECT extId, d, floor(mean0 * 1000000.0 + 0.5) / 1000000.0 AS mean FROM a)
             |SELECT to_json(struct_pack(extId := extId, mean := round(mean, 6),
             |                           date := d)) AS payload
             |FROM b ORDER BY payload""".stripMargin),
      note = "K4 trends payload (6 dp) as emitted JSON bytes vs a DuckDB-built oracle payload — transport stays external, the contract is hash-checked"),

    Q("k5_forecast_payload", Seq("K5", "M4", "P18", "P7"),
      (s, dir) => {
        val agg = Tables.events(s, dir)
          .groupBy(col("user_id").as("extId"), to_date(col("ts")).as("d"))
          .agg((expr("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)")
            / count(lit(1))).as("mean0"))
          .withColumn("mean", expr("floor(mean0 * 10000.0D + 0.5D) / 10000.0D"))
          // 1-day-ahead persistence forecast: today's mean posted for tomorrow
          .select(col("extId"), col("mean"), date_add(col("d"), 1).as("date"))
        graft.pipeline.Sinks.restPayload(agg, 4).orderBy("payload")
      },
      Some("""WITH a AS (
             |  SELECT user_id AS extId, CAST(ts AS DATE) + 1 AS d,
             |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean0
             |  FROM events GROUP BY 1, CAST(ts AS DATE)),
             |b AS (SELECT extId, d, floor(mean0 * 10000.0 + 0.5) / 10000.0 AS mean FROM a)
             |SELECT to_json(struct_pack(extId := extId, mean := round(mean, 4),
             |                           date := d)) AS payload
             |FROM b ORDER BY payload""".stripMargin),
      note = "K5 forecasts payload (4 dp) with the 1-day persistence forecast date shift; same hash-checked JSON contract as k4")
  )

  // fixed scoring coefficients for the hash-checked stage-2 variant —
  // plausible magnitudes for an ndvi-scale pred from (sm, preci) features
  private val ScoreB0 = 0.08
  private val ScoreB1 = 0.012
  private val ScoreB2 = 0.0005

  private val PrefixAnchor = LocalDate.parse("2023-12-20")
  private val PrefixWatermark = LocalDate.parse("2024-01-31")

  /** Two large axis-aligned zones; bounds deliberately off the cell-center
    * (±0.025) and cell-corner (±0.05) grids so strict/touched tests never
    * sit on an FP knife edge. */
  private val PrefixZones: Seq[(String, String)] = Seq(
    "Z_WEST" -> "POLYGON((36.012 15.012, 36.743 15.012, 36.743 13.914, 36.012 13.914, 36.012 15.012))",
    "Z_EAST" -> "POLYGON((36.743 15.012, 37.446 15.012, 37.446 13.914, 36.743 13.914, 36.743 15.012))")

  /** DuckDB replica of the prefix, parametrized by the stage-2 pred
    * expression over the composite columns (ndvi, sm, preci): `"ndvi"` cuts
    * before scoring; a fixed-coefficient linear form scores through it.
    * Zone bboxes and centroid cells are computed here with the SAME
    * parsing/affine code the Spark side uses (Geometry.parseWkt + Affine
    * floors), then inlined as literals. */
  private def prefixOracle(predSql: String): String = {
    val affine = graft.grid.Grid.Reference
    val zoneRows = PrefixZones.map { case (id, wkt) =>
      val p = graft.grid.Geometry.parseWkt(wkt)
      val (x0, y0, x1, y1) = p.bbox
      val cx = p.outer.xs.sum / p.outer.xs.length
      val cy = p.outer.ys.sum / p.outer.ys.length
      val cRow = math.floor((affine.originLat - cy) / affine.pixel).toInt
      val cCol = math.floor((cx - affine.originLon) / affine.pixel).toInt
      s"('$id', CAST($x0 AS DOUBLE), CAST($y0 AS DOUBLE), CAST($x1 AS DOUBLE), CAST($y1 AS DOUBLE), $cRow, $cCol)"
    }.mkString(",\n  ")
    s"""${graft.oracle.Sql.periodCtes(PrefixAnchor, PrefixWatermark)},
       |pts AS (
       |  SELECT round(36.0 + CAST(user_id % 15 AS DOUBLE) * 0.1, 3) AS x,
       |         round(15.0 - CAST(floor(user_id / 15) AS DOUBLE) * 0.1, 3) AS y,
       |         CAST(ts AS DATE) AS d, event_type,
       |         round(CAST(value AS DOUBLE), 0) AS v
       |  FROM events),
       |n AS (SELECT x, y, p_end, avg(v) AS ndvi FROM pts JOIN period_days pd ON pts.d = pd.d
       |      WHERE event_type = 'view' GROUP BY 1, 2, 3),
       |sm AS (SELECT x, y, p_end, avg(v) AS sm_v FROM pts JOIN period_days pd ON pts.d = pd.d
       |       WHERE event_type = 'click' GROUP BY 1, 2, 3),
       |pr AS (SELECT x, y, p_end, coalesce(sum(v), 0.0) AS preci FROM pts JOIN period_days pd ON pts.d = pd.d
       |       WHERE event_type = 'purchase' GROUP BY 1, 2, 3),
       |comb AS (SELECT x, y, p_end, ndvi, sm_v AS sm, preci
       |         FROM n JOIN sm USING (x, y, p_end) JOIN pr USING (x, y, p_end)),
       |b AS (SELECT p_end AS date,
       |        CAST(floor((15.0 - y) / 0.05) AS INTEGER) AS row,
       |        CAST(floor((x - 36.0) / 0.05) AS INTEGER) AS col,
       |        abs(round((($predSql) * 6480.2 - 958.6) / 1000.0, 2)) AS val,
       |        CAST(round(x * 1000) AS BIGINT) * 1000000 + CAST(round(y * 1000) AS BIGINT) AS tie
       |      FROM comb),
       |burn AS (SELECT date, row, col,
       |           CASE WHEN min_by(val, tie) <= 0 THEN -99999.0 ELSE min_by(val, tie) END AS bval
       |         FROM b WHERE row >= 0 AND row < ${affine.nRows} AND col >= 0 AND col < ${affine.nCols}
       |         GROUP BY 1, 2, 3),
       |cc AS (SELECT date, row, col,
       |         CASE WHEN bval = -99999.0 THEN NULL ELSE round(bval * 100, 0) END AS v
       |       FROM burn),
       |zones AS (SELECT * FROM (VALUES
       |  $zoneRows) AS z(zone_id, x0, y0, x1, y1, c_row, c_col)),
       |member AS (
       |  SELECT z.zone_id, c.date, c.row, c.col, c.v,
       |    (36.0 + (c.col + 0.5) * 0.05 > z.x0 AND 36.0 + (c.col + 0.5) * 0.05 < z.x1 AND
       |     15.0 - (c.row + 0.5) * 0.05 > z.y0 AND 15.0 - (c.row + 0.5) * 0.05 < z.y1) AS strict
       |  FROM cc c CROSS JOIN zones z
       |  WHERE 36.0 + (c.col + 0.5) * 0.05 + 0.025 > z.x0 AND 36.0 + (c.col + 0.5) * 0.05 - 0.025 < z.x1
       |    AND 15.0 - (c.row + 0.5) * 0.05 + 0.025 > z.y0 AND 15.0 - (c.row + 0.5) * 0.05 - 0.025 < z.y1),
       |base AS (SELECT zone_id, date,
       |    count(CASE WHEN strict AND v IS NOT NULL THEN 1 END) AS n_strict,
       |    sum(CASE WHEN strict THEN v END) AS sum_strict,
       |    count(CASE WHEN v IS NOT NULL THEN 1 END) AS n_touched,
       |    sum(v) AS sum_touched
       |  FROM member GROUP BY 1, 2),
       |cent AS (SELECT z.zone_id, c.date, c.v AS centroid_v
       |         FROM cc c JOIN zones z ON c.row = z.c_row AND c.col = z.c_col),
       |cent3 AS (SELECT z.zone_id, c.date, avg(c.v) AS centroid3_v
       |          FROM cc c JOIN zones z ON abs(c.row - z.c_row) <= 1 AND abs(c.col - z.c_col) <= 1
       |          GROUP BY 1, 2)
       |SELECT b.zone_id, b.date,
       |  coalesce(sum_strict / nullif(n_strict, 0), sum_touched / nullif(n_touched, 0),
       |           centroid_v, centroid3_v) / 100.0 AS mean_value,
       |  n_strict AS pixel_count,
       |  n_touched AS valid_in_clip,
       |  (n_strict = 0 AND n_touched > 0) AS retried_all_touched,
       |  (n_strict = 0 AND n_touched = 0) AS used_fallback,
       |  FALSE AS buffered_tiny
       |FROM base b LEFT JOIN cent USING (zone_id, date) LEFT JOIN cent3 USING (zone_id, date)
       |ORDER BY zone_id, date""".stripMargin
  }
}
