package perfbench

import java.io.File
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import graft.grid.Grid
import graft.sources.GeoTiff
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checks one forage run's outputs against what the generated inputs imply.
  * `problems` is empty for a correct run; `hash` is an order-independent
  * digest of every output but the forecasts, which must repeat across runs
  * of one input. */
object ForageCheck {

  /** `forecasts`: (zone, date) → forecast mean, compared across runs apart
    * from `hash` (see [[forecastDrift]]). */
  final case class Verdict(problems: Seq[String], hash: String,
                           forecasts: Map[(String, String), Option[Double]]) {
    def ok: Boolean = problems.isEmpty
  }

  /** Forecast means are rounded to 4 decimals by the program. Zonal means
    * are often exact 4-decimal ties (means of 2-decimal cells), and their
    * summation order varies between runs, so a mean may round either way:
    * runs of one input may differ by one unit in the 4th decimal. */
  val ForecastTolerance = 1e-4 + 1e-9

  /** Problems of forecast means that differ by more than the rounding step. */
  def forecastDrift(first: Map[(String, String), Option[Double]],
                    other: Map[(String, String), Option[Double]]): Seq[String] =
    if (first.keySet != other.keySet) Seq("forecast (zone, date) keys differ from the first run's")
    else first.toSeq.filter { case (k, a) =>
      (a, other(k)) match {
        case (Some(x), Some(y)) => math.abs(x - y) > ForecastTolerance
        case (x, y) => x.isDefined != y.isDefined
      }
    }.map { case (k, a) => s"forecast $k: ${other(k)} vs first run's $a" }

  /** Composites compared against the closed form, per run. */
  val SamplePoints = 32

  def check(spark: SparkSession, out: String, in: ForageGen.Inputs, seed: Long): Verdict = {
    val problems = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) problems += s"$what: got $got, want $want"
    val nP = in.periods.size
    val points = in.points
    def read(name: String) = spark.read.parquet(s"$out/$name")
    // Doubles from aggregations may differ in their last bits between runs
    // (merge order). Hash them on a grid of step 1e-6·π: values built from
    // decimals (means of 2-dp cells) never sit on its boundaries, as they
    // would on a decimal grid.
    def q(c: String) = floor(col(c) * lit(1e6 / math.Pi)).as(c)

    val combined = read("combined")
    val (nComb, hComb) = ForageGen.frameHash(
      combined.select(col("lon"), col("lat"), col("date"), q("ndvi"), q("sm"), q("preci")))
    expect("combined rows", nComb, points.toLong * nP)
    val cells = read("cells")
    val (nCells, hCells) = ForageGen.frameHash(cells.select("date", "row", "col", "value"))
    expect("cells rows", nCells, points.toLong * nP)
    val trends = read("trends")
    val (nTrends, hTrends) = ForageGen.frameHash(trends.select(
      col("zone_id"), col("date"), q("mean_value"), col("pixel_count"), col("valid_in_clip"),
      col("retried_all_touched"), col("used_fallback"), col("buffered_tiny")))
    expect("trends rows", nTrends, ForageGen.Zones.toLong * nP)
    val withData = trends.where(col("mean_value").isNotNull).select("zone_id").distinct().count()
    val fc = read("forecasts").select("extId", "date", "mean").collect()
      .map(r => (r.getString(0), r.getString(1)) -> Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    val nFc = fc.size.toLong
    expect("forecast rows", nFc, 3 * withData)

    // one 260×300 float32 GeoTIFF per period, valid pixels = burned cells
    val fmt = DateTimeFormatter.BASIC_ISO_DATE
    val wantNames = in.periods.map(p => s"biomass_${p.end.format(fmt)}.tif")
    val layers = new File(s"$out/layers")
    val tifs = Option(layers.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".tif")).sortBy(_.getName)
    expect("rasters", tifs.map(_.getName).toSeq, wantNames)
    val validByDate = cells.where(col("value") =!= Grid.Nodata)
      .groupBy(date_format(col("date"), "yyyyMMdd")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val crc = new java.util.zip.CRC32
    tifs.foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      crc.update(bytes)
      val r = GeoTiff.read(f.getPath)
      expect(s"${f.getName} size", (r.width, r.height), (Grid.Reference.nCols, Grid.Reference.nRows))
      val valid = r.data.count(_ != Grid.Nodata.toFloat).toLong
      expect(s"${f.getName} valid pixels", valid,
        validByDate.getOrElse(f.getName.stripPrefix("biomass_").stripSuffix(".tif"), -1L))
    }

    // stage-1 composites of sampled points against the closed form
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    val pids = Iterator.continually(rnd.nextInt(points).toLong).distinct.take(SamplePoints).toSeq
    val g = Grid.Reference
    val cellIds = ForageGen.pointCells(seed)
    val byCell = pids.map(p => (cellIds(p.toInt) / g.nCols, cellIds(p.toInt) % g.nCols) -> p).toMap
    val keys = pids.map(p => cellIds(p.toInt))
    val got = combined
      .select(g.rowOf(col("lat")).as("r"), g.colOf(col("lon")).as("c"), col("date"),
              col("ndvi"), col("sm"), col("preci"))
      .where((col("r") * g.nCols + col("c")).isin(keys: _*))
      .collect().map(r => ((r.getInt(0), r.getInt(1), r.getLong(2)),
                           (r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    for ((cell, pid) <- byCell; p <- in.periods) {
      val key = (cell._1, cell._2, p.end.format(fmt).toLong)
      val (en, es, ep) = ForageGen.expectedComposite(pid, p, seed)
      got.get(key) match {
        case None => problems += s"composite of point $pid at ${p.end} missing"
        case Some((n, s, pr)) =>
          if (math.abs(n - en) > 1e-9 || math.abs(s - es) > 1e-9 || math.abs(pr - ep) > 1e-9 * math.max(1, ep))
            problems += s"composite of point $pid at ${p.end}: got ($n, $s, $pr), want ($en, $es, $ep)"
      }
    }
    Verdict(problems.toSeq, Seq(hComb, hCells, hTrends, crc.getValue).mkString("-"), fc)
  }
}
