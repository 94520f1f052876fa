package perfbench

import java.time.LocalDate
import java.time.temporal.ChronoUnit

import graft.grid.Grid
import graft.window.Periods
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded, reference-shaped inputs for the forage pipeline, generated inside
  * Spark. Points sit on distinct cell centres of `Grid.Reference` (300×260,
  * 0.05°), at least one in each of the 151 zone polygons that tile the grid;
  * every point has one daily sample per source for every day of the
  * requested 16-day periods.
  *
  * Sample values are closed-form functions of (point, day, seed), so the
  * checker can recompute any stage-1 composite without reading the inputs
  * (see [[expectedComposite]]). */
object ForageGen {

  val Anchor: LocalDate = LocalDate.of(2024, 1, 1)
  val Points = 19129
  val Zones = 151
  /** `ForageConfig.dataLatencyDays`' default: the watermark trails the run date by it. */
  val LatencyDays = 2

  private val G = Grid.Reference
  private val NCells = G.nRows * G.nCols
  private val Golden = 0.6180339887498949

  final case class Inputs(ndvi: String, sm: String, preci: String,
                          zones: Seq[(String, String)], periods: Seq[Periods.Period],
                          currentDate: LocalDate, points: Int, rows: Long)

  /** The first `n` composite periods from [[Anchor]] (year-boundary reset included). */
  def periods(n: Int): Seq[Periods.Period] = {
    val far = Anchor.plusDays(16L * (n + 2))
    val ps = Periods.compositePeriods(Anchor, far)
    require(ps.size >= n, s"calendar yields ${ps.size} periods, need $n")
    ps.take(n)
  }

  /** The cell of every point id: first the cell under each zone's vertex
    * centroid, so every zone holds a point whatever the point count, then
    * all other cells in a seeded random order. */
  def pointCells(seed: Long): Array[Int] = {
    val centres = zoneShapes(seed).map { case (_, pts) =>
      val (cx, cy) = (pts.map(_._1).sum / pts.size, pts.map(_._2).sum / pts.size)
      ((G.originLat - cy) / G.pixel).toInt * G.nCols + ((cx - G.originLon) / G.pixel).toInt
    }
    val taken = centres.toSet
    require(taken.size == Zones, "zone centres share a cell")
    (centres ++ new scala.util.Random(seed).shuffle((0 until NCells).toVector).filterNot(taken))
      .toArray
  }

  /** Point phase in [0, 2π): the per-point parameter of every sample curve. */
  private def phase(pid: Double, seed: Long): Double = {
    val x = pid * Golden + seed * 0.1234567
    (x - math.floor(x)) * 2 * math.Pi
  }
  private def phaseCol(pid: Column, seed: Long): Column = {
    val x = pid.cast("double") * lit(Golden) + lit(seed * 0.1234567)
    (x - floor(x)) * lit(2 * math.Pi)
  }

  /** Daily sample of each source at (phase, day index since [[Anchor]]). */
  def ndviAt(ph: Double, d: Double): Double = 0.35 + 0.25 * math.sin(ph + 0.07 * d)
  def smAt(ph: Double, d: Double): Double = 0.20 + 0.10 * math.cos(1.3 * ph + 0.05 * d)
  def preciAt(ph: Double, d: Double): Double = 4.0 * (1.0 + math.sin(0.7 * ph + 0.11 * d))

  private def ndviCol(ph: Column, d: Column) = lit(0.35) + lit(0.25) * sin(ph + lit(0.07) * d)
  private def smCol(ph: Column, d: Column) = lit(0.20) + lit(0.10) * cos(lit(1.3) * ph + lit(0.05) * d)
  private def preciCol(ph: Column, d: Column) = lit(4.0) * (lit(1.0) + sin(lit(0.7) * ph + lit(0.11) * d))

  /** Expected stage-1 composite (ndvi mean, sm mean, preci sum) of point
    * `pid` over period `p`, in closed form. */
  def expectedComposite(pid: Long, p: Periods.Period, seed: Long): (Double, Double, Double) = {
    val ph = phase(pid.toDouble, seed)
    val days = (ChronoUnit.DAYS.between(Anchor, p.start) to ChronoUnit.DAYS.between(Anchor, p.end))
      .map(_.toDouble)
    (days.map(ndviAt(ph, _)).sum / days.size, days.map(smAt(ph, _)).sum / days.size,
     days.map(preciAt(ph, _)).sum)
  }

  /** 151 zones tiling the grid: a 10×15 lattice of quadrilaterals whose
    * interior vertices are jittered by the seed, with the last quadrilateral
    * split along its diagonal. Shared vertices make the tiling exact. */
  def zoneShapes(seed: Long): Seq[(String, Seq[(Double, Double)])] = {
    val (nx, ny) = (10, 15)
    val (w, h) = (G.nCols * G.pixel, G.nRows * G.pixel)
    val rnd = new scala.util.Random(seed)
    val vertex = Array.tabulate(nx + 1, ny + 1) { (i, j) =>
      val interior = i > 0 && i < nx && j > 0 && j < ny
      val (jx, jy) = if (interior) ((rnd.nextDouble() - 0.5) * 0.6, (rnd.nextDouble() - 0.5) * 0.6)
                     else (0.0, 0.0)
      (G.originLon + (i + jx) * w / nx, G.originLat - (j + jy) * h / ny)
    }
    val quads = for (j <- 0 until ny; i <- 0 until nx)
      yield Seq(vertex(i)(j), vertex(i + 1)(j), vertex(i + 1)(j + 1), vertex(i)(j + 1))
    val q = quads.last
    val shapes = quads.init ++ Seq(Seq(q(0), q(1), q(2)), Seq(q(0), q(2), q(3)))
    require(shapes.size == Zones)
    shapes.zipWithIndex.map { case (s, k) => (f"Z$k%03d", s) }
  }

  /** [[zoneShapes]] as (zone id, WKT polygon). */
  def zones(seed: Long): Seq[(String, String)] = zoneShapes(seed).map { case (id, pts) =>
    id -> (pts :+ pts.head).map { case (x, y) => s"$x $y" }.mkString("POLYGON((", ", ", "))")
  }

  /** Write the three point-sample sources (lon, lat, d, v) under `dir`. */
  def generate(spark: SparkSession, dir: String, seed: Long, nPeriods: Int,
               points: Int = Points): Inputs = {
    val ps = periods(nPeriods)
    val nDays = ChronoUnit.DAYS.between(Anchor, ps.last.end) + 1
    import spark.implicits._
    val cells = pointCells(seed).take(points).toSeq.zipWithIndex
      .map { case (c, pid) => (pid.toLong, c.toLong) }.toDF("pid", "cell")
    val base = spark.range(0L, points.toLong * nDays, 1L, 8)
      .select((col("id") / nDays).cast("long").as("pid"), (col("id") % nDays).as("di"))
      .join(broadcast(cells), "pid")
      .select(phaseCol(col("pid"), seed).as("ph"), col("di").cast("double").as("dd"),
              G.lonOf(col("cell") % G.nCols).as("lon"),
              G.latOf((col("cell") / G.nCols).cast("long")).as("lat"),
              date_add(lit(java.sql.Date.valueOf(Anchor)), col("di").cast("int")).as("d"))
    def write(name: String, v: (Column, Column) => Column): String = {
      val path = s"$dir/src_$name"
      base.select(col("lon"), col("lat"), col("d"), v(col("ph"), col("dd")).as("v"))
        .write.mode("overwrite").parquet(path)
      path
    }
    Inputs(write("ndvi", ndviCol), write("sm", smCol), write("preci", preciCol),
      zones(seed), ps, ps.last.end.plusDays(LatencyDays.toLong), points, 3L * points * nDays)
  }

  /** Order-independent content hash of a frame: row count and the sum of
    * per-row xxhash64 folded to 31 bits (a sum that cannot overflow). */
  def frameHash(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(2147483647L))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Hash of everything the generator hands the program: the three sources and the zones. */
  def inputHash(spark: SparkSession, in: Inputs): String = {
    val srcs = Seq(in.ndvi, in.sm, in.preci).map(p => frameHash(spark.read.parquet(p)))
    val z = in.zones.map(_.hashCode).foldLeft(17L)((h, x) => h * 31 + x)
    (srcs.map { case (n, h) => s"$n:$h" } :+ z.toString).mkString("/")
  }
}
