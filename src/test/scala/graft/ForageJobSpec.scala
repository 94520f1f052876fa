package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.pipeline.{Forage, ForageJob}
import org.apache.spark.sql.execution.{MapPartitionsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The configured 5-stage job (the reference's scheduled entrypoint):
  * runs end-to-end on harness data, writes date-partitioned sinks, and
  * respects the latency watermark. */
class ForageJobSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("ForageJob runs stages 1-5 and writes partitioned outputs") {
    val out = Files.createTempDirectory("graft_job").toFile.getAbsolutePath
    val paths = ForageJob.runOnHarness(spark, "/root/testdata/sf0.001", out)
    assert(paths.keySet == Set("combined", "cells", "layers", "trends", "forecasts"))

    val combined = spark.read.parquet(paths("combined"))
    assert(combined.count() > 0)
    // watermark: currentDate 2024-02-02 − 2 days latency ⇒ only the period
    // ending 2024-01-16 is complete; the 02-01 period must be withheld
    assert(combined.select("date").distinct().collect().map(_.getLong(0)).toSet == Set(20240116L))

    // K3 shape: the cell mosaic and zone trends are date-partitioned
    assert(new java.io.File(paths("cells")).listFiles().exists(_.getName.startsWith("date=")))
    assert(new java.io.File(paths("trends")).listFiles().exists(_.getName.startsWith("date=")))

    // K2 + K7: one biomass_YYYYMMDD.tif per processed date plus the
    // new-files manifest, decodable by our own reader at reference shape
    val layers = new java.io.File(paths("layers"))
    val tifs = layers.list().filter(_.endsWith(".tif")).sorted
    assert(tifs.toSeq == Seq("biomass_20240116.tif"))
    val rast = graft.sources.GeoTiff.read(s"${paths("layers")}/biomass_20240116.tif")
    assert(rast.width == 260 && rast.height == 300 && rast.nodata.contains(-99999.0))
    assert(rast.data.exists(v => v != -99999.0f)) // real values burned
    val manifest = new String(Files.readAllBytes(
      new java.io.File(layers, "new_files.txt").toPath), "UTF-8")
    assert(manifest.trim == "biomass_20240116.tif")

    // K5 payload: 3 forecast horizons per zone, 4dp means
    val fc = spark.read.parquet(paths("forecasts"))
    val perZone = fc.groupBy("extId").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perZone.values.forall(_ == 3) && perZone.keySet == Set("Z_WEST", "Z_EAST"))
    assert(fc.columns.toSet == Set("extId", "mean", "date"))

    // K8 success notice lists the uploaded rasters; K9: a clean finish
    // leaves Output_check present but empty (ForecastMain.py:123-127)
    val eml = new String(Files.readAllBytes(
      new java.io.File(out, "notification.eml").toPath), "UTF-8")
    assert(eml.contains("Notice: Biomass Data Updated Successfully:"))
    assert(eml.contains("<li>biomass_20240116.tif</li>"))
    val check = new java.io.File(out, "Output_check")
    assert(check.isDirectory && check.list().isEmpty)
  }

  /** Stage-2 fit operators in an executed plan: `MapPartitionsExec` nodes
    * whose function was defined in `graft.pipeline.Forage` (the per-cell GWR
    * fit is the pipeline's only typed `mapPartitions`). A cached relation is
    * not descended into: its plan runs only when the cache is built. */
  private def fitPasses(plan: SparkPlan): Int = {
    val self = plan match {
      case m: MapPartitionsExec if m.func.getClass.getName.startsWith("graft.pipeline.Forage$") => 1
      case _ => 0
    }
    val kids = plan match {
      case a: AdaptiveSparkPlanExec  => Seq(a.executedPlan)
      case q: QueryStageExec         => Seq(q.plan)
      case _: InMemoryTableScanExec  => Nil
      case d: DataWritingCommandExec => Seq(d.child)
      case e: ExecutedCommandExec    => e.children
      case other                     => other.children ++ other.subqueries
    }
    self + kids.map(fitPasses).sum
  }

  test("ForageJob fits the GWR surface once; stage 4 reads the written cells") {
    val out = Files.createTempDirectory("graft_job_fit").toFile.getAbsolutePath
    val marker = "forage_job_spec_done"
    val passes = new java.util.concurrent.atomic.AtomicInteger()
    val done = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) done.countDown()
        else passes.addAndGet(fitPasses(qe.executedPlan))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val paths =
      try {
        val p = ForageJob.runOnHarness(spark, "/root/testdata/sf0.001", out)
        // listener events arrive in order: once the marker action is seen,
        // every action of the job has been counted
        spark.range(1).toDF(marker).collect()
        assert(done.await(60, TimeUnit.SECONDS))
        p
      } finally spark.listenerManager.unregister(listener)
    assert(passes.get == 1)

    val trends = spark.read.parquet(paths("trends"))
    val zones = Seq(
      "Z_WEST" -> "POLYGON((35.95 15.05, 36.75 15.05, 36.75 13.9, 35.95 13.9, 35.95 15.05))",
      "Z_EAST" -> "POLYGON((36.75 15.05, 37.55 15.05, 37.55 13.9, 36.75 13.9, 36.75 15.05))")
    val expected = Forage.stage4Zonal(spark, spark.read.parquet(paths("cells")), zones)
      .select(trends.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    assert(trends.count() > 0)
    assert(trends.exceptAll(expected).isEmpty && expected.exceptAll(trends).isEmpty)
  }

  test("K8 failure contract: truncate downstream, drop the failure notice, rethrow") {
    val out = Files.createTempDirectory("graft_job_fail").toFile.getAbsolutePath
    val cfg = graft.pipeline.ForageConfig(
      ndviPath = s"$out/does_not_exist",
      smPath = s"$out/does_not_exist",
      preciPath = s"$out/does_not_exist",
      outputDir = out,
      anchor = java.time.LocalDate.parse("2024-01-01"),
      currentDate = java.time.LocalDate.parse("2024-02-02"))
    intercept[Exception] { ForageJob.run(spark, cfg) } // rethrown, not swallowed
    val eml = new String(Files.readAllBytes(
      new java.io.File(out, "notification.eml").toPath), "UTF-8")
    assert(eml.contains("Notice: Biomass Data Failed to Update:"))
    assert(eml.contains("color: red;"))
    // the downstream handoff is truncated: schema-only CSV, zero rows
    val truncated = spark.read.option("header", "true").csv(s"$out/combined")
    assert(truncated.columns.toSeq ==
      Seq("lon", "lat", "date", "ndvi", "sm", "preci") && truncated.count() == 0)
  }
}
