package perfbench

import java.io.File

import scala.collection.mutable

import graft.grid.Grid
import graft.pipeline.{Forage, ForageConfig, ForageJob}
import graft.sources.GeoTiff
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The forage workload: the scheduled `ForageJob.run` over one generated,
  * reference-shaped 16-day batch.
  *
  * Every iteration models one scheduled run in a long-lived driver: cached
  * data and session memos are dropped first, so no iteration reuses the
  * previous one's stage-1 cache or zonal membership. JIT warm-up is an
  * untimed first run on a quarter of the points, counted in `setup_s`. */
object ForageBench {

  private def fresh(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.core.SessionMemo.dropSession(spark)
  }

  private def config(in: ForageGen.Inputs, out: String) = ForageConfig(
    ndviPath = in.ndvi, smPath = in.sm, preciPath = in.preci, outputDir = out,
    anchor = ForageGen.Anchor, currentDate = in.currentDate, zones = in.zones)

  final case class Iter(seconds: Double, verdict: Either[String, ForageCheck.Verdict])

  /** One scheduled run from a fresh state: its wall seconds, or why it threw. */
  private def runOnce(spark: SparkSession, cfg: ForageConfig): Either[String, Double] = {
    fresh(spark)
    val t0 = System.nanoTime()
    try { ForageJob.run(spark, cfg); Right((System.nanoTime() - t0) / 1e9) }
    catch { case scala.util.control.NonFatal(e) => Left(s"ForageJob.run threw: $e") }
  }

  /** One run plus its check; a throw is a failed operation, never a timing. */
  private def iteration(spark: SparkSession, cfg: ForageConfig, in: ForageGen.Inputs,
                        seed: Long): Iter = {
    val r = runOnce(spark, cfg)
    Iter(r.getOrElse(0.0), r.map(_ => ForageCheck.check(spark, cfg.outputDir, in, seed)))
  }

  /** Problems of each run: its own check, plus outputs differing from the
    * first run's (all runs read one input). */
  private def judge(its: Seq[Iter]): Seq[Seq[String]] = {
    val first = its.head.verdict.toOption
    its.map {
      case Iter(_, Left(err)) => Seq(err)
      case Iter(_, Right(v)) => v.problems ++ first.fold(Seq("the first run failed")) { f =>
        (if (f.hash == v.hash) Nil else Seq(s"output hash ${v.hash} != first run's ${f.hash}")) ++
          ForageCheck.forecastDrift(f.forecasts, v.forecasts)
      }
    }
  }

  /** Count failed runs, logging why. */
  private def failures(its: Seq[Iter]): Seq[Boolean] = judge(its).map { ps =>
    ps.foreach(p => System.err.println(s"[perfbench] FAILED: $p"))
    ps.nonEmpty
  }

  def run(o: Opts): Result = {
    val spark = Sessions.forage(o.cpus, o.work)
    val dir = new File(o.work, s"${o.workload}-${o.seed}").getPath
    val warmIn = ForageGen.generate(spark, s"$dir/warm", o.seed, 1, ForageGen.Points / 4)
    val in = ForageGen.generate(spark, dir, o.seed, 1)
    val cfg = config(in, s"$dir/out")
    val warm = iteration(spark, config(warmIn, s"$dir/warm/out"), warmIn, o.seed)
    val setupS = Main.sinceJvmStart()
    val warmOk = !failures(Seq(warm)).head
    if (o.trace) traced(spark, o, in, cfg, warmOk)
    else {
      val t0 = System.nanoTime()
      val iters = mutable.ArrayBuffer.empty[Iter]
      do iters += iteration(spark, cfg, in, o.seed)
      while ((System.nanoTime() - t0) / 1e9 < o.seconds)
      val failed = failures(iters.toSeq)
      val good = iters.zip(failed).collect { case (it, false) => it.seconds }.toSeq
      // with nothing correct (the run reports correct = false) the failed runs' times stand in
      val secs = if (good.nonEmpty) good else iters.map(_.seconds).toSeq
      val wall = Main.median(secs)
      System.err.println(s"[perfbench] ${o.workload}: runs ${iters.map(_.seconds).mkString(", ")} s")
      Metrics.result(warmOk && !failed.contains(true), iters.size + 1,
        failed.count(identity) + (if (warmOk) 0 else 1), trace = false, Map(
        "setup_s" -> setupS,
        "wall_s" -> wall,
        "rows_per_s" -> in.rows / wall,
        "query_p50_s" -> Main.median(secs),
        "query_p75_s" -> Main.percentile(secs, 75)))
    }
  }

  /** The traced run. An untraced `ForageJob.run` gives the reference wall;
    * the same run under the tracer gives Spark totals, the GWR fit passes
    * and `trace.overhead_s`; a staged run then calls the public stage
    * functions one by one, each materialized inside its span, which gives
    * each layer's self time. `pipeline.unattributed_s` is what the
    * scheduled run costs beyond the staged run's summed self times. */
  private def traced(spark: SparkSession, o: Opts, in: ForageGen.Inputs, cfg: ForageConfig,
                     warmOk: Boolean): Result = {
    val plain = iteration(spark, cfg, in, o.seed)
    HeapPeak.reset()
    val tr = new Tracer(spark)
    tr.attach()
    val whole = tr.span("pipeline.run")(runOnce(spark, cfg))
    tr.drain()
    val tracedRun = Iter(whole.getOrElse(0.0),
      whole.map(_ => ForageCheck.check(spark, cfg.outputDir, in, o.seed)))
    val runSpan = tr.spans.find(_.name == "pipeline.run").get
    val runStats = tr.stats(tr.subtree(runSpan))
    val runGap = tr.driverGapS(Seq(runSpan))
    val fitActions = tr.actions.filter(_.fitPasses > 0)
    tr.actions.foreach(a => System.err.println(f"[perfbench] ForageJob.run action ${a.func}%-8s ${a.seconds}%8.3f s fit=${a.fitPasses}"))
    tr.reset()

    val stagedOut = s"${new File(cfg.outputDir).getParent}/staged"
    fresh(spark)
    val facts =
      try Right(staged(spark, tr, cfg, stagedOut))
      catch { case scala.util.control.NonFatal(e) => Left(s"staged run threw: $e") }
    tr.detach()
    val heapMb = HeapPeak.peakMb()
    val stagedCheck = Iter(0, facts.map(_ => ForageCheck.check(spark, stagedOut, in, o.seed)))
    val failed = failures(Seq(plain, tracedRun, stagedCheck))

    val ss = tr.spans
    def self(name: String) = ss.filter(_.name == name).map(_.selfS).sum
    def st(name: String) = tr.stats(ss.filter(_.name == name))
    val stagedSum = ss.filter(_.parent.isEmpty).map(_.selfS).sum
    val control = Sessions.controlMedianS(spark, 3)
    System.err.println(f"[perfbench] untraced ${plain.seconds}%.3f s, traced ${tracedRun.seconds}%.3f s, staged self-time sum $stagedSum%.3f s")
    Metrics.result(warmOk && !failed.contains(true), failed.size + 1,
      failed.count(identity) + (if (warmOk) 0 else 1), trace = true, Map(
      "window.composite_s" -> self("window"),
      "window.rows_in" -> st("window").inputRecords.toDouble,
      "window.shuffle_bytes" -> st("window").shuffleWrite.toDouble,
      "ml.gwr_s" -> self("ml.gwr"),
      "ml.gwr_fit_passes" -> fitActions.map(_.fitPasses).sum.toDouble,
      "ml.gwr_refit_s" -> fitActions.drop(1).map(_.seconds).sum,
      "ml.gp_s" -> self("ml.gp"),
      "grid.burn_s" -> self("grid.burn"),
      "grid.dense_collect_s" -> self("grid.dense_collect"),
      "sources.geotiff_write_s" -> self("sources.geotiff_write"),
      "agg.zonal_s" -> self("agg.zonal"),
      "agg.membership_s" -> self("agg.membership"),
      "pipeline.parquet_write_s" -> self("pipeline.parquet_write"),
      "pipeline.bytes_written" -> st("pipeline.parquet_write").outputBytes.toDouble,
      "pipeline.unattributed_s" -> (plain.seconds - stagedSum),
      "spark.jobs" -> runStats.jobs.toDouble,
      "spark.tasks" -> runStats.tasks.toDouble,
      "spark.task_s" -> runStats.runMs / 1e3,
      "spark.shuffle_write_bytes" -> runStats.shuffleWrite.toDouble,
      "spark.spill_bytes" -> runStats.spill.toDouble,
      "spark.gc_s" -> runStats.gcMs / 1e3,
      "spark.driver_gap_s" -> runGap,
      "host.control_s" -> control,
      "host.heap_live_peak_mb" -> heapMb,
      "trace.overhead_s" -> (tracedRun.seconds - plain.seconds)) ++ facts.getOrElse(Map.empty))
  }

  /** `ForageJob.run`'s stages through the public functions it calls, in its
    * order, each result materialized inside its layer's span. Returns the
    * counts the layer metrics report. */
  private def staged(spark: SparkSession, tr: Tracer, cfg: ForageConfig,
                     out: String): Map[String, Double] = {
    def src(p: String) = spark.read.parquet(p)
    val combined = tr.span("window") {
      val c = Forage.stage1Combined(src(cfg.ndviPath), src(cfg.smPath), src(cfg.preciPath),
        cfg.anchor, ForageJob.watermark(cfg)).cache()
      c.count()
      c
    }
    val scored = tr.span("ml.gwr") {
      val s = Forage.stage2Score(spark, combined, cfg.bandwidth).cache()
      s.count()
      s
    }
    val cells = tr.span("grid.burn") {
      val c = Forage.stage3Rasterize(scored).cache()
      c.count()
      c
    }
    tr.span("pipeline.parquet_write") {
      combined.write.mode("overwrite").parquet(s"$out/combined")
      cells.write.mode("overwrite").partitionBy("date").parquet(s"$out/cells")
    }
    val layers = new File(s"$out/layers")
    layers.mkdirs()
    Option(layers.listFiles()).foreach(_.foreach(_.delete()))
    val cellsBack = spark.read.parquet(s"$out/cells")
    val g = Grid.Reference
    val dates = tr.span("grid.dense_collect") {
      cellsBack.select("date").distinct().orderBy("date").collect().map(_.getDate(0))
    }
    val fmt = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
    dates.foreach { d =>
      val dense = tr.span("grid.dense_collect")(Grid.toDense(cellsBack.where(col("date") === d), g))
      val flat = dense.flatMap(_.map(_.toFloat))
      tr.span("sources.geotiff_write") {
        GeoTiff.write(s"$out/layers/biomass_${d.toLocalDate.format(fmt)}.tif",
          g.nCols, g.nRows, flat, Some(Grid.Nodata))
      }
    }
    tr.span("agg.membership")(graft.agg.Zonal.membership(spark, cfg.zones, g).count())
    val zonal = tr.span("agg.zonal") {
      val z = Forage.stage4Zonal(spark, cells, cfg.zones).cache()
      z.count()
      z
    }
    tr.span("pipeline.parquet_write") {
      zonal.write.mode("overwrite").partitionBy("date").parquet(s"$out/trends")
    }
    val fc = tr.span("ml.gp") {
      val f = Forage.stage5Forecast(spark,
        spark.read.parquet(s"$out/trends").select("zone_id", "date", "mean_value")).cache()
      f.count()
      f
    }
    tr.span("pipeline.parquet_write")(fc.write.mode("overwrite").parquet(s"$out/forecasts"))
    tr.drain()

    // counts, read outside every span
    val nComb = combined.count()
    val calibCap = 20000L // Forage.stage2Score's default calibration cap
    val calib =
      if (nComb <= calibCap) nComb
      else combined.where(pmod(xxhash64(col("lon"), col("lat"), col("date")),
        lit((nComb + calibCap - 1) / calibCap)) === 0).count()
    val tifs = layers.listFiles().filter(_.getName.endsWith(".tif"))
    Map(
      "window.rows_out" -> nComb.toDouble,
      "ml.gwr_calib_rows" -> calib.toDouble,
      "ml.gwr_fit_cells" -> combined.select("lon", "lat").distinct().count().toDouble,
      "ml.gp_zones" -> (fc.count() / 3).toDouble,
      "grid.cells" -> cells.count().toDouble,
      "sources.geotiff_bytes" -> tifs.map(_.length).sum.toDouble,
      "sources.rasters" -> tifs.length.toDouble,
      "agg.zone_rows" -> zonal.count().toDouble)
  }
}
