package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM (`run.py` builds it). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: File, data: File, cpus: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") match { case "0" => false; case "1" => true
                           case t => throw new IllegalArgumentException(s"--trace $t") },
      new File(get("work")).getAbsoluteFile, new File(get("data")).getAbsoluteFile,
      get("cpus").toInt)
    require(o.seconds > 0 && o.cpus > 0, "--seconds and --cpus must be positive")
    o
  }
}

/** What one run prints: the correctness verdict and its metrics. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Seq[(String, Double, String)]) {
  require(attempted >= 1, "a run attempts at least one operation")
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** The metric names and units a run reports; `BENCHMARK.json` declares the same. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "wall_s" -> "s",
    "rows_per_s" -> "1/s", "query_p50_s" -> "s", "query_p75_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "window.composite_s" -> "s", "window.rows_in" -> "count", "window.rows_out" -> "count",
    "window.shuffle_bytes" -> "bytes",
    "ml.gwr_s" -> "s", "ml.gwr_calib_rows" -> "count", "ml.gwr_fit_cells" -> "count",
    "ml.gwr_fit_passes" -> "count", "ml.gwr_refit_s" -> "s", "ml.gp_s" -> "s", "ml.gp_zones" -> "count",
    "grid.burn_s" -> "s", "grid.cells" -> "count", "grid.dense_collect_s" -> "s",
    "sources.geotiff_write_s" -> "s", "sources.geotiff_bytes" -> "bytes", "sources.rasters" -> "count",
    "agg.zonal_s" -> "s", "agg.membership_s" -> "s", "agg.zone_rows" -> "count",
    "pipeline.parquet_write_s" -> "s", "pipeline.bytes_written" -> "bytes",
    "pipeline.unattributed_s" -> "s",
    "queries.construct_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
    "queries.driver_gap_s" -> "s", "queries.iterative_s" -> "s", "streaming.s" -> "s") ++
    Census.Flagged.map(q => s"q.${q}_s" -> "s") ++ Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
    "spark.driver_gap_s" -> "s", "host.control_s" -> "s", "host.heap_live_peak_mb" -> "MB",
    "trace.overhead_s" -> "s")

  /** Every end-to-end metric must be measured. A per-layer metric whose
    * layer is off the workload's path reads 0. */
  def result(correct: Boolean, attempted: Long, failed: Long, trace: Boolean,
             values: Map[String, Double]): Result = {
    val catalog = if (trace) PerLayer else EndToEnd
    val unknown = values.keySet -- catalog.map(_._1)
    require(unknown.isEmpty, s"undeclared metrics: ${unknown.mkString(", ")}")
    if (!trace) {
      val missing = catalog.map(_._1).filterNot(values.contains)
      require(missing.isEmpty, s"unmeasured metrics: ${missing.mkString(", ")}")
    }
    Result(correct, attempted, failed, catalog.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) })
  }
}

/** Peak of the driver heap's after-GC usage, from GC notifications. */
object HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  private val onGc = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(onGc, null, null)
    case _ => ()
  }

  def reset(): Unit = synchronized { peak = 0L }

  /** Peak since [[reset]]. A final collection makes sure there is at least
    * one sample, so a run that never collected still reads its live heap. */
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(200) // GC notifications are delivered on their own thread
    val bytes = synchronized { peak }
    bytes / (1024.0 * 1024.0)
  }
}

object Main {
  /** Seconds since this JVM started: the clock `setup_s` is read from. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The `p`-th percentile, interpolated between order statistics
    * (`statistics.quantiles(xs, n=100, method="inclusive")[p - 1]`). */
  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val j = pos.toInt
    if (j + 1 >= s.size) s.last else s(j) + (s(j + 1) - s(j)) * (pos - j)
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val result = o.workload match {
      case "forage_batch"    => ForageBench.run(o)
      case "registry_census" => Census.run(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    SparkSession.getActiveSession.foreach(_.stop())
    println("PERFBENCH_RESULT " + result.json)
  }
}
