package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Each workload's session carries the settings of the program main that
  * serves it, at `local[cpus]`. Paths a main points outside its working
  * tree move under the benchmark's work directory. */
object Sessions {

  private def builder(cpus: Int, work: File) = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)

  /** `graft.pipeline.ForageJob.main`. */
  def forage(cpus: Int, work: File): SparkSession = quiet(builder(cpus, work)
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate())

  /** `graft.Bench`; its `/dev/shm` shuffle directory becomes `<work>/spark-local`. */
  def census(cpus: Int, work: File): SparkSession = {
    val local = new File(work, "spark-local")
    local.mkdirs()
    quiet(builder(cpus, work)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local.getPath)
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "2m")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
  }

  private def quiet(s: SparkSession): SparkSession = { s.sparkContext.setLogLevel("ERROR"); s }

  /** Median of `n` control samples, after one untimed run that compiles it. */
  def controlMedianS(spark: SparkSession, n: Int): Double = {
    controlS(spark)
    val s = Seq.fill(n)(controlS(spark)).sorted
    s(n / 2)
  }

  /** `graft.Bench`'s host-rate control: a fixed 48M-row range, one hash
    * shuffle to 9973 keys, a 1-row final aggregate. */
  def controlS(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 48000000L, 1L, 32)
      .selectExpr("id % 9973 AS k", "id AS v")
      .groupBy("k").count()
      .selectExpr("sum(k * count)").collect()
    (System.nanoTime() - t0) / 1e9
  }
}
