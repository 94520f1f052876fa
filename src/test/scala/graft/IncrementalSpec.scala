package graft

import java.nio.file.Files
import java.time.LocalDate

import graft.plans.ForagePeriod
import graft.window.Periods
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** §2.9 incremental semantics + the W1 scalar expression. */
class IncrementalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("ForagePeriodEnd closed form ≡ the period-calendar loop (property)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val anchor = LocalDate.parse("2019-01-01").plusDays(rnd.nextInt(1500).toLong)
      val horizon = anchor.plusDays(400)
      val byLoop = Periods.compositePeriods(anchor, horizon)
        .flatMap { p =>
          (0L to java.time.temporal.ChronoUnit.DAYS.between(p.start, p.end))
            .map(o => p.start.plusDays(o) -> p.end)
        }.toMap
      byLoop.foreach { case (d, expectedEnd) =>
        val got = ForagePeriod.periodEndDaysOrMin(d.toEpochDay.toInt, anchor.toEpochDay.toInt)
        assert(got == expectedEnd.toEpochDay.toInt,
          s"anchor=$anchor d=$d expected=$expectedEnd got=${LocalDate.ofEpochDay(got.toLong)}")
      }
    }
  }

  test("ForagePeriodEnd: null before anchor; codegen path matches eval") {
    GraftExtensions.install(spark)
    val df = Seq("1994-12-31", "1995-01-01", "1995-01-16", "1995-12-31", "1996-01-01", "1996-01-02")
      .toDF("s").select(to_date($"s").as("d"))
      .withColumn("p_end", expr("forage_period_end(d, DATE '1995-01-01')"))
    val got = df.select($"p_end".cast("string")).as[String].collect().toSeq
    assert(got == Seq(null, "1995-01-16", "1995-01-16", "1996-01-01", "1996-01-01", "1996-01-17"))
  }

  test("incremental resume: watermark + overwrite-by-partition is idempotent") {
    val dir = Files.createTempDirectory("graft_incr").toFile.getAbsolutePath
    def writeBatch(dates: Seq[String]): Unit =
      dates.map(d => (java.sql.Date.valueOf(d), d.hashCode.toDouble)).toDF("date", "v")
        .write.mode("append").partitionBy("date").parquet(dir)
    // run 1: two partitions land
    writeBatch(Seq("2024-01-16", "2024-02-01"))
    val out1 = spark.read.parquet(dir)
    val resume1 = Periods.resumeStart(out1, "date", LocalDate.parse("2024-01-01"))
    assert(resume1 == LocalDate.parse("2024-02-02")) // max + 1 day
    // run 2: processes only dates >= resume1
    val newData = Seq("2024-01-16", "2024-02-17") // first is already done
    val todo = newData.filter(d => !LocalDate.parse(d).isBefore(resume1))
    assert(todo == Seq("2024-02-17"))
    writeBatch(todo)
    val all = spark.read.parquet(dir).select($"date".cast("string")).as[String].collect().sorted
    assert(all.toSeq == Seq("2024-01-16", "2024-02-01", "2024-02-17")) // no dup partitions
    // empty table falls back to the default start
    val empty = spark.read.parquet(dir).where(lit(false))
    assert(Periods.resumeStart(empty, "date", LocalDate.parse("2024-01-01")) ==
           LocalDate.parse("2024-01-01"))
    // latency watermark (data_latency_days = 2)
    assert(Periods.latencyWatermark(LocalDate.parse("2026-02-04"), 2) ==
           LocalDate.parse("2026-02-02"))
  }
}
