package perfbench

import java.io.File

import graft.Q
import graft.pipeline.ForageJob
import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: seeded inputs are reproducible, and the
  * checkers count a dropped raster and a thrown query as failures. Run by
  * `test_perfbench.py`; exits non-zero if any check fails. */
object SelfTest {

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args ++ Array("--workload", "selftest", "--seed", "1",
      "--seconds", "1", "--trace", "0"))
    val spark = Sessions.forage(o.cpus, o.work)
    var failures = 0
    def expect(what: String, ok: Boolean): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    try {
      inputs(spark, o.work, expect)
      forageCheck(spark, o.work, expect)
      census(spark, expect)
      names(expect)
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }

  private def inputs(spark: SparkSession, work: File, expect: (String, Boolean) => Unit): Unit = {
    def hash(seed: Long, dir: String) =
      ForageGen.inputHash(spark, ForageGen.generate(spark, s"$work/$dir", seed, 2, 500))
    val a = hash(1, "a")
    expect("same seed gives the same input hash", a == hash(1, "b"))
    expect("another seed gives another input hash", a != hash(2, "c"))
  }

  private def forageCheck(spark: SparkSession, work: File, expect: (String, Boolean) => Unit): Unit = {
    val in = ForageGen.generate(spark, s"$work/run", 3, 1, ForageGen.Points / 4)
    val out = s"$work/run/out"
    ForageJob.run(spark, graft.pipeline.ForageConfig(in.ndvi, in.sm, in.preci, out,
      ForageGen.Anchor, in.currentDate, zones = in.zones))
    val clean = ForageCheck.check(spark, out, in, 3)
    expect(s"a correct run passes the check ${clean.problems}", clean.ok)
    new File(out, "layers").listFiles().filter(_.getName.endsWith(".tif")).foreach(_.delete())
    val dropped = ForageCheck.check(spark, out, in, 3)
    expect("a dropped raster fails the check", dropped.problems.exists(_.startsWith("rasters")))
  }

  private def census(spark: SparkSession, expect: (String, Boolean) => Unit): Unit = {
    def q(name: String, run: SparkSession => org.apache.spark.sql.DataFrame) =
      Q(name, Nil, (s, _) => run(s))
    val qs = Seq(q("fine", _.range(3).toDF()), q("short", _.range(2).toDF()),
                 q("throws", _ => throw new IllegalStateException("boom")))
    val got = Census.pass(spark, "unused", qs, Map("fine" -> 3L, "short" -> 3L, "throws" -> 1L),
        (q, dir) => q.run(spark, dir).count())
      .map(o => o.name -> o.error).toMap
    expect("a query with the expected rows passes", got("fine").isEmpty)
    expect("a wrong row count is a failure", got("short").isDefined)
    expect("a thrown query is a failure", got("throws").exists(_.startsWith("threw")))
  }

  private def names(expect: (String, Boolean) => Unit): Unit = {
    val all = (Metrics.EndToEnd ++ Metrics.PerLayer).map(_._1)
    expect("metric names match [A-Za-z0-9_.-]+", all.forall(_.matches("[A-Za-z0-9_.-]+")))
    expect("metric names are unique", all.distinct.size == all.size)
  }
}
