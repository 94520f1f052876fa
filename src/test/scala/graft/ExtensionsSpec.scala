package graft

import graft.plans.{AsOfJoinPlan, RangeJoinRule}
import graft.queries.AnnQueries
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** graft.GraftExtensions injects the engine's native expressions
  * session-wide via spark.sql.extensions, or installs them into a live
  * session (`GraftExtensions.install`, which `Q.run` calls).
  *
  * Extensions apply at session build time, so this needs its own
  * SparkSession instance; it shares the suite-wide SparkContext (a second
  * session, not a second cluster) and restores the shared session as
  * default afterwards so the other suites are untouched. */
class ExtensionsSpec extends AnyFunSuite {

  test("spark.sql.extensions=graft.GraftExtensions exposes both functions to SQL") {
    val shared = SparkTestSession.spark // materialize the shared context first
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    // spark.sql.extensions is a STATIC conf (applies only when the
    // SparkContext is first created); sharing the suite context means going
    // through the equivalent programmatic route, same extension class.
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      assert(spark ne shared) // a fresh session object, same context
      val d = spark.sql(
        "SELECT vec_dot(array(CAST(2 AS FLOAT), CAST(3 AS FLOAT)), array(4.0D, 5.0D)) AS d").head()
      assert(d.getDouble(0) == 2.0 * 4.0 + 3.0 * 5.0)
      val p = spark.sql(
        "SELECT CAST(forage_period_end(DATE '2024-01-20', DATE '2024-01-01') AS STRING) AS pe").head()
      assert(p.getString(0) == "2024-02-01") // second 16-day period: Jan 17 – Feb 1
      // payload_phash: 48 identical bytes → every chunk equals the mean →
      // all 48 bits set; string input implicitly casts to binary
      val h = spark.sql(s"SELECT payload_phash(CAST('${"a" * 48}' AS BINARY)) AS h").head()
      assert(h.getLong(0) == (1L << 48) - 1)
      // vec_sqdist_l over the [1,2) window: (4-2)² = 4
      val sq = spark.sql(
        "SELECT vec_sqdist_l(array(1L, 4L), array(1L, 2L), 1, 1) AS d").head()
      assert(sq.getLong(0) == 4L)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("a registry query installs vec_dot itself on a bare session") {
    val spark = SparkTestSession.spark.newSession()
    assert(spark.sessionState.functionRegistry.lookupFunction(FunctionIdentifier("vec_dot")).isEmpty)
    val q = AnnQueries.all.find(_.name == "ann_cosine_topk").get
    assert(q.run(spark, "/root/testdata/sf0.001").count() > 0)
  }

  test("install is idempotent: one strategy, one rule, nothing re-registered") {
    val spark = SparkTestSession.spark.newSession()
    GraftExtensions.install(spark)
    val registry = spark.sessionState.functionRegistry
    val names = Seq("forage_period_end", "vec_dot", "payload_phash", "vec_sqdist_l")
      .map(FunctionIdentifier(_))
    val infos = names.map(registry.lookupFunction(_).get)
    GraftExtensions.install(spark)
    assert(spark.experimental.extraStrategies.count(_ == AsOfJoinPlan.AsOfJoinStrategy) == 1)
    assert(spark.experimental.extraOptimizations.count(_ == RangeJoinRule) == 1)
    names.zip(infos).foreach { case (id, info) => assert(registry.lookupFunction(id).get eq info, id) }
  }
}
