package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** vec_dot (custom codegen Expression) ≡ the aggregate(zip_with(...)) fold
  * it replaced — bit-identical doubles, element order preserved. */
class VecDotSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val foldSql =
    "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  test("vec_dot equals the zip_with left fold bit-for-bit (float arrays)") {
    GraftExtensions.install(spark)
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(200)((Array.fill(64)(rnd.nextFloat() * 20f - 10f),
                               Array.fill(64)(rnd.nextFloat() * 20f - 10f)))
    val rows = pairs.toDF("a", "b")
      .select(expr("vec_dot(a, b)").as("fast"), expr(foldSql).as("ref"))
      .collect()
    assert(rows.length == 200)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("vec_sqdist_l equals the sliced zip_with fold exactly (long arrays)") {
    GraftExtensions.install(spark)
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(200)((Array.fill(64)(rnd.nextInt(20000001).toLong - 10000000L),
                               Array.fill(64)(rnd.nextInt(20000001).toLong - 10000000L)))
    val foldSub = (off: Int) =>
      s"aggregate(zip_with(slice(a, ${off + 1}, 32), slice(b, ${off + 1}, 32), " +
      "(x, c) -> (x - c) * (x - c)), 0L, (acc, v) -> acc + v)"
    val rows = pairs.toDF("a", "b")
      .select(expr("vec_sqdist_l(a, b, 0, 32)").as("f0"), expr(foldSub(0)).as("r0"),
              expr("vec_sqdist_l(a, b, 32, 32)").as("f1"), expr(foldSub(32)).as("r1"))
      .collect()
    assert(rows.length == 200)
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1) && r.getLong(2) == r.getLong(3))
    }
    // short array / null element → null, like the fold on malformed input
    val n = spark.sql("SELECT vec_sqdist_l(array(1L, 2L), array(1L, 1L), 0, 32) AS d").head()
    assert(n.isNullAt(0))
  }

  test("vec_dot handles double-array planes and null elements") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      "SELECT vec_dot(array(CAST(1.5 AS FLOAT), CAST(-2 AS FLOAT)), array(2.0D, 0.25D)) AS d").head()
    assert(r.getDouble(0) == 1.5 * 2.0 + (-2.0 * 0.25))
    val n = spark.sql(
      "SELECT vec_dot(array(CAST(1 AS FLOAT), CAST(NULL AS FLOAT)), array(1.0D, 1.0D)) AS d").head()
    assert(n.isNullAt(0))
  }
}
