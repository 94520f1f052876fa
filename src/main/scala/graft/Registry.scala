package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine operator exposed through the harness contract.
  *
  * @param name   stable query name (key in SparkEntry.queries)
  * @param covers SURVEY.md §2 operator ids this query exercises
  * @param body   the Spark-side implementation on an sf dir
  * @param oracle equivalent DuckDB ANSI SQL over the same parquet tables;
  *               None for non-SQL-expressible operators (driver then records
  *               a weaker rows-only check)
  */
final case class Q(name: String,
                   covers: Seq[String],
                   body: (SparkSession, String) => DataFrame,
                   oracle: Option[String] = None,
                   note: String = "") {

  /** Runs the query on an sf dir, after installing the engine's Catalyst
    * extensions in the session (idempotent, see `GraftExtensions.install`). */
  def run(spark: SparkSession, dir: String): DataFrame = {
    GraftExtensions.install(spark)
    body(spark, dir)
  }
}
