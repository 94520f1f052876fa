package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every engine operator is registered as a named query over the harness
  * parquet tables; SQL-expressible ones carry a DuckDB oracle for the
  * driver's hash-compare (CORRECTNESS gate), the rest get rows-only checks.
  */
object SparkEntry {

  /** All registered operators, in module order. */
  def registry: Seq[Q] =
    _root_.graft.queries.CoreQueries.all ++
    _root_.graft.queries.JoinQueries.all ++
    _root_.graft.queries.AggQueries.all ++
    _root_.graft.queries.WindowQueries.all ++
    _root_.graft.queries.MlQueries.all ++
    _root_.graft.queries.StreamQueries.all ++
    _root_.graft.queries.TextQueries.all ++
    _root_.graft.queries.DedupQueries.all ++
    _root_.graft.queries.CorpusQueries.all ++
    _root_.graft.queries.AnnQueries.all ++
    _root_.graft.queries.MultimodalQueries.all ++
    _root_.graft.queries.SessionQueries.all ++
    _root_.graft.queries.AnalyticQueries.all ++
    _root_.graft.queries.PipelineQueries.all ++
    _root_.graft.queries.LayoutQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The stage-1 composite: 16-day period calendar with year reset (W1),
    * complete-window filter (F6), per-period mean+sum composites (A1/A3). */
  def entry(spark: SparkSession): DataFrame =
    queries("w1_period_composite")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> (q.run _)).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
