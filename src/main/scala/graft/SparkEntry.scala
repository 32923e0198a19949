package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * `queries` keys realize the SURVEY.md §2 operator inventory one-to-one;
  * `oracleSql` carries the DuckDB-equivalent SQL for the hash-compare
  * (column names, order-by, and numeric policy must match exactly —
  * SURVEY.md §7).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * All 6 (returnflag, linestatus) combos exist at sf0.001 (FIXTURES.md),
    * so rows>0 is guaranteed.
    */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Merged once:
    * every module map is itself a constant.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.Joins.queries ++
      graft.queries.Windows.queries ++
      graft.queries.Scalars.queries ++
      graft.queries.FsQueries.queries ++
      graft.queries.TextPipeline.queries ++
      graft.queries.Vectors.queries ++
      graft.queries.Multimodal.queries ++
      graft.queries.StreamingBatch.queries ++
      graft.queries.Graph.queries

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check.
    */
  lazy val oracleSql: Map[String, String] =
    graft.queries.Relational.oracleSql ++
      graft.queries.Joins.oracleSql ++
      graft.queries.Windows.oracleSql ++
      graft.queries.Scalars.oracleSql ++
      graft.queries.FsQueries.oracleSql ++
      graft.queries.TextPipeline.oracleSql ++
      graft.queries.Vectors.oracleSql ++
      graft.queries.Multimodal.oracleSql ++
      graft.queries.StreamingBatch.oracleSql ++
      graft.queries.Graph.oracleSql
}
