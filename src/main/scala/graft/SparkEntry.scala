package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` aggregates one named DataFrame plan per implemented operator
  * family from SURVEY.md §2; `oracleSql` carries the DuckDB-equivalent SQL
  * for the driver's hash-compare. Keys must match 1:1 (queries without an
  * oracle get a weaker rows-only check).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("join_agg_topk")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.VectorSearch.queries ++
      graft.queries.DedupQueries.queries ++
      graft.queries.TextQueries.queries ++
      graft.queries.KeywordQueries.queries ++
      graft.queries.RagPipeline.queries

  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++
      graft.queries.VectorSearch.oracles ++
      graft.queries.DedupQueries.oracles ++
      graft.queries.TextQueries.oracles ++
      graft.queries.KeywordQueries.oracles ++
      graft.queries.RagPipeline.oracles
}
