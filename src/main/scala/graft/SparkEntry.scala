package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query catalog and its DuckDB oracles — see SURVEY.md §7. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.SilverQueries.queries ++
      graft.queries.GoldQueries.queries ++
      graft.queries.TextQueries.queries ++
      graft.queries.VectorQueries.queries ++
      graft.queries.GeoQueries.queries ++
      graft.queries.BronzeQueries.queries ++
      graft.queries.PipelineQueries.queries ++
      graft.queries.CurationQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++
      graft.queries.SilverQueries.oracles ++
      graft.queries.GoldQueries.oracles ++
      graft.queries.TextQueries.oracles ++
      graft.queries.VectorQueries.oracles ++
      graft.queries.GeoQueries.oracles ++
      graft.queries.BronzeQueries.oracles ++
      graft.queries.PipelineQueries.oracles ++
      graft.queries.CurationQueries.oracles
}
