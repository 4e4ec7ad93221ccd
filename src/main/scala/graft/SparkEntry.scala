package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are grouped by capability area under [[graft.queries]]; each
  * map entry has (where SQL-expressible) a DuckDB oracle keyed by the
  * same name with identical output column names — the driver sorts
  * columns by name and hash-compares values.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.TextQueries.queries ++
      graft.queries.Clustering.queries ++
      graft.queries.PipelineOps.queries ++
      graft.queries.EventQueries.queries

  /** Internal-volume meters for fixed-output scale probes (round-11):
    * candidate pairs / decoded rows the probe divides runtime by when
    * the emitted row count is constant by construction (LIMIT k,
    * O(1)-row aggs, verify-filtered pair joins). Consumed by
    * [[ScaleProbe]]; not part of the driver contract. */
  def volumes: Map[String, (SparkSession, String) => Long] =
    graft.queries.Relational.volumes ++
      graft.queries.PipelineOps.volumes ++
      graft.queries.EventQueries.volumes

  /** Names of the queries that run Structured Streaming; the harnesses
    * give each its own session. Read by the harness mains only. */
  def streaming: Set[String] = graft.queries.EventQueries.streaming

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++
      graft.queries.TextQueries.oracles ++
      graft.queries.Clustering.oracles ++
      graft.queries.PipelineOps.oracles ++
      graft.queries.EventQueries.oracles
}
