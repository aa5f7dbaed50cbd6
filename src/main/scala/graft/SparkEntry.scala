package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] demonstrates one operator family from
  * SURVEY.md §2 (or a training-data-pipeline extension) over the harness
  * tables; [[oracleSql]] carries the DuckDB-equivalent SQL for the
  * hash-match correctness gate at sf0.01.
  */
object SparkEntry {

  private val registries: Seq[Registry] =
    Seq(CoreQueries, NormalizerQueries, TrainingDataQueries, PipelineQueries,
      AnalyticsQueries, RelationalQueries, ExtendedQueries, ScaleQueries,
      FrontierQueries, CurationQueries, LakehouseQueries, GovernanceQueries,
      MicrostructureQueries, StatisticsQueries, EvaluationQueries)

  private lazy val qs: Seq[Q] = registries.flatMap(_.all)

  /** Every registry query with its declared `kind`, in registry order. */
  def registry: Seq[Q] = qs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    qs.head.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    qs.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    qs.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
