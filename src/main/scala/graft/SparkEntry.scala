package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are assembled from the per-domain modules; every entry with an
  * oracle is hash-compared against DuckDB at sf0.01 by the driver.
  */
object SparkEntry {
  private def modules: Seq[(Map[String, (SparkSession, String) => DataFrame],
                            Map[String, String])] = Seq(
    (RefQueries.queries, RefQueries.oracles),
    (RelQueries.queries, RelQueries.oracles),
    (EventQueries.queries, EventQueries.oracles),
    (DedupQueries.queries, DedupQueries.oracles),
    (TextQueries.queries, TextQueries.oracles),
    (SimilarityQueries.queries, SimilarityQueries.oracles),
    (GraphQueries.queries, GraphQueries.oracles),
    (MultimodalQueries.queries, MultimodalQueries.oracles),
    (StreamQueries.queries, StreamQueries.oracles))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full nested transaction table (the reference's main artifact). */
  def entry(spark: SparkSession): DataFrame =
    queries("transaction_table")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.map(_._2).reduce(_ ++ _)
}
