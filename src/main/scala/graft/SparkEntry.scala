package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Queries are assembled from per-domain registries; each QueryDef pairs
  * the Spark implementation with the DuckDB oracle SQL the driver runs
  * over the same parquet tables.
  */
object SparkEntry {

  private[graft] lazy val registry: Seq[QueryDef] =
    graft.queries.CoreQueries.defs ++
      graft.queries.ExtraQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The orderbook-summary aggregation (SURVEY A1–A5) — the densest
    * computation in the reference hot path. */
  def entry(spark: SparkSession): DataFrame =
    queries("a05_book_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
