package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.QualifiedTableName
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Every loader is a plain parquet scan so Catalyst predicate pushdown /
  * column pruning applies to whatever the caller selects downstream. At
  * cluster scale these would be catalog tables partitioned by date; the
  * query functions only depend on the logical schema.
  *
  * A table path is resolved (files listed, schema inferred by a footer
  * job) once per session and path modification time; later reads reuse
  * that relation with fresh attribute ids, so self-joins see two
  * relations as before. The resolution lives in the session's own
  * relation cache, the one `SessionCatalog` keeps for catalog tables, so
  * it goes away with the session. Rewriting the path (a Spark overwrite
  * recreates the directory) moves its modification time and the next
  * read resolves it again; files added below an unchanged top-level
  * directory, and session settings changed after the first read that
  * alter schema inference, are not seen.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val mtime =
      try p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p).getModificationTime
      catch { case _: java.io.IOException => -1L } // the read below reports it
    val key = QualifiedTableName(CacheCatalog, path, mtime.toString)
    val relation = spark.sessionState.catalog.getCachedPlan(key,
      () => spark.read.parquet(path).queryExecution.analyzed)
    GraftBridge.ofRows(spark, relation.asInstanceOf[MultiInstanceRelation].newInstance())
  }

  /** Catalog part of the relation-cache keys: no catalog has this name,
    * so the keys never meet a table's. */
  private val CacheCatalog = "graft_parquet_path"

  def lineitem(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = t(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "region")
  /** events.ts is TIMESTAMP(NANOS) parquet, which Spark only reads as a
    * raw long (spark.sql.legacy.parquet.nanosAsLong, set by Verify/Bench
    * sessions); values are µs-aligned, so ns→µs is exact. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "events")
    if (raw.schema("ts").dataType == LongType)
      // integer division: ns epochs (~1.7e18) exceed double's 53-bit
      // mantissa, so a double `/` would corrupt low-order microseconds
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
}

/** One verifiable operator: a Spark query plus the ANSI SQL a DuckDB
  * oracle runs over the same parquet tables. Column names of the Spark
  * result and the oracle result must match exactly (driver sorts
  * columns by name before hashing).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String,
    doc: String = "")

object QueryDef {
  def apply(name: String, doc: String)(sql: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, sql, doc)
}
