package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming data-contract monitor: the d09 dbt schema-test battery
  * ([[graft.silver.Silver.schemaTests]] — unique / not_null /
  * relationships / accepted_values) run against EVERY micro-batch, the
  * "dbt test on ingestion" a production pipeline gates its bronze
  * writes with. Batch-grain matters: a contract break is visible the
  * batch it arrives, not at the next nightly dbt run — and the
  * per-batch violation history localizes WHEN an upstream producer
  * broke (the same argument as [[SchemaDriftMonitor]], for data
  * contracts instead of key arrivals).
  *
  * Semantics note: `unique` is checked WITHIN the batch (cheap, catches
  * producer-side duplication); cross-batch uniqueness is the bronze
  * writer's replay-idempotence + d06's MERGE discipline, deliberately
  * not re-litigated per batch (it would need stream-sized state). The
  * parent-key side of `relationships` is a static dim (stream-static,
  * the P11/S4 shape).
  *
  * Store discipline (shared with [[SchemaDriftMonitor]]): one 4-row
  * result per batch written whole to `batches/batch=<id>` via
  * [[BatchStore]] — batch-id-addressed overwrite, replay-idempotent;
  * reads fold the store, summary-sized, restart-recoverable by
  * construction. */
final class QualityMonitor private (val storeDir: String,
                                    parentKeys: DataFrame,
                                    accepted: Seq[String]) {

  private def batchesDir = s"$storeDir/batches"

  /** foreachBatch hook: run the battery, store the 4-row verdict. */
  def ingest(batch0: DataFrame, batchId: Long, uniqueKey: Column,
             requiredCol: Column, fk: Column, acceptedCol: Column): Unit = {
    val verdict = graft.silver.Silver
      .schemaTests(batch0, uniqueKey, requiredCol, fk, parentKeys,
        acceptedCol, accepted)
      .coalesce(1)
    BatchStore.writeSlot(verdict, s"$batchesDir/batch=$batchId")
  }

  private def store(spark: SparkSession): Option[DataFrame] =
    BatchStore.readSlots(spark, batchesDir)
      .map(_.withColumn("batch", col("batch").cast(LongType)))

  /** Per-batch verdict history: (batch_id, test, n_violations, passed). */
  def history(spark: SparkSession): DataFrame = store(spark) match {
    case None => spark.emptyDataFrame
    case Some(df) => df.select(col("batch").as("batch_id"), col("test"),
      col("n_violations"), col("passed")).orderBy("batch_id", "test")
  }

  /** Stream totals: per test, total violations + first failing batch
    * (null while the contract has always held) — the triage row. */
  def totals(spark: SparkSession): DataFrame = store(spark) match {
    case None => spark.emptyDataFrame
    case Some(df) => df.groupBy(col("test"))
      .agg(sum(col("n_violations")).as("n_violations"),
        min(when(!col("passed"), col("batch"))).as("first_failed_batch"))
      .select(col("test"), col("n_violations"),
        (col("n_violations") === 0).as("passed"), col("first_failed_batch"))
  }
}

object QualityMonitor {
  def create(storeDir: String, parentKeys: DataFrame,
             accepted: Seq[String]): QualityMonitor = {
    require(accepted.nonEmpty, "QualityMonitor: empty accepted_values set")
    new QualityMonitor(storeDir, parentKeys, accepted)
  }
}
