package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Streaming schema-drift monitor: the batch d10 operator
  * ([[graft.silver.Silver.keyArrival]]) run per micro-batch, with the
  * collapse rule the r15 verdict asked for — trip when a declared
  * payload key's arrival rate COLLAPSES (it used to arrive, it
  * stopped), not merely when it is low (a key that never arrived is a
  * config bug the first batch surfaces; a key that STOPS arriving is
  * producer drift, the reference's own dead `payload->>'event_type'`
  * index accident — `init.sql:44` vs `polymarket_ws_manager.py:91`).
  *
  * Why batch-grain: a fixed-`StructType` silver nulls a renamed key
  * silently forever; this store pins WHICH micro-batch the envelope
  * changed in, which is what triages a producer deploy.
  *
  * Store discipline (shared with [[QualityMonitor]]): one
  * (key, kind, n_present, n_rows) summary per batch written whole to
  * `batches/batch=<id>` via [[BatchStore]] — batch-id-addressed
  * overwrite, replay-idempotent; reads fold the store (summary-sized,
  * never stream-sized), so a restarted driver recovers by construction.
  *
  * Scale shape per micro-batch: one aggregation row carrying n_rows +
  * one conditional sum per declared key (no shuffle beyond the agg),
  * plus one small key-keyed aggregation for undeclared keys, capped at
  * the [[SchemaDriftMonitor.NovelCap]] most frequent (deterministic
  * tiebreak) so a malformed producer spraying random keys cannot grow
  * a slot beyond a constant. */
final class SchemaDriftMonitor private (val storeDir: String,
                                        val expectedKeys: Seq[String],
                                        val minRate: Double,
                                        val novelRate: Double) {

  private def batchesDir = s"$storeDir/batches"

  /** foreachBatch hook: summarize the batch's key arrivals, store the
    * slot idempotently. */
  def ingest(batch0: DataFrame, batchId: Long, payload: Column): Unit = {
    val spark = batch0.sparkSession
    import spark.implicits._
    val base = batch0.select(json_object_keys(payload).as("_ks"))
    // one row: batch size + presence count per declared key
    // count(when(...)) not sum(when(...)): over ZERO rows sum returns
    // null (getLong would NPE on the no-data batches Structured
    // Streaming delivers for watermark advancement) while count
    // returns 0.
    val aggs = count(lit(1)).as("n_rows") +:
      expectedKeys.zipWithIndex.map { case (k, i) =>
        count(when(array_contains(col("_ks"), k), 1)).as(s"_k$i")
      }
    val row = base.agg(aggs.head, aggs.tail: _*).head()
    val nRows = row.getLong(0)
    val expRows = expectedKeys.zipWithIndex.map { case (k, i) =>
      (k, "expected", row.getLong(i + 1), nRows)
    }
    // undeclared keys actually observed, most frequent first, capped
    val novelRows = base.select(explode(col("_ks")).as("key"))
      .filter(!col("key").isin(expectedKeys: _*))
      .groupBy("key").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("key"))
      .limit(SchemaDriftMonitor.NovelCap)
      .collect()
      .map(r => (r.getString(0), "novel", r.getLong(1), nRows))
    val slot = (expRows ++ novelRows)
      .toDF("key", "kind", "n_present", "n_rows").coalesce(1)
    BatchStore.writeSlot(slot, s"$batchesDir/batch=$batchId")
  }

  private def store(spark: SparkSession): Option[DataFrame] =
    BatchStore.readSlots(spark, batchesDir)
      .map(_.withColumn("batch", col("batch").cast(LongType)))

  private def withRate(df: DataFrame): DataFrame =
    df.withColumn("rate",
      when(col("n_rows") > 0,
        round(col("n_present").cast(DoubleType) / col("n_rows"), 4)))

  /** Per-batch arrival history:
    * (batch_id, key, kind, n_present, n_rows, rate). */
  def history(spark: SparkSession): DataFrame = store(spark) match {
    case None => spark.emptyDataFrame
    case Some(df) => withRate(df)
      .select(col("batch").as("batch_id"), col("key"), col("kind"),
        col("n_present"), col("n_rows"), col("rate"))
      .orderBy("batch_id", "kind", "key")
  }

  /** Stream verdict, one row per key ever observed or declared:
    * (key, kind, n_present, n_rows, rate, first_drifted_batch).
    * For a declared key, first_drifted_batch = the first batch whose
    * rate fell below `minRate` AFTER some earlier batch reached it
    * (collapse semantics — null while the contract has always held or
    * never held). For an undeclared key, the first batch whose rate
    * reached `novelRate`. The fold is over batches × keys rows —
    * summary-sized. */
  def totals(spark: SparkSession): DataFrame = store(spark) match {
    case None => spark.emptyDataFrame
    case Some(df0) =>
      val df = withRate(df0)
      val prev = Window.partitionBy("key").orderBy("batch")
        .rowsBetween(Window.unboundedPreceding, -1)
      val exp = df.filter(col("kind") === "expected")
        .withColumn("_prev_max", max(col("rate")).over(prev))
        .groupBy("key")
        .agg(first(lit("expected")).as("kind"),
          sum(col("n_present")).as("n_present"),
          sum(col("n_rows")).as("n_rows"),
          min(when(col("rate") < minRate && col("_prev_max") >= minRate,
            col("batch"))).as("first_drifted_batch"))
      val nov = df.filter(col("kind") === "novel")
        .groupBy("key")
        .agg(first(lit("novel")).as("kind"),
          sum(col("n_present")).as("n_present"),
          sum(col("n_rows")).as("n_rows"),
          min(when(col("rate") >= novelRate, col("batch")))
            .as("first_drifted_batch"))
      withRate(exp.unionByName(nov))
        .select(col("key"), col("kind"), col("n_present"), col("n_rows"),
          col("rate"), col("first_drifted_batch"))
  }

  /** Keys currently in drift: declared keys that collapsed, undeclared
    * keys that arrived — the rule's alert set. */
  def drifted(spark: SparkSession): Seq[(String, String)] =
    totals(spark) match {
      case df if df.isEmpty => Seq.empty
      case df => df.filter(col("first_drifted_batch").isNotNull)
        .select("key", "kind").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    }
}

object SchemaDriftMonitor {
  /** Slot-size bound for undeclared keys per batch. */
  val NovelCap = 100

  def create(storeDir: String, expectedKeys: Seq[String],
             minRate: Double = 0.5,
             novelRate: Double = 0.05): SchemaDriftMonitor = {
    require(expectedKeys.nonEmpty, "SchemaDriftMonitor: empty key set")
    require(minRate > 0 && minRate <= 1, s"minRate out of (0,1]: $minRate")
    require(novelRate > 0 && novelRate <= 1,
      s"novelRate out of (0,1]: $novelRate")
    new SchemaDriftMonitor(storeDir, expectedKeys, minRate, novelRate)
  }

  /** Recovery is trivial: all state lives in the store. */
  def load(storeDir: String, expectedKeys: Seq[String],
           minRate: Double = 0.5,
           novelRate: Double = 0.05): SchemaDriftMonitor =
    create(storeDir, expectedKeys, minRate, novelRate)
}
