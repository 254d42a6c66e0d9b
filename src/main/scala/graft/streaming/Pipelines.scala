package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

/** Structured Streaming wiring for the reference's hot path (SURVEY.md
  * §2.1 S1-S8, §2.2 K1-K4, §2.7 W1-W3/W6-W8).
  *
  * The reference runs 6 Python services through Kafka (7 topics) into
  * Postgres JSONB bronze (`consumers/db_writer.py:44-136`). Here the same
  * surface is: `readStream.format("kafka")` sources → the SAME batch
  * operator functions (every operator in graft.ops/silver/gold is a pure
  * DataFrame => DataFrame, so it runs unchanged inside a streaming query)
  * → `writeStream` sinks with checkpointing. Checkpointed Kafka offsets +
  * idempotent file sinks upgrade the reference's at-least-once/autocommit
  * contract (`db_writer.py:48-50`) to effective exactly-once.
  *
  * Tests drive these with MemoryStream (no broker needed); production
  * needs the spark-sql-kafka connector on the classpath.
  */
object Pipelines {

  /** S1/S2/S6/S7: Kafka source for one or more topics. `startingOffsets`
    * mirrors the reference's latest-vs-earliest consumer split
    * (`polymarket_ws_manager.py:10-16` latest control reads vs
    * `db_writer.py` earliest persistence reads; W8 replay = "earliest"). */
  def kafkaSource(spark: SparkSession, topics: Seq[String],
                  startingOffsets: String = "latest",
                  bootstrap: String = "localhost:9092"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topics.mkString(","))
      .option("startingOffsets", startingOffsets)
      .load()

  /** S3: periodic-poll source analog. The reference polls the Gamma REST
    * API every 15-minute window (`market_discovery.py:14-33`); in Spark
    * the poller is an edge adapter landing JSON files (or Kafka
    * messages), and the engine consumes them as an unbounded file
    * source with the declared schema — each new file is a poll result,
    * discovered per trigger. Source-side predicate pushdown (the
    * reference's `closed=false` query param) stays in the adapter;
    * engine-side filters (P3/P4) compose downstream. */
  def fileJsonSource(spark: SparkSession, path: String,
                     schema: StructType): DataFrame =
    spark.readStream.schema(schema).json(path)

  /** S4: point-lookup by key — the engine form of
    * `get_market_by_slug(slug)` (`market_resolution.py:65-75`): a
    * stream-static broadcast join against a periodically refreshed
    * dimension snapshot. Left join keeps events whose key is missing
    * (lookup-miss visible downstream, matching the reference's
    * None-result branch). */
  def keyedLookup(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Parse the Kafka value column against a topic schema; the raw value
    * is retained so unknown/corrupt events stay persistable (P13/W7). */
  def parseValue(raw: DataFrame, schema: StructType): DataFrame =
    raw.select(col("topic"), col("timestamp").as("kafka_ts"),
      col("value").cast("string").as("raw"),
      from_json(col("value").cast("string"), schema).as("p"))

  /** K1 value serializer — mirror of the reference's `json.dumps`
    * (`coinbase_producer.py:14-17`): the whole row as one JSON object in
    * the Kafka `value` column. Factored out of [[kafkaSink]] so the
    * projection is testable without a broker. */
  def jsonValue(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("value"))

  /** K1: Kafka JSON producer sink. */
  def kafkaSink(df: DataFrame, topic: String, checkpoint: String,
                bootstrap: String = "localhost:9092"): DataStreamWriter[Row] =
    jsonValue(df)
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** W7: the replay-safe write every per-batch sink shares. Partitioning
    * by batch id (then `parts`) with DYNAMIC partition overwrite makes a
    * replayed micro-batch replace its own partitions instead of appending
    * duplicates — this is what turns the checkpointed source's
    * at-least-once redelivery into effective exactly-once on a plain file
    * sink, upgrading the reference's duplicate-on-crash contract
    * (`db_writer.py:48-50`, README.md:107). */
  private def writeBatch(df: DataFrame, id: Long, path: String, parts: String*): Unit =
    df.withColumn("batch_id", lit(id))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id" +: parts: _*)
      .parquet(path)

  /** K2/W7: the per-batch bronze write, partitioned by (batch id, ingest
    * date) through [[writeBatch]]. */
  def bronzeBatchWrite(path: String, tsCol: String)(batch: DataFrame, id: Long): Unit =
    writeBatch(batch.withColumn("ingest_date", to_date(col(tsCol))), id, path,
      "ingest_date")

  /** K2: bronze writer — idempotent parquet partitioned by (batch id,
    * ingest date); the date partition is the pruning analog of the
    * reference's JSONB expression indexes (`init.sql:14-15`; D5).
    * foreachBatch so one streaming query can also fan out side outputs
    * (K4) per micro-batch. */
  def bronzeSink(df: DataFrame, path: String, checkpoint: String,
                 tsCol: String = "kafka_ts"): DataStreamWriter[Row] =
    df.writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch(bronzeBatchWrite(path, tsCol) _)

  /** K3's per-batch write, batch-id-addressed like [[bronzeBatchWrite]]:
    * dynamic partition overwrite on (batch_id, topic, ingest_date) makes
    * a replayed micro-batch REPLACE its own partitions — the earlier
    * `mode("append")` form silently duplicated every routed row when the
    * engine redelivered a batch after a crash between the sink write and
    * the checkpoint commit (the exact window TopologySpec's kill-restart
    * test drives). */
  private def routedBronzeBatchWrite(root: String)(batch: DataFrame, id: Long): Unit =
    writeBatch(batch.select(col("topic"), col("value").cast("string").as("payload"),
        col("timestamp").as("ingested_at"),
        to_date(col("timestamp")).as("ingest_date")),
      id, root, "topic", "ingest_date")

  /** K3: multi-topic router — one bronze directory per topic from a single
    * subscribe-pattern source, the analog of `db_writer.py:121-136`'s
    * 7 writer threads. Partitioning keeps per-topic scans pruned; the
    * batch_id partition level carries the W7 replay-idempotence
    * discipline (see [[routedBronzeBatchWrite]]). */
  def routedBronzeSink(raw: DataFrame, root: String, checkpoint: String): DataStreamWriter[Row] =
    raw.writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch(routedBronzeBatchWrite(root) _)

  /** K4's per-batch write: split one micro-batch into (good, errors),
    * each side batch-id-addressed through [[writeBatch]], so a replayed
    * batch replaces its rows on both sides instead of landing twice.
    * Exposed separately so specs can replay a batch id directly. */
  def errorChannelBatchWrite(isError: Column, goodPath: String, errorPath: String)
                            (batch: DataFrame, id: Long): Unit = {
    val b = batch.persist()
    try {
      writeBatch(b.filter(!isError), id, goodPath)
      writeBatch(b.filter(isError), id, errorPath)
    } finally { b.unpersist(); () }
  }

  /** K4: error-event side channel (`user_positions_tracker.py:139-151`):
    * split one parsed stream into (good, errors) inside foreachBatch so
    * both writes share the micro-batch boundary. Both paths are
    * partitioned by batch_id (see [[errorChannelBatchWrite]]). */
  def withErrorChannel(df: DataFrame, isError: Column, goodPath: String,
                       errorPath: String, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch(errorChannelBatchWrite(isError, goodPath, errorPath) _)

  /** P2/W3 streaming form: last-value-wins decimation to one row per
    * (key, bucket) with watermarked state cleanup. Same max_by shape as
    * the batch operator (EventOps.throttle) — map-side combinable. */
  def throttle(df: DataFrame, tsCol: String, watermark: String,
               bucket: String, keys: Seq[Column],
               payload: Seq[(String, Column)]): DataFrame = {
    val ordKey = struct(col(tsCol))
    val aggs = payload.map { case (n, c) => max_by(c, ordKey).as(n) }
    // group on the window() column itself — extracting .start inside the
    // groupBy severs watermark propagation and append mode rejects the agg
    df.withWatermark(tsCol, watermark)
      .groupBy(keys :+ window(col(tsCol), bucket).as("_win"): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("win_start", col("_win.start")).drop("_win")
  }

  /** W1/W6: watermarked tumbling-window aggregation — the 15-minute
    * market window unit with late-data tolerance ≥ the observed 30-60 s
    * subgraph lag (`README.md:330-332`). */
  def windowedAgg(df: DataFrame, tsCol: String, watermark: String,
                  windowLen: String, keys: Seq[Column],
                  aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(keys :+ window(col(tsCol), windowLen).as("_win"): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("win_start", col("_win.start")).drop("_win")

  /** W1+ streaming session windows: gap-merged per-key sessions with
    * watermark-driven close — the streaming form of w03. Session state
    * merges windows per key until the watermark passes session end. */
  def sessionAgg(df: DataFrame, tsCol: String, watermark: String,
                 gap: String, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(keys :+ session_window(col(tsCol), gap).as("_win"): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("_win.start"))
      .withColumn("session_end", col("_win.end"))
      .drop("_win")

  /** Stream-stream event-time interval join: enrich each left event with
    * right-side events for the same key whose timestamp falls in
    * [left.ts − maxLag, left.ts] — e.g. a trade joined to the quotes
    * that preceded it. Both sides carry watermarks and the join
    * condition bounds event time in BOTH directions, so Spark derives a
    * state-eviction horizon for each side: buffered state is bounded by
    * watermark + maxLag, never the stream's history. The two sides must
    * use disjoint column names (pass the right key as `rightKey`).
    * `joinType` "inner" emits a left event only when a match exists;
    * "leftOuter" also emits unmatched left events with nulls — but only
    * once the watermark proves no match can still arrive, which is why
    * outer stream-stream joins REQUIRE the time bound: without it there
    * is no point at which "no match" becomes a fact. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTs: String, rightTs: String,
                   maxLag: String, watermark: String,
                   joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $maxLag") &&
          col(rightTs) <= col(leftTs),
        joinType)

  /** W7 streaming exact-dedup: drop redelivered events by key within the
    * watermark horizon (`dropDuplicatesWithinWatermark` — state per key
    * is evicted once the watermark passes, so memory is bounded by the
    * late-data window, not the stream's history). This is the streaming
    * member of the dedup family (batch exact dedup = Dedup.exact) and
    * the engine form of the reference's at-least-once redelivery guard
    * (SURVEY §7.2 step 5 "dropDuplicates market dedupe"). */
  def dedupWithinWatermark(df: DataFrame, keys: Seq[String], tsCol: String,
                           watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** S8: console debug consumer (`consumers/simple_consumer.py`). */
  def consoleSink(df: DataFrame): DataStreamWriter[Row] =
    df.writeStream.format("console").option("truncate", "false")
}
