package graft.schemas

import org.apache.spark.sql.types._

/** Explicit StructTypes for every message shape the reference pipeline
  * produces (one per Kafka topic, plus the discriminated sub-schemas).
  * Derived from the producer dict literals — see FIXTURES.md and SURVEY.md
  * §1.2/§1.3; e.g. reference `producers/coinbase_producer.py:36-46`,
  * `producers/market_discovery.py:97-112`,
  * `producers/polymarket_ws_manager.py:90-161`,
  * `producers/user_positions_tracker.py:67-100`,
  * `producers/market_resolution.py:53-101`.
  *
  * Streaming sources must never infer schemas; these are the declared
  * contracts (`from_json(col("value"), Schema.X)`).
  *
  * Token/asset ids are uint256 decimal strings (up to 78 digits) — always
  * StringType, never numeric. Balances are 1e-6-USDC-scaled integers —
  * LongType. Timestamps arrive as ISO-8601 strings (some naive, some
  * `Z`-suffixed) and are normalized to TimestampType in silver, not here.
  */
object EventSchemas {

  /** Bronze envelope: how every topic lands in the raw layer
    * (reference `init.sql:8-12`, `consumers/db_writer.py:84-87`). */
  val bronze: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ingested_at", TimestampType, nullable = false),
    StructField("payload", StringType, nullable = false)))

  /** Topic `asset-prices` (reference `producers/coinbase_producer.py:36-41`). */
  val assetPrice: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("price", DoubleType),
    StructField("timestamp", StringType), // naive local ISO — normalized in silver
    StructField("volume", DoubleType)))

  /** Topic `market-updates` (reference `producers/market_discovery.py:97-112`).
    * `token_ids` may arrive double-encoded (a JSON array *string*) — the
    * normalizer handles the second decode. */
  val marketUpdate: StructType = StructType(Seq(
    StructField("market_id", StringType),
    StructField("condition_id", StringType),
    StructField("question", StringType),
    StructField("yes_price", DoubleType),
    StructField("no_price", DoubleType),
    StructField("token_ids", ArrayType(StringType)),
    StructField("start_time", StringType),
    StructField("end_time", StringType),
    StructField("active", BooleanType),
    StructField("best_bid", DoubleType),
    StructField("best_ask", DoubleType),
    StructField("liquidity", StringType), // API returns string-or-number; keep raw
    StructField("volume", StringType),
    StructField("slug", StringType)))

  /** One side level of a CLOB book (reference
    * `producers/polymarket_ws_manager.py:56-57` — prices/sizes arrive as
    * decimal strings). */
  val bookLevel: StructType = StructType(Seq(
    StructField("price", StringType),
    StructField("size", StringType)))

  /** Raw upstream WS event (pre-transform superset of the `book` /
    * `price_change` / `last_trade_price` shapes,
    * `producers/polymarket_ws_manager.py:48-162`). Discriminated unions
    * become one superset StructType with nullable branches. */
  val wsEvent: StructType = StructType(Seq(
    StructField("event_type", StringType),
    StructField("asset_id", StringType),
    StructField("market", StringType),
    StructField("bids", ArrayType(bookLevel)),
    StructField("asks", ArrayType(bookLevel)),
    StructField("price_changes", ArrayType(StructType(Seq(
      StructField("asset_id", StringType),
      StructField("price", StringType),
      StructField("size", StringType),
      StructField("side", StringType))))),
    StructField("price", StringType),
    StructField("side", StringType),
    StructField("size", StringType),
    StructField("timestamp", StringType)))

  /** Topic `polymarket-prices`, sub-type `orderbook_summary`
    * (reference `producers/polymarket_ws_manager.py:90-108`). */
  val orderbookSummary: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("market_id", StringType),
    StructField("asset_id", StringType),
    StructField("condition_id", StringType),
    StructField("outcome", StringType),
    StructField("timestamp", StringType),
    StructField("best_bid_price", DoubleType),
    StructField("best_bid_size", DoubleType),
    StructField("best_ask_price", DoubleType),
    StructField("best_ask_size", DoubleType),
    StructField("total_bid_volume", DoubleType),
    StructField("total_ask_volume", DoubleType),
    StructField("largest_bid_size", DoubleType),
    StructField("largest_bid_price", DoubleType),
    StructField("largest_ask_size", DoubleType),
    StructField("largest_ask_price", DoubleType),
    StructField("book_imbalance", DoubleType)))

  /** Topic `market-resolutions` (reference `producers/market_resolution.py:92-101`).
    * Final prices stay strings (copied verbatim from the API). */
  val marketResolution: StructType = StructType(Seq(
    StructField("market_id", StringType),
    StructField("market_slug", StringType),
    StructField("winner", StringType), // Up | Down | Unknown
    StructField("final_yes_price", StringType),
    StructField("final_no_price", StringType),
    StructField("volume", StringType),
    StructField("resolution_status", StringType),
    StructField("resolved_at", StringType)))

  /** Topic `market-resolution-failures` (reference `producers/market_resolution.py:53-58`). */
  val resolutionFailure: StructType = StructType(Seq(
    StructField("slug", StringType),
    StructField("reason", StringType),
    StructField("failed_at", StringType),
    StructField("last_known_status", StringType)))

  /** Topic `user-positions`, sub-type `position`
    * (reference `producers/user_positions_tracker.py:90-100`). */
  val position: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("market_id", StringType),
    StructField("condition_id", StringType),
    StructField("snapshot_time", StringType),
    StructField("user", StringType),
    StructField("asset_id", StringType),
    StructField("outcome", StringType),
    StructField("outcome_index", IntegerType),
    StructField("balance", LongType), // 1e-6 USDC units; exceeds int32
    StructField("position_count", IntegerType))) // only on snapshot_empty marker

  /** Topic `service-errors` superset (reference
    * `producers/user_positions_tracker.py:140-149,201-211`,
    * `producers/coinbase_producer.py:64-70`). */
  val serviceError: StructType = StructType(Seq(
    StructField("service_name", StringType),
    StructField("error_type", StringType),
    StructField("error_threshold", IntegerType),
    StructField("consecutive_errors", IntegerType),
    StructField("retry_attempts", IntegerType),
    StructField("downtime", IntegerType),
    StructField("market_id", StringType),
    StructField("condition_id", StringType),
    StructField("error_message", StringType),
    StructField("market_start", StringType),
    StructField("market_end", StringType),
    StructField("restart_time", StringType),
    StructField("estimated_missed_snapshots", IntegerType),
    StructField("timestamp", StringType)))
}
