package graft.queries

import graft.{QueryDef, Tables}
import graft.gold.Features
import graft.ops._
import graft.silver.Silver
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch-verifiable queries for the reference's operator inventory
  * (SURVEY.md §2), expressed over the driver testdata tables. The
  * polymarket domain tables don't exist in testdata, so each query first
  * synthesizes the reference-shaped input (books, packed change arrays,
  * position snapshots) from lineitem/events deterministically — the same
  * synthesis appears in the oracle SQL — then applies the real operator.
  *
  * Numeric convention: money/quantity → integer cents (exact longs; see
  * Norms.cents) so Spark and DuckDB agree bit-for-bit.
  */
object CoreQueries {

  private val centsSql = (c: String) => s"CAST(round($c * 100, 0) AS BIGINT)"

  /** Where d04, d05 and j04 write their tables: the session's warehouse
    * directory, so two checkouts (or two warehouses) never share a path. */
  private def outRoot(s: SparkSession): String = s.conf.get("spark.sql.warehouse.dir")

  /** Shared oracle for the book-summary shape (a05 and the s02 JSON
    * roundtrip — same values, different Spark-side plumbing). */
  private lazy val bookSummaryOracle =
    s"""WITH t AS (
       |  SELECT l_orderkey AS order_key,
       |         CASE WHEN l_linenumber % 2 = 0 THEN 'bid' ELSE 'ask' END AS side,
       |         ${centsSql("l_extendedprice")} AS price_c,
       |         ${centsSql("l_quantity")} AS size_c
       |  FROM lineitem),
       |w AS (
       |  SELECT *,
       |         CASE WHEN side = 'bid' THEN max(price_c) OVER (PARTITION BY order_key, side)
       |              ELSE min(price_c) OVER (PARTITION BY order_key, side) END AS bp,
       |         max(size_c) OVER (PARTITION BY order_key, side) AS ms
       |  FROM t),
       |a AS (
       |  SELECT order_key, side,
       |         max(bp) AS best_price_c,
       |         max(CASE WHEN price_c = bp THEN size_c END) AS best_size_c,
       |         CAST(sum(size_c) AS BIGINT) AS total_volume_c,
       |         max(size_c) AS largest_size_c,
       |         max(CASE WHEN size_c = ms THEN price_c END) AS largest_price_c
       |  FROM w GROUP BY 1, 2)
       |SELECT b.order_key,
       |       b.best_price_c AS best_bid_price_c, b.best_size_c AS best_bid_size_c,
       |       k.best_price_c AS best_ask_price_c, k.best_size_c AS best_ask_size_c,
       |       b.total_volume_c AS total_bid_volume_c, k.total_volume_c AS total_ask_volume_c,
       |       b.largest_size_c AS largest_bid_size_c, b.largest_price_c AS largest_bid_price_c,
       |       k.largest_size_c AS largest_ask_size_c, k.largest_price_c AS largest_ask_price_c,
       |       CASE WHEN b.total_volume_c + k.total_volume_c = 0 THEN 0.0
       |            ELSE round(CAST(b.total_volume_c - k.total_volume_c AS DOUBLE)
       |                       / CAST(b.total_volume_c + k.total_volume_c AS DOUBLE), 6)
       |       END AS book_imbalance
       |FROM a b JOIN a k ON b.order_key = k.order_key AND b.side = 'bid' AND k.side = 'ask'
       |""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ----- A1–A5: orderbook summary (flagship; reference ws_manager.py:55-110)
    QueryDef("a05_book_summary",
      "A1-A5 orderbook summary: best bid/ask, depth sums, arg-max largest order, guarded imbalance — HOFs over array columns")(
      bookSummaryOracle) { (s, dir) =>
      // keyed spread directly over the raw scan (guide §2.5): the sf≤0.1
      // lineitem file is single-row-group, so without it the scan, the
      // cents/struct projection AND the partial collect_list all run in
      // one task; hash-partitioning by the groupBy key replaces the
      // aggregation's own exchange, so the plan keeps ONE shuffle
      val levels = Spread.byKeys(
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"),
        Seq(col("l_orderkey"))).select(
        col("l_orderkey").as("order_key"),
        (col("l_linenumber") % 2 === 0).as("is_bid"),
        struct(Norms.cents(col("l_extendedprice")).as("price_c"),
          Norms.cents(col("l_quantity")).as("size_c")).as("level"))
      val books = levels.groupBy("order_key").agg(
        collect_list(when(col("is_bid"), col("level"))).as("bids"),
        collect_list(when(!col("is_bid"), col("level"))).as("asks"))
      Book.summarize(books, Seq("order_key"))
    },

    // ----- S2/S7 + P12: the real wire format — reference-schema JSON events
    // round-tripped through to_json/from_json (EventSchemas.wsEvent), string
    // prices decoded, then the same A1-A5 summary (ws_manager.py:48-110)
    QueryDef("s02_ws_json_roundtrip",
      "serialize books as reference-shaped WS JSON, parse with the declared topic StructType, decode string prices, summarize")(
      bookSummaryOracle) { (s, dir) =>
      // keyed spread over the raw scan — same rationale as a05
      val levels = Spread.byKeys(
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"),
        Seq(col("l_orderkey"))).select(
        col("l_orderkey").as("order_key"),
        (col("l_linenumber") % 2 === 0).as("is_bid"),
        // the CLOB WS sends prices/sizes as decimal STRINGS (ws_manager.py:56-57)
        struct(Norms.cents(col("l_extendedprice")).cast(StringType).as("price"),
          Norms.cents(col("l_quantity")).cast(StringType).as("size")).as("level"))
      val payloads = levels.groupBy("order_key").agg(
          collect_list(when(col("is_bid"), col("level"))).as("bids"),
          collect_list(when(!col("is_bid"), col("level"))).as("asks"))
        .select(to_json(struct(
          lit("book").as("event_type"),
          col("order_key").cast(StringType).as("asset_id"),
          col("bids"), col("asks"))).as("value"))
      val parsed = payloads
        .select(from_json(col("value"), graft.schemas.EventSchemas.wsEvent).as("e"))
        .filter(col("e.event_type") === "book")
      def cents(side: Column) = transform(side, l =>
        struct(l.getField("price").cast(LongType).as("price_c"),
          l.getField("size").cast(LongType).as("size_c")))
      Book.summarize(
        parsed.select(col("e.asset_id").cast(LongType).as("order_key"),
          cents(col("e.bids")).as("bids"), cents(col("e.asks")).as("asks")),
        Seq("order_key"))
    },

    // ----- D3/D4: catalog registrations + materialization policy (dbt_project.yml:32-47)
    QueryDef("d04_sql_views",
      "bronze as views, silver materialized as a parquet table, queried through the spark.sql surface")(
      s"""SELECT event_type, count(*) AS n, CAST(sum(${centsSql("value")}) AS BIGINT) AS vol_c
         |FROM events WHERE user_id < 50 GROUP BY event_type
         |""".stripMargin) { (s, dir) =>
      graft.silver.Catalog.registerBronze(s, dir)
      val silver = s.table("events").select(col("event_id"), col("ts"),
        col("event_type"), col("user_id"), Norms.cents(col("value")).as("value_c"))
      graft.silver.Catalog.materialize(s, silver,
        s"${outRoot(s)}/graft_silver_${new java.io.File(dir).getName}/events", "silver_events")
      s.sql("""SELECT event_type, count(*) AS n, CAST(sum(value_c) AS BIGINT) AS vol_c
              |FROM silver_events WHERE user_id < 50 GROUP BY event_type""".stripMargin)
    },

    // ----- TPC-H Q1 shape: the canonical wide aggregation (D6/A-class baseline)
    QueryDef("q1_pricing_summary",
      "wide hash aggregation with map-side combine; exact-cents sums")(
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_c,
         |       CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_base_c,
         |       CAST(sum(${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")})) AS BIGINT) AS sum_disc_c2,
         |       CAST(sum(${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")})
         |                * (100 + ${centsSql("l_tax")})) AS BIGINT) AS sum_charge_c3,
         |       count(*) AS n,
         |       round(CAST(sum(${centsSql("l_quantity")}) AS DOUBLE) / count(*), 4) AS avg_qty_c
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |""".stripMargin) { (s, dir) =>
      val qc = Norms.cents(col("l_quantity"))
      val pc = Norms.cents(col("l_extendedprice"))
      val dc = Norms.cents(col("l_discount"))
      val tc = Norms.cents(col("l_tax"))
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(qc).as("sum_qty_c"),
          sum(pc).as("sum_base_c"),
          sum(pc * (lit(100) - dc)).as("sum_disc_c2"),
          sum(pc * (lit(100) - dc) * (lit(100) + tc)).as("sum_charge_c3"),
          count(lit(1)).as("n"),
          round(sum(qc).cast(DoubleType) / count(lit(1)), 4).as("avg_qty_c"))
    },

    // ----- A6: explode packed change arrays, BUY side only (ws_manager.py:113-131)
    QueryDef("a06_explode_buy_filter",
      "pack per-order change arrays then explode keeping BUY side — generator with pre-explode filter")(
      s"""SELECT l_orderkey AS order_key,
         |       ${centsSql("l_extendedprice")} AS price_c,
         |       ${centsSql("l_quantity")} AS size_c
         |FROM lineitem WHERE l_returnflag = 'R'
         |""".stripMargin) { (s, dir) =>
      // keyed spread over the raw scan — same rationale as a05
      val packed = Spread.byKeys(
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_extendedprice", "l_quantity", "l_returnflag"),
        Seq(col("l_orderkey"))).select(
        col("l_orderkey").as("order_key"),
        struct(Norms.cents(col("l_extendedprice")).as("price_c"),
          Norms.cents(col("l_quantity")).as("size_c"),
          when(col("l_returnflag") === "R", "BUY").otherwise("SELL").as("side")).as("chg"))
        .groupBy("order_key").agg(collect_list(col("chg")).as("changes"))
      PriceChanges.explodeSide(packed, col("changes"), "BUY", Seq(col("order_key")))
        .select(col("order_key"), col("c.price_c").as("price_c"), col("c.size_c").as("size_c"))
    },

    // ----- A7/O2: top-K per group (positions leaderboard, tracker.py:30-47)
    QueryDef("a07_topk_positions",
      "top-20 users by exact-cents total value per event_type — windowed row_number top-K")(
      s"""SELECT event_type, user_id, bal_c FROM (
         |  SELECT event_type, user_id, bal_c,
         |         row_number() OVER (PARTITION BY event_type ORDER BY bal_c DESC, user_id) AS rk
         |  FROM (SELECT event_type, user_id, CAST(sum(${centsSql("value")}) AS BIGINT) AS bal_c
         |        FROM events GROUP BY 1, 2))
         |WHERE rk <= 20
         |""".stripMargin) { (s, dir) =>
      val bal = Tables.events(s, dir)
        .groupBy("event_type", "user_id")
        .agg(sum(Norms.cents(col("value"))).as("bal_c"))
      TopK.perGroup(bal, Seq(col("event_type")), Seq(col("bal_c").desc, col("user_id")), 20)
    },

    // ----- A8: positions snapshot fan-out (tracker.py:78-105)
    QueryDef("a08_positions_fanout",
      "array-of-position-structs poll payload fans out to one typed row per position; empty snapshots keep a marker row")(
      s"""WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id < 20),
         |w AS (SELECT DISTINCT time_bucket(INTERVAL '15 minutes', ts) AS win_start FROM events),
         |a AS (SELECT user_id, time_bucket(INTERVAL '15 minutes', ts) AS win_start,
         |             event_id, ${centsSql("value")} AS value_c
         |      FROM events WHERE user_id < 20)
         |SELECT u.user_id, w.win_start, a.event_id,
         |       coalesce(a.value_c, 0) AS value_c,
         |       CASE WHEN a.event_id IS NULL THEN 'position_snapshot_empty'
         |            ELSE 'position' END AS snap_type
         |FROM u CROSS JOIN w
         |LEFT JOIN a ON a.user_id = u.user_id AND a.win_start = w.win_start
         |""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val win = window(col("ts"), "15 minutes").getField("start").as("win_start")
      val packed = ev.filter(col("user_id") < 20)
        .select(col("user_id"), win,
          struct(col("event_id"), Norms.cents(col("value")).as("value_c")).as("pos"))
        .groupBy("user_id", "win_start")
        .agg(collect_list(col("pos")).as("positions"))
      val grid = ev.filter(col("user_id") < 20).select("user_id").distinct()
        .crossJoin(broadcast(ev.select(win).distinct()))
      PriceChanges.snapshotFanout(grid, packed, Seq("user_id", "win_start"), col("positions"))
        .select(col("user_id"), col("win_start"),
          col("p.event_id").as("event_id"),
          coalesce(col("p.value_c"), lit(0L)).as("value_c"),
          // marker on the FIELD, matching the oracle's a.event_id IS
          // NULL (a joined struct with a null event_id field is
          // non-null as a struct)
          when(col("p.event_id").isNull, "position_snapshot_empty")
            .otherwise("position").as("snap_type"))
    },

    // ----- A10: missed-snapshot estimate (tracker.py:196-199)
    QueryDef("a10_missed_snapshots",
      "integer-division gap estimate from timestamp arithmetic")(
      """SELECT user_id,
        |       CAST(floor(date_diff('second', min(ts), max(ts)) / 10) AS BIGINT) AS missed
        |FROM events GROUP BY user_id
        |""".stripMargin) { (s, dir) =>
      Tables.events(s, dir).groupBy("user_id")
        .agg(floor((unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts")))) / 10)
          .cast(LongType).as("missed"))
    },

    // ----- P1 (+P6, coalesce): ticker filter + project (coinbase_producer.py:35-41)
    QueryDef("p01_ticker_project",
      "type-gate filter + literal/cast/coalesce projection, pushed to the scan")(
      s"""SELECT event_id, 'BTC' AS symbol, ${centsSql("value")} AS price_c, ts,
         |       coalesce(CASE WHEN json_valid(props) THEN CAST(props->>'k' AS BIGINT) END, 0) AS k
         |FROM events WHERE event_type = 'purchase'
         |""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), lit("BTC").as("symbol"),
          Norms.cents(col("value")).as("price_c"), col("ts"),
          Norms.getOr(get_json_object(col("props"), "$.k").cast(LongType), lit(0L)).as("k"))
    },

    // ----- P2/W3: last-value-wins 1-per-minute decimation (coinbase_producer.py:43-48)
    QueryDef("p02_throttle_decimate",
      "rate decimation: latest event per (user, minute) via max_by — one combinable aggregation")(
      s"""SELECT user_id, win_start, event_id, value_c FROM (
         |  SELECT user_id, date_trunc('minute', ts) AS win_start, event_id,
         |         ${centsSql("value")} AS value_c,
         |         row_number() OVER (PARTITION BY user_id, date_trunc('minute', ts)
         |                            ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events) WHERE rn = 1
         |""".stripMargin) { (s, dir) =>
      EventOps.throttle(Tables.events(s, dir),
        keys = Seq(col("user_id")),
        bucket = window(col("ts"), "1 minute").getField("start").as("win_start"),
        ord = Seq(col("ts"), col("event_id")),
        payload = Seq("event_id" -> col("event_id"), "value_c" -> Norms.cents(col("value"))))
    },

    // ----- P3: keyword containment filter (market_discovery.py:35-48)
    QueryDef("p03_keyword_filter",
      "case-insensitive multi-keyword containment")(
      """SELECT doc_id, lang FROM documents
        |WHERE lower(text) LIKE '%window%' OR lower(text) LIKE '%shuffle%'
        |""".stripMargin) { (s, dir) =>
      Discovery.keywordFilter(Tables.documents(s, dir), col("text"), Seq("window", "shuffle"))
        .select("doc_id", "lang")
    },

    // ----- P4: point-in-interval predicate (market_discovery.py:50-73)
    QueryDef("p04_window_predicate",
      "rows whose [start, start+15d) interval contains a fixed point")(
      """SELECT o_orderkey FROM orders
        |WHERE o_orderdate <= TIMESTAMP '1995-06-17 00:00:00'
        |  AND TIMESTAMP '1995-06-17 00:00:00' < o_orderdate + INTERVAL 15 DAY
        |""".stripMargin) { (s, dir) =>
      val at = lit("1995-06-17 00:00:00").cast(TimestampType)
      Tables.orders(s, dir)
        .filter(col("o_orderdate") <= at && at < col("o_orderdate") + expr("INTERVAL 15 DAYS"))
        .select("o_orderkey")
    },

    // ----- P5: double-encoded JSON array decode (market_discovery.py:85-95)
    QueryDef("p05_double_decode",
      "JSON field whose value is a JSON-encoded array STRING: two-stage decode (the Gamma API quirk)")(
      """WITH b AS (SELECT event_id,
        |  '{"a": "' || replace('["' || CAST(user_id AS VARCHAR) || '","' || CAST(event_id AS VARCHAR) || '"]',
        |               '"', '\"') || '"}' AS payload
        |  FROM events),
        |d AS (SELECT event_id, json_extract_string(payload, '$.a') AS a_str FROM b)
        |SELECT event_id,
        |       json_extract_string(a_str::JSON, '$[0]')::BIGINT AS token0,
        |       json_extract_string(a_str::JSON, '$[1]')::BIGINT AS token1
        |FROM d
        |""".stripMargin) { (s, dir) =>
      val inner = concat(lit("[\""), col("user_id").cast(StringType), lit("\",\""),
        col("event_id").cast(StringType), lit("\"]"))
      val payload = concat(lit("{\"a\": \""),
        replace(inner, lit("\""), lit("\\\"")), lit("\"}"))
      val arr = Norms.decodeJsonArray(get_json_object(payload, "$.a"))
      Tables.events(s, dir).select(col("event_id"),
        element_at(arr, 1).cast(LongType).as("token0"),
        element_at(arr, 2).cast(LongType).as("token1"))
    },

    // ----- P6: mixed naive/Z ISO-8601 normalization (ws_manager.py:96 vs tracker.py:222-224)
    QueryDef("p06_iso_mix",
      "normalize a mix of naive and Z-suffixed ISO-8601 timestamp strings to UTC timestamps")(
      """WITH s AS (SELECT event_id,
        |  CASE WHEN event_id % 2 = 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
        |       ELSE strftime(ts, '%Y-%m-%dT%H:%M:%SZ') END AS raw FROM events)
        |SELECT event_id,
        |  CASE WHEN raw LIKE '%Z' THEN strptime(raw, '%Y-%m-%dT%H:%M:%SZ')
        |       ELSE strptime(raw, '%Y-%m-%d %H:%M:%S') END AS ts_norm
        |FROM s
        |""".stripMargin) { (s, dir) =>
      val raw = when(col("event_id") % 2 === 0,
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
        .otherwise(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
      Tables.events(s, dir)
        .select(col("event_id"), Norms.isoTs(raw).as("ts_norm"))
    },

    // ----- P15: empty-snapshot marker rows (tracker.py:64-76)
    QueryDef("p15_empty_snapshot",
      "emit marker rows for (user, window) cells with no events — dim-grid left join, small dims broadcast")(
      s"""WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id < 20),
         |w AS (SELECT DISTINCT time_bucket(INTERVAL '15 minutes', ts) AS win_start FROM events),
         |a AS (SELECT user_id, time_bucket(INTERVAL '15 minutes', ts) AS win_start,
         |             count(*) AS n, CAST(sum(${centsSql("value")}) AS BIGINT) AS vol_c
         |      FROM events WHERE user_id < 20 GROUP BY 1, 2)
         |SELECT u.user_id, w.win_start,
         |       coalesce(a.n, 0) AS n, coalesce(a.vol_c, 0) AS vol_c,
         |       CASE WHEN a.n IS NULL THEN 'position_snapshot_empty' ELSE 'position' END AS snap_type
         |FROM u CROSS JOIN w LEFT JOIN a ON a.user_id = u.user_id AND a.win_start = w.win_start
         |""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val win = window(col("ts"), "15 minutes").getField("start").as("win_start")
      val users = ev.filter(col("user_id") < 20).select("user_id").distinct()
      val wins = ev.select(win).distinct()
      val actual = ev.filter(col("user_id") < 20)
        .groupBy(col("user_id"), win)
        .agg(count(lit(1)).as("n"), sum(Norms.cents(col("value"))).as("vol_c"))
      users.crossJoin(broadcast(wins))
        .join(actual, Seq("user_id", "win_start"), "left")
        .select(col("user_id"), col("win_start"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("vol_c"), lit(0L)).as("vol_c"),
          when(col("n").isNull, "position_snapshot_empty").otherwise("position")
            .as("snap_type"))
    },

    // ----- W7/D1: corrupt-record keep-and-flag silver projection (db_writer.py:66-73)
    QueryDef("d03_corrupt_keep",
      "malformed payloads are kept with _corrupt_record populated, not dropped — replayable bad-record channel")(
      """WITH b AS (SELECT event_id, user_id,
        |  CASE WHEN event_id % 10 = 0 THEN 'corrupt ' || CAST(event_id AS VARCHAR)
        |       ELSE '{"k": ' || CAST(user_id AS VARCHAR) || '}' END AS payload
        |  FROM events)
        |SELECT event_id,
        |       CASE WHEN event_id % 10 = 0 THEN NULL ELSE user_id END AS k,
        |       CASE WHEN event_id % 10 = 0 THEN payload END AS _corrupt_record
        |FROM b
        |""".stripMargin) { (s, dir) =>
      val payload = when(col("event_id") % 10 === 0,
          concat(lit("corrupt "), col("event_id").cast(StringType)))
        .otherwise(concat(lit("{\"k\": "), col("user_id").cast(StringType), lit("}")))
      Silver.projectKeepCorrupt(
        Tables.events(s, dir).withColumn("_payload", payload),
        col("_payload"),
        StructType(Seq(StructField("k", LongType))),
        fields = Seq("k" -> LongType),
        keep = Seq(col("event_id")))
    },

    // ----- D5: partitioned bronze write + pruned scan (init.sql expression-index analog)
    QueryDef("d05_partition_prune",
      "write bronze partitioned by event_type, read back with a partition filter — scan prunes instead of full read")(
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         |       count(*) AS n, CAST(sum(${centsSql("value")}) AS BIGINT) AS vol_c
         |FROM events WHERE event_type = 'click' GROUP BY 1
         |""".stripMargin) { (s, dir) =>
      val out = s"${outRoot(s)}/graft_bronze_${new java.io.File(dir).getName}"
      Tables.events(s, dir).withColumn("day", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
      s.read.parquet(out)
        .filter(col("event_type") === "click")
        .groupBy("day")
        .agg(count(lit(1)).as("n"), sum(Norms.cents(col("value"))).as("vol_c"))
    },

    // ----- P7/P8: winner derivation with intentional float equality (market_resolution.py:41,77-101)
    QueryDef("p07_winner_case",
      "resolution gate + CASE winner derivation (float-equality semantics preserved)")(
      """SELECT l_orderkey AS order_key, l_linenumber AS line,
        |       CASE WHEN l_tax = 0.0 THEN 'Down'
        |            WHEN l_discount = 0.0 THEN 'Up'
        |            ELSE 'Unknown' END AS winner
        |FROM lineitem WHERE l_returnflag = 'A' AND l_linestatus = 'F'
        |""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "A" && col("l_linestatus") === "F")
        .select(col("l_orderkey").as("order_key"), col("l_linenumber").as("line"),
          Resolution.winner(col("l_tax"), col("l_discount"), resolvedAt = 0.0).as("winner"))
    },

    // ----- P9/P10: outcome decode + positive-balance filter (tracker.py:81-88)
    QueryDef("p09_positions_decode",
      "dust filter + outcome-index decode projection")(
      s"""SELECT event_id, user_id,
         |       CASE WHEN user_id % 2 = 0 THEN 'YES' ELSE 'NO' END AS outcome,
         |       ${centsSql("value")} AS balance_c
         |FROM events WHERE value > 0
         |""".stripMargin) { (s, dir) =>
      EventOps.positiveBalance(Tables.events(s, dir), col("value"))
        .select(col("event_id"), col("user_id"),
          EventOps.outcomeDecode(col("user_id") % 2).as("outcome"),
          Norms.cents(col("value")).as("balance_c"))
    },

    // ----- P11/J1: broadcast dim lookup with inner-join drop semantics (ws_manager.py:61-64,279-282)
    QueryDef("p11_dim_lookup",
      "stream-static broadcast inner join against a small dimension")(
      """SELECT c.c_custkey, n.n_name FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir).join(
          broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "n_name")
    },

    // ----- P12/P13: event-type demux + unknown passthrough (ws_manager.py:48-162)
    QueryDef("p12_event_demux",
      "4-way type demux into a unified schema; catch-all keeps raw payload")(
      """SELECT event_id,
        |       CASE WHEN event_type = 'click' THEN 'click'
        |            WHEN event_type = 'view' THEN 'view'
        |            WHEN event_type = 'purchase' THEN 'purchase'
        |            ELSE 'unknown' END AS kind,
        |       CASE WHEN event_type = 'click' THEN CAST(user_id AS VARCHAR)
        |            WHEN event_type = 'view' THEN CAST(value AS VARCHAR)
        |            WHEN event_type = 'purchase' THEN 'trade'
        |            ELSE props END AS detail
        |FROM events
        |""".stripMargin) { (s, dir) =>
      val df = Tables.events(s, dir)
      val (kind, detail) = EventOps.demux(df, col("event_type"),
        Seq(
          "click" -> col("user_id").cast(StringType),
          "view" -> col("value").cast(StringType),
          "purchase" -> lit("trade")),
        rawCol = col("props"))
      df.select(col("event_id"), kind.as("kind"), detail.as("detail"))
    },

    // ----- J1 (analytical): 4-dim star join with broadcast dims (README.md:56,221-229)
    QueryDef("j01_star_join",
      "fact ⋈ orders ⋈ customer ⋈ nation ⋈ region; dims broadcast; exact-cents revenue")(
      s"""SELECT r.r_name, n.n_name,
         |       CAST(sum(${centsSql("l.l_extendedprice")} * (100 - ${centsSql("l.l_discount")})) AS BIGINT) AS revenue_c2,
         |       count(*) AS n_lines
         |FROM lineitem l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY 1, 2
         |""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(Norms.cents(col("l_extendedprice")) * (lit(100) - Norms.cents(col("l_discount"))))
          .as("revenue_c2"),
          count(lit(1)).as("n_lines"))
    },

    // ----- J2: as-of join — each event to the latest order of its user (README.md:221-229)
    QueryDef("j02_asof_join",
      "as-of join: latest order with o_orderdate <= event ts per event")(
      """SELECT event_id, o_orderkey, o_orderdate FROM (
        |  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
        |         row_number() OVER (PARTITION BY e.event_id
        |                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
        |WHERE rn = 1
        |""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir).select("event_id", "user_id", "ts")
      val o = Tables.orders(s, dir)
        .select(col("o_custkey").as("user_id"), col("o_orderkey"), col("o_orderdate"))
      AsOf.join(e, o, key = "user_id", probeTs = "ts", buildTs = "o_orderdate",
          buildTie = Seq("o_orderkey"), payload = Seq("o_orderkey", "o_orderdate"))
        .select("event_id", "o_orderkey", "o_orderdate")
    },

    // ----- J2 (skew): salted hot-key join — same result as the plain join
    QueryDef("j03_salted_join",
      "deterministic-salt skew join: small side replicated per salt, big side scattered; result identical to plain join")(
      s"""SELECT c.c_nationkey, count(*) AS n, CAST(sum(${centsSql("e.value")}) AS BIGINT) AS vol_c
         |FROM events e JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY c.c_nationkey
         |""".stripMargin) { (s, dir) =>
      val dim = Tables.customer(s, dir).select(
        col("c_custkey").as("user_id"), col("c_nationkey"))
      Skew.saltedJoin(
          Tables.events(s, dir).select(col("user_id"), Norms.cents(col("value")).as("v_c"),
            col("event_id")),
          dim, key = "user_id", saltSrc = col("event_id"), nSalts = 8)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), sum(col("v_c")).as("vol_c"))
    },

    // ----- J1 (bucketed): co-located join — bucketed tables, no shuffle at join
    QueryDef("j04_bucketed_join",
      "bucketBy(8, key) saveAsTable both sides; the join reads co-located buckets with NO Exchange")(
      s"""SELECT o.o_orderpriority, count(*) AS n,
         |       CAST(sum(${centsSql("l.l_extendedprice")}) AS BIGINT) AS rev_c
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |GROUP BY o.o_orderpriority
         |""".stripMargin) { (s, dir) =>
      val tag = new java.io.File(dir).getName.replace('.', '_')
      val lt = s"g_lineitem_$tag"
      val ot = s"g_orders_$tag"
      if (!s.catalog.tableExists(lt)) {
        // external tables under the warehouse: its files survive across
        // sessions while the in-memory catalog does not, and a managed
        // saveAsTable onto a leftover location fails
        s.sql(s"DROP TABLE IF EXISTS $lt")
        s.sql(s"DROP TABLE IF EXISTS $ot")
        Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice")
          .write.mode("overwrite").option("path", s"${outRoot(s)}/graft_bucketed/$tag/$lt")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
          .write.mode("overwrite").option("path", s"${outRoot(s)}/graft_bucketed/$tag/$ot")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
      }
      // hint("merge"): at test scale Spark would broadcast the small side,
      // hiding the point — at 100 TB neither side broadcasts and the
      // bucketed SMJ (no Exchange under either side) is the real plan
      s.table(lt).hint("merge")
        .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(Norms.cents(col("l_extendedprice"))).as("rev_c"))
    },

    // ----- J2 (skew, sketch-directed): only detected-hot keys salted
    QueryDef("j06_sketch_skew_join",
      "sketch-directed skew join: one Misra-Gries pass over the big side's key learns the hot keys (planted: user 1 holds ~half the events), only hot rows are salted, the cold mass joins plain — result identical to the plain join, and the small side is no longer replicated nSalts x for cold keys")(
      s"""WITH ev AS (
         |  SELECT event_id, user_id, value FROM events
         |  UNION ALL
         |  SELECT event_id + 10000000 AS event_id, 1 AS user_id, value FROM events)
         |SELECT c.c_mktsegment, count(*) AS n,
         |       CAST(sum(${centsSql("e.value")}) AS BIGINT) AS vol_c
         |FROM ev e JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY c.c_mktsegment
         |""".stripMargin) { (s, dir) =>
      val ev0 = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        Norms.cents(col("value")).as("v_c"))
      val ev = ev0.unionAll(ev0.select(
        (col("event_id") + 10000000L).as("event_id"),
        lit(1L).as("user_id"), col("v_c")))
      val dim = Tables.customer(s, dir).select(
        col("c_custkey").as("user_id"), col("c_mktsegment"))
      Skew.sketchSaltedJoin(ev, dim, key = "user_id",
          saltSrc = col("event_id"), nSalts = 8, k = 16)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum(col("v_c")).as("vol_c"))
    },

    // ----- J7: bloom-pruned join — the explicit runtime-filter form
    QueryDef("j07_bloom_join",
      "bloom-pruned shuffle join: a Bloom filter over the SELECTIVE dim side's keys (urgent+high orders, ~40% of the table) pushed onto the fact scan as a codegen'd literal predicate before the exchange — no false negatives makes the pre-filter semantically transparent for the inner join (false positives die in the real join), so only ~matching + fpp fact rows pay shuffle I/O; result bit-identical to the plain join the oracle runs")(
      s"""SELECT o.o_orderpriority, count(*) AS n,
         |       CAST(sum(${centsSql("l.l_extendedprice")}) AS BIGINT) AS rev_c
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
         |GROUP BY 1
         |""".stripMargin) { (s, dir) =>
      val fact = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), Norms.cents(col("l_extendedprice")).as("p_c"))
      val dim = Tables.orders(s, dir)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      // sized from dim.count() — the urgent+high slice scales with the
      // SF, so a constant would undersize the filter past SF~2
      BloomJoin.bloomPrunedJoin(fact, dim, key = "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("p_c")).as("rev_c"))
    },

    // ----- D2 (unique_key): upsert/latest-per-key — dbt incremental MERGE analog
    QueryDef("d06_upsert_unique_key",
      "latest row per unique key via max_by (one combinable aggregation) — the dbt unique_key MERGE semantics")(
      s"""SELECT uk, event_id, ${centsSql("value")} AS value_c FROM (
         |  SELECT event_id % 1000 AS uk, event_id, value,
         |         row_number() OVER (PARTITION BY event_id % 1000
         |                            ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events) WHERE rn = 1
         |""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select((col("event_id") % 1000).as("uk"), col("event_id"), col("ts"),
          Norms.cents(col("value")).as("value_c"))
      val ord = struct(col("ts"), col("event_id"))
      ev.groupBy("uk")
        .agg(max_by(col("event_id"), ord).as("event_id"),
          max_by(col("value_c"), ord).as("value_c"))
    },

    // ----- D7: dbt snapshot (SCD2, check strategy) — the reference's
    // dbt project declares a snapshots path (dbt_project.yml:19); this
    // is the history build that path exists for
    QueryDef("d07_scd2_snapshot",
      "SCD type-2 history build (dbt snapshot, check strategy): per key, consecutive equal tracked values collapse into validity-interval versions with valid_from/valid_to/is_current + collapsed-row counts — one hash exchange total (both windows and the opens-side close share the key partitioning)")(
      """WITH src AS (SELECT user_id % 100 AS k, event_type AS v, ts, event_id AS tb
        |             FROM events),
        |o AS (SELECT k, v, ts, tb,
        |        row_number() OVER (PARTITION BY k ORDER BY ts, tb) AS rn,
        |        lag(v) OVER (PARTITION BY k ORDER BY ts, tb) AS pv,
        |        count(*) OVER (PARTITION BY k) AS tot
        |      FROM src),
        |op AS (SELECT *, (rn = 1 OR NOT (v IS NOT DISTINCT FROM pv)) AS is_open
        |       FROM o),
        |vers AS (SELECT k, v, ts, tb, rn, tot,
        |           lead(ts) OVER (PARTITION BY k ORDER BY rn) AS valid_to,
        |           lead(rn) OVER (PARTITION BY k ORDER BY rn) AS next_rn
        |         FROM op WHERE is_open)
        |SELECT k AS key, v AS tracked, ts AS valid_from, valid_to,
        |       valid_to IS NULL AS is_current,
        |       CAST(coalesce(next_rn, tot + 1) - rn AS BIGINT) AS n_source_rows,
        |       tb AS anchor_id
        |FROM vers
        |""".stripMargin) { (s, dir) =>
      Silver.scd2Snapshot(Tables.events(s, dir),
        col("user_id") % 100, col("event_type"), col("ts"), col("event_id"))
    },

    // ----- D8: point-in-time lookup against the D7 snapshot — the
    // query an SCD2 table exists to answer
    QueryDef("d08_point_in_time",
      "point-in-time dimension lookup: every fact labeled with the SCD2 version in force at its timestamp — zero-duration burst versions filtered (unique valid_from per key -> deterministic as-of in both engines), then AsOf.join's union + key-windowed carry-forward: ONE facts-union-versions hash exchange, NO range join")(
      """WITH src AS (SELECT user_id % 100 AS k, event_type AS v, ts, event_id AS tb
        |             FROM events),
        |o AS (SELECT k, v, ts, tb,
        |        row_number() OVER (PARTITION BY k ORDER BY ts, tb) AS rn,
        |        lag(v) OVER (PARTITION BY k ORDER BY ts, tb) AS pv
        |      FROM src),
        |op AS (SELECT *, (rn = 1 OR NOT (v IS NOT DISTINCT FROM pv)) AS is_open
        |       FROM o),
        |vers AS (SELECT k, v, ts, tb, rn,
        |           lead(ts) OVER (PARTITION BY k ORDER BY rn) AS valid_to
        |         FROM op WHERE is_open),
        |vv AS (SELECT k AS key, v AS tracked, ts AS valid_from, tb AS anchor_id
        |       FROM vers WHERE valid_to IS NULL OR valid_to > ts),
        |f AS (SELECT event_id, user_id % 100 AS key, ts FROM events)
        |SELECT f.event_id, f.ts, v.tracked AS state_at,
        |       v.anchor_id AS version_anchor
        |FROM f ASOF JOIN vv v ON f.key = v.key AND f.ts >= v.valid_from
        |""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val versions = Silver.scd2Snapshot(ev,
        col("user_id") % 100, col("event_type"), col("ts"), col("event_id"))
      val facts = ev.select(col("event_id"), (col("user_id") % 100).as("key"),
        col("ts"))
      Silver.pointInTime(facts, "ts", versions)
        .select(col("event_id"), col("ts"), col("tracked").as("state_at"),
          col("anchor_id").as("version_anchor"))
    },

    // ----- D9: dbt generic schema-test battery (violations planted
    // deterministically — the base testdata is clean on all four)
    QueryDef("d09_schema_tests",
      "dbt's four generic schema tests with dbt's own violation semantics — unique (distinct duplicated key values), not_null (null rows), relationships (non-null FK orphans via ONE left-anti join), accepted_values (distinct out-of-set values); planted mutations exercise every test; passed iff 0, dbt's gate")(
      """WITH ev AS (SELECT event_id, user_id, event_type FROM events),
        |m1 AS (SELECT event_id, user_id + 10000000 AS user_id,
        |              event_type || '_zz' AS event_type
        |       FROM ev WHERE event_id % 97 = 0),
        |m2 AS (SELECT event_id + 20000000 AS event_id, user_id,
        |              NULL AS event_type
        |       FROM ev WHERE event_id % 193 = 0),
        |c AS (SELECT * FROM ev UNION ALL SELECT * FROM m1
        |      UNION ALL SELECT * FROM m2),
        |r AS (
        |  SELECT 'unique' AS test, CAST(count(*) AS BIGINT) AS n_violations
        |  FROM (SELECT event_id FROM c WHERE event_id IS NOT NULL
        |        GROUP BY 1 HAVING count(*) > 1)
        |  UNION ALL
        |  SELECT 'not_null', CAST(count(*) FILTER (event_type IS NULL) AS BIGINT)
        |  FROM c
        |  UNION ALL
        |  SELECT 'relationships', CAST(count(*) AS BIGINT)
        |  FROM c WHERE user_id IS NOT NULL
        |    AND user_id NOT IN (SELECT c_custkey FROM customer)
        |  UNION ALL
        |  SELECT 'accepted_values', CAST(count(DISTINCT event_type) AS BIGINT)
        |  FROM c WHERE event_type IS NOT NULL
        |    AND event_type NOT IN ('click', 'error', 'purchase', 'signup', 'view'))
        |SELECT test, n_violations, n_violations = 0 AS passed FROM r
        |""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val m1 = ev.filter(col("event_id") % 97 === 0)
        .select(col("event_id"), (col("user_id") + 10000000L).as("user_id"),
          concat(col("event_type"), lit("_zz")).as("event_type"))
      val m2 = ev.filter(col("event_id") % 193 === 0)
        .select((col("event_id") + 20000000L).as("event_id"), col("user_id"),
          lit(null).cast(StringType).as("event_type"))
      Silver.schemaTests(ev.unionByName(m1).unionByName(m2),
        col("event_id"), col("event_type"), col("user_id"),
        Tables.customer(s, dir).select("c_custkey"),
        col("event_type"),
        Seq("click", "error", "purchase", "signup", "view"))
    },

    // ----- D10: schema-drift monitor over schema-on-read bronze — the
    // reference's own silent accident (init.sql:44 indexes
    // payload->>'event_type'; the producer sends 'type',
    // polymarket_ws_manager.py:91). Planted drift: from Jan 20 the
    // producer renames event_type -> type; every-97th payload is
    // malformed (counts toward n_rows, contributes no keys).
    QueryDef("d10_schema_drift",
      "per-day arrival rate of every declared payload key read from the raw JSON envelope (json_object_keys), zero-filled when a key stops arriving, plus undeclared keys that start arriving; flags declared-rate collapse (<0.5) and novel-key arrival (>=0.05) — the drift class a fixed StructType silver nulls out silently")(
      """WITH b AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS bucket,
        |         CASE WHEN event_id % 97 = 0 THEN 'oops'
        |              WHEN ts >= TIMESTAMP '2024-01-20'
        |                THEN '{"type": "x"' || CASE WHEN value IS NOT NULL
        |                     THEN ', "value": 1' ELSE '' END || '}'
        |              ELSE '{"event_type": "x"' || CASE WHEN value IS NOT NULL
        |                   THEN ', "value": 1' ELSE '' END || '}'
        |         END AS payload
        |  FROM events),
        |k AS (SELECT bucket,
        |             unnest(CASE WHEN json_valid(payload)
        |                    THEN json_keys(payload) END) AS key
        |      FROM b),
        |tot AS (SELECT bucket, count(*) AS n_rows FROM b GROUP BY 1),
        |pres AS (SELECT bucket, key, count(*) AS n_present FROM k GROUP BY 1, 2),
        |expk AS (SELECT 'event_type' AS key UNION ALL SELECT 'value'),
        |expected AS (
        |  SELECT t.bucket, e.key, 'expected' AS kind,
        |         coalesce(p.n_present, 0) AS n_present, t.n_rows
        |  FROM tot t CROSS JOIN expk e
        |  LEFT JOIN pres p ON p.bucket = t.bucket AND p.key = e.key),
        |novel AS (
        |  SELECT p.bucket, p.key, 'novel' AS kind, p.n_present, t.n_rows
        |  FROM pres p JOIN tot t ON t.bucket = p.bucket
        |  WHERE p.key NOT IN (SELECT key FROM expk))
        |SELECT bucket, key, kind, n_present, n_rows,
        |       round(CAST(n_present AS DOUBLE) / n_rows, 4) AS rate,
        |       CASE WHEN kind = 'expected' THEN rate < 0.5
        |            ELSE rate >= 0.05 END AS flagged
        |FROM (SELECT * FROM expected UNION ALL SELECT * FROM novel)
        |""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val body = when(col("value").isNotNull, lit(", \"value\": 1"))
        .otherwise(lit(""))
      val payload = when(col("event_id") % 97 === 0, lit("oops"))
        .when(col("ts") >= lit("2024-01-20").cast(TimestampType),
          concat(lit("{\"type\": \"x\""), body, lit("}")))
        .otherwise(concat(lit("{\"event_type\": \"x\""), body, lit("}")))
      val bronze = ev.select(
        to_date(date_trunc("DAY", col("ts"))).as("_day"),
        payload.as("_payload"))
      Silver.keyArrival(bronze, col("_payload"), col("_day"),
        Seq("event_type", "value"))
    },

    // ----- O1/J3: latest-row probe (tracker.py:177-180)
    QueryDef("o01_latest_row",
      "ORDER BY ts DESC LIMIT 1 — TakeOrderedAndProject, no full sort")(
      """SELECT event_id, ts, event_type FROM events
        |ORDER BY ts DESC, event_id DESC LIMIT 1
        |""".stripMargin) { (s, dir) =>
      Tables.events(s, dir).orderBy(col("ts").desc, col("event_id").desc)
        .limit(1).select("event_id", "ts", "event_type")
    },

    // ----- O2: global top-K (tracker.py:33-36 GraphQL first:1000)
    QueryDef("o02_topk_global",
      "global top-100 by balance — TakeOrderedAndProject")(
      s"""SELECT c_custkey, ${centsSql("c_acctbal")} AS acctbal_c FROM customer
         |ORDER BY ${centsSql("c_acctbal")} DESC, c_custkey LIMIT 100
         |""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .select(col("c_custkey"), Norms.cents(col("c_acctbal")).as("acctbal_c"))
        .orderBy(col("acctbal_c").desc, col("c_custkey")).limit(100)
    },

    // ----- O3: first-match scan (market_discovery.py:55-71)
    QueryDef("o03_first_match",
      "filtered ordered LIMIT 1 — first qualifying row")(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice > 100000
        |ORDER BY o_orderkey LIMIT 1
        |""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 100000)
        .orderBy(col("o_orderkey")).limit(1)
        .select("o_orderkey", "o_totalprice")
    },

    // ----- O4: set ops (free once schemas unify — SURVEY §2.6)
    QueryDef("o04_set_ops",
      "EXCEPT at (user, day) grain: click-days with no error that day (user-level EXCEPT is degenerate-empty on dense data)")(
      """SELECT user_id, day FROM (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |  FROM events WHERE event_type = 'click'
        |  EXCEPT
        |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |  FROM events WHERE event_type = 'error')
        |""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      def days(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      days("click").except(days("error"))
    },

    // ----- W1: 15-minute tumbling windows aligned :00/:15/:30/:45 (market_discovery.py:114-137)
    QueryDef("w01_tumbling_15min",
      "epoch-aligned tumbling window aggregation")(
      s"""SELECT time_bucket(INTERVAL '15 minutes', ts) AS win_start, event_type,
         |       count(*) AS n, CAST(sum(${centsSql("value")}) AS BIGINT) AS vol_c
         |FROM events GROUP BY 1, 2
         |""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "15 minutes").getField("start").as("win_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum(Norms.cents(col("value"))).as("vol_c"))
    },

    // ----- W2: sliding windows (10-minute window, 5-minute slide)
    QueryDef("w02_sliding_window",
      "sliding window: each event lands in 2 overlapping buckets")(
      s"""SELECT ws AS win_start, count(*) AS n, CAST(sum(value_c) AS BIGINT) AS vol_c
         |FROM (
         |  SELECT time_bucket(INTERVAL '5 minutes', e.ts) - (o.i * INTERVAL 5 MINUTE) AS ws,
         |         ${centsSql("e.value")} AS value_c
         |  FROM events e CROSS JOIN (VALUES (0), (1)) o(i))
         |GROUP BY 1
         |""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").getField("start").as("win_start"))
        .agg(count(lit(1)).as("n"), sum(Norms.cents(col("value"))).as("vol_c"))
    },

    // ----- J5: bin-bucketed range join (point-in-interval, no nested loop)
    QueryDef("j05_range_join",
      "events range-joined to variable-width overlapping intervals via bin equi-join + exact containment filter (a theta-join would plan BroadcastNestedLoopJoin)")(
      s"""WITH w AS (SELECT DISTINCT time_bucket(INTERVAL '15 minutes', ts) AS lo FROM events),
         |iv AS (SELECT lo,
         |         lo + (10 + CASE CAST(extract(minute FROM lo) AS INT)
         |                    WHEN 15 THEN 10 WHEN 30 THEN 20 ELSE 0 END) * INTERVAL '1 minute' AS hi
         |       FROM w),
         |e AS (SELECT ts, ${centsSql("value")} AS vc FROM events WHERE user_id < 20)
         |SELECT iv.lo, iv.hi, count(*) AS n, CAST(sum(e.vc) AS BIGINT) AS vol_c
         |FROM e JOIN iv ON e.ts >= iv.lo AND e.ts < iv.hi
         |GROUP BY 1, 2
         |""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val intervals = ev
        .select(window(col("ts"), "15 minutes").getField("start").as("lo")).distinct()
        // width cycles 10/20/30/10 min by window position (raw
        // minute(lo) % 3 is constantly 0 on a 15-min grid), so
        // consecutive intervals genuinely overlap and the wider ones
        // exercise the multi-bin explode
        .select(col("lo"), timestamp_seconds(unix_timestamp(col("lo"))
          + (lit(10) + when(minute(col("lo")) === 15, 10)
              .when(minute(col("lo")) === 30, 20).otherwise(0)) * 60).as("hi"))
      val points = ev.filter(col("user_id") < 20)
        .select(col("ts"), Norms.cents(col("value")).as("vc"))
      RangeJoin.binned(points, col("ts"), intervals, col("lo"), col("hi"),
          binSeconds = 600L)
        .groupBy("lo", "hi")
        .agg(count(lit(1)).as("n"), sum(col("vc")).as("vol_c"))
    },

    // ----- W1+: session windows (gap-merged activity sessions per user)
    QueryDef("w03_session_window",
      "session_window with 30-min gap: per-user activity sessions (start, end=last+gap, count, exact volume) — keyed state merges windows, one shuffle on user")(
      s"""WITH e AS (SELECT user_id, ts, ${centsSql("value")} AS vc FROM events),
         |o AS (SELECT user_id, ts, vc,
         |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         |               OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
         |             THEN 1 ELSE 0 END AS brk
         |      FROM e),
         |s AS (SELECT user_id, ts, vc,
         |        sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
         |      FROM o)
         |SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end,
         |       count(*) AS n, CAST(sum(vc) AS BIGINT) AS vol_c
         |FROM s GROUP BY user_id, sid
         |""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("_w"))
        .agg(count(lit(1)).as("n"), sum(Norms.cents(col("value"))).as("vol_c"))
        .select(col("user_id"), col("_w.start").as("session_start"),
          col("_w.end").as("session_end"), col("n"), col("vol_c"))
    },

    // ----- D1: silver typed projection from bronze JSON (models/silver/markets.sql)
    QueryDef("d01_silver_projection",
      "from_json typed extraction over bronze payload strings")(
      """SELECT event_id, ts AS ingested_at,
        |       CASE WHEN json_valid(props) THEN CAST(props->>'k' AS BIGINT) END AS k
        |FROM events WHERE props IS NOT NULL
        |""".stripMargin) { (s, dir) =>
      Silver.project(Tables.events(s, dir), col("props"),
        StructType(Seq(StructField("k", LongType))),
        fields = Seq("k" -> LongType),
        keep = Seq(col("event_id"), col("ts").as("ingested_at")))
    },

    // ----- D2: incremental high-watermark (models/silver/btc_prices.sql:17-19)
    QueryDef("d02_incremental_watermark",
      "dbt {{this}} semantics: SOURCE rows newer than the TARGET's max(ts) - 7d grace (target fixture = rows loaded before Jan 21); 1-row aggregate broadcast")(
      """SELECT event_id, ts FROM events
        |WHERE ts > (SELECT max(ts) FROM events WHERE ts < TIMESTAMP '2024-01-21')
        |           - INTERVAL 7 DAY
        |""".stripMargin) { (s, dir) =>
      val source = Tables.events(s, dir).select("event_id", "ts")
      val target = source.filter(col("ts") < lit("2024-01-21").cast(TimestampType))
      Silver.incrementalAfter(source, target, col("ts"), "7 DAYS")
    },

    // ----- D6/f1: price momentum (README.md:225-229)
    QueryDef("f01_price_momentum",
      "per-user delta + 5-row trailing moving average (window functions)")(
      s"""SELECT event_id, user_id,
         |       value_c - lag(value_c) OVER w AS delta_c,
         |       round(CAST(sum(value_c) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
         |             / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS ma5
         |FROM (SELECT event_id, user_id, ts, ${centsSql("value")} AS value_c FROM events)
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |""".stripMargin) { (s, dir) =>
      val base = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts"),
        Norms.cents(col("value")).as("value_c"))
      Features.momentum(base, Seq(col("user_id")), Seq(col("ts"), col("event_id")), col("value_c"))
        .select("event_id", "user_id", "delta_c", "ma5")
    },

    // ----- D6/f2: volatility via exact sum-of-squares
    QueryDef("f02_volatility",
      "per-type sample variance from exact integer sums (single combinable agg)")(
      s"""SELECT event_type, n,
         |       round((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
         |             / (n - 1), 4) AS variance_c2
         |FROM (SELECT event_type, count(*) AS n,
         |             sum(CAST(${centsSql("value")} AS DECIMAL(38,0))) AS s1,
         |             sum(CAST(${centsSql("value")} AS DECIMAL(38,0))
         |                 * CAST(${centsSql("value")} AS DECIMAL(38,0))) AS s2
         |      FROM events GROUP BY 1)
         |WHERE n > 1
         |""".stripMargin) { (s, dir) =>
      Features.volatility(Tables.events(s, dir), Seq(col("event_type")),
        Norms.cents(col("value")))
        .select("event_type", "n", "variance_c2")
    },

    // ----- D6/f3: windowed imbalance signal
    QueryDef("f03_imbalance_signal",
      "15-min window bid/ask volume imbalance with guarded division")(
      s"""SELECT win_start,
         |       CAST(bid_c AS BIGINT) AS bid_c, CAST(ask_c AS BIGINT) AS ask_c,
         |       CASE WHEN bid_c + ask_c = 0 THEN 0.0
         |            ELSE round(CAST(bid_c - ask_c AS DOUBLE) / CAST(bid_c + ask_c AS DOUBLE), 6)
         |       END AS imbalance
         |FROM (SELECT time_bucket(INTERVAL '15 minutes', ts) AS win_start,
         |             coalesce(sum(CASE WHEN event_type = 'click' THEN ${centsSql("value")} END), 0) AS bid_c,
         |             coalesce(sum(CASE WHEN event_type = 'view' THEN ${centsSql("value")} END), 0) AS ask_c
         |      FROM events GROUP BY 1)
         |""".stripMargin) { (s, dir) =>
      val vc = Norms.cents(col("value"))
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "15 minutes").getField("start").as("win_start"))
        .agg(
          coalesce(sum(when(col("event_type") === "click", vc)), lit(0L)).as("bid_c"),
          coalesce(sum(when(col("event_type") === "view", vc)), lit(0L)).as("ask_c"))
        .select(col("win_start"), col("bid_c"), col("ask_c"),
          Book.imbalance(col("bid_c"), col("ask_c")).as("imbalance"))
    },

    // ----- D6/f4: whale deltas between consecutive snapshots (README.md:143-147)
    QueryDef("f04_whale_deltas",
      "per-user day-over-day balance deltas, |delta| >= $200 (20000 cents; the reference's $1000 is a parameter — testdata balances sit below it, which would verify nothing)")(
      s"""SELECT user_id, day, delta_c FROM (
         |  SELECT user_id, day, bal_c - lag(bal_c) OVER (PARTITION BY user_id ORDER BY day) AS delta_c
         |  FROM (SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         |               CAST(sum(${centsSql("value")}) AS BIGINT) AS bal_c
         |        FROM events GROUP BY 1, 2))
         |WHERE abs(delta_c) >= 20000
         |""".stripMargin) { (s, dir) =>
      val snaps = Tables.events(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(Norms.cents(col("value"))).as("bal_c"))
      Features.whaleDeltas(snaps, Seq(col("user_id")), Seq(col("day")), col("bal_c"), 20000L)
        .select("user_id", "day", "delta_c")
    },

    // ----- D6/f6: top-holder share via a typed Aggregator (SURVEY §2.10 UDAF surface)
    QueryDef("f06_top_share",
      "largest holder's share of each event_type's total — typed Aggregator (udaf), two-long buffer, map-side combinable")(
      s"""SELECT event_type,
         |       CASE WHEN sum(bal_c) = 0 THEN 0.0
         |            ELSE round(CAST(max(bal_c) AS DOUBLE) / CAST(sum(bal_c) AS DOUBLE), 6)
         |       END AS top_share
         |FROM (SELECT event_type, user_id, CAST(sum(${centsSql("value")}) AS BIGINT) AS bal_c
         |      FROM events GROUP BY 1, 2)
         |GROUP BY 1
         |""".stripMargin) { (s, dir) =>
      val perUser = Tables.events(s, dir)
        .groupBy("event_type", "user_id")
        .agg(sum(Norms.cents(col("value"))).as("bal_c"))
      perUser.groupBy("event_type")
        .agg(Features.topShare(col("bal_c")).as("_ts"))
        .select(col("event_type"), round(col("_ts"), 6).as("top_share"))
    },

    // ----- D6/f7: per-user EWMA of the trailing 20 observations
    QueryDef("f07_ewma",
      "exponentially weighted moving average (alpha 0.2) of each user's last 20 values — total-order sort, first-element-seeded left fold")(
      s"""WITH e AS (SELECT user_id, ts, event_id, ${centsSql("value")} AS vc FROM events),
         |g AS (SELECT user_id, list(CAST(vc AS DOUBLE) ORDER BY ts, event_id) AS l
         |      FROM e GROUP BY 1),
         |t AS (SELECT user_id, l[greatest(len(l) - 19, 1):len(l)] AS lw FROM g)
         |SELECT user_id, CAST(len(lw) AS BIGINT) AS n_obs,
         |       round(list_reduce(lw, (acc, x) -> 0.2 * x + 0.8 * acc), 6) AS ewma
         |FROM t
         |""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir).select(col("user_id"), col("ts"),
        col("event_id"), Norms.cents(col("value")).as("vc"))
      Features.ewma(e, Seq(col("user_id")), Seq(col("ts"), col("event_id")),
          col("vc"), window = 20, alpha = 0.2)
        .select("user_id", "n_obs", "ewma")
    },

    // ----- D6/f5: participant concentration (HHI)
    QueryDef("f05_concentration_hhi",
      "Herfindahl index per event_type from exact integer sums")(
      s"""SELECT event_type, CAST(total_c AS BIGINT) AS total_c, participants,
         |       round(CAST(s2 AS DOUBLE) / (CAST(total_c AS DOUBLE) * CAST(total_c AS DOUBLE)), 8) AS hhi
         |FROM (SELECT event_type, sum(bal_c) AS total_c, count(*) AS participants,
         |             sum(CAST(bal_c AS DECIMAL(19,0)) * CAST(bal_c AS DECIMAL(19,0))) AS s2
         |      FROM (SELECT event_type, user_id, CAST(sum(${centsSql("value")}) AS BIGINT) AS bal_c
         |            FROM events GROUP BY 1, 2)
         |      GROUP BY 1)
         |""".stripMargin) { (s, dir) =>
      val perUser = Tables.events(s, dir)
        .groupBy("event_type", "user_id")
        .agg(sum(Norms.cents(col("value"))).as("bal_c"))
      Features.hhi(perUser, Seq(col("event_type")), col("bal_c"))
        .select("event_type", "total_c", "participants", "hhi")
    }
  )
}
