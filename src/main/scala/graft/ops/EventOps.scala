package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-event projections, filters and demux (SURVEY.md P2, P9, P10,
  * P12, P13; reference `producers/coinbase_producer.py:43-48`,
  * `producers/polymarket_ws_manager.py:48-162`,
  * `producers/user_positions_tracker.py:81-88`).
  *
  * All pure narrow transformations (filter/project) — no shuffle, fully
  * codegen'd, scale linearly with input splits.
  */
object EventOps {

  /** P2: last-value-wins rate decimation to one row per (key, bucket)
    * (reference `producers/coinbase_producer.py:43-48`). Latest by
    * `ord` columns wins; ties broken by the trailing ord columns, so the
    * result is deterministic under any partitioning. Implemented as
    * max_by over a single hash aggregation — one shuffle on the group
    * keys, map-side partial aggregation keeps shuffle volume at one row
    * per key per bucket regardless of input rate. */
  def throttle(df: DataFrame, keys: Seq[Column], bucket: Column,
               ord: Seq[Column], payload: Seq[(String, Column)]): DataFrame = {
    val ordKey = struct(ord: _*)
    val aggs = payload.map { case (n, c) => max_by(c, ordKey).as(n) }
    df.groupBy(keys :+ bucket: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** P9: outcome-index decode (reference `producers/user_positions_tracker.py:87-88`). */
  def outcomeDecode(idx: Column): Column =
    when(idx === 0, "YES").otherwise("NO")

  /** P10: positive-balance filter (reference `producers/user_positions_tracker.py:81-85`). */
  def positiveBalance(df: DataFrame, balance: Column): DataFrame =
    df.filter(balance > 0)

  /** P12 + P13: 4-way event-type demux into a unified schema with an
    * unknown-event catch-all that retains the raw payload (reference
    * `producers/polymarket_ws_manager.py:48-162`). `branches` maps
    * event-type literal -> projected detail column. */
  def demux(df: DataFrame, typeCol: Column,
            branches: Seq[(String, Column)], rawCol: Column): (Column, Column) = {
    val known = branches.map(_._1)
    val kind = branches.foldLeft(null.asInstanceOf[Column]) { (acc, b) =>
      if (acc == null) when(typeCol === b._1, b._1) else acc.when(typeCol === b._1, b._1)
    }.otherwise("unknown")
    val detail = branches.foldLeft(null.asInstanceOf[Column]) { (acc, b) =>
      if (acc == null) when(typeCol === b._1, b._2) else acc.when(typeCol === b._1, b._2)
    }.otherwise(rawCol) // P13: unknown events keep the raw payload
    (kind, detail)
  }
}

/** A6/A8: table-generating ops — explode packed event arrays, keep BUY
  * side only (reference `producers/polymarket_ws_manager.py:113-131`,
  * `producers/user_positions_tracker.py:78-105`). */
object PriceChanges {

  /** Explode `changes` (array<struct>) one row per element, keeping only
    * `side == keepSide`. Catalyst pushes the post-explode filter into
    * the generate via array `filter()` here — we filter *before*
    * exploding so the generator emits half the rows up front. */
  def explodeSide(df: DataFrame, changes: Column, keepSide: String,
                  keep: Seq[Column]): DataFrame =
    df.select(keep :+ explode(filter(changes, _.getField("side") === keepSide)).as("c"): _*)

  /** A8: positions snapshot fan-out — each poll's array-of-position
    * structs becomes one typed row per position, and a missing/empty
    * snapshot still yields ONE marker row (explode_outer), the P15
    * empty-snapshot interplay (reference
    * `producers/user_positions_tracker.py:78-105` + `:64-76`). `grid` is
    * the expected (key…) universe; `packed` carries `positions`. */
  def snapshotFanout(grid: DataFrame, packed: DataFrame,
                     keyCols: Seq[String], positions: Column): DataFrame =
    grid.join(packed, keyCols, "left")
      .select(keyCols.map(col) :+ explode_outer(positions).as("p"): _*)
}

/** Point-in-interval RANGE JOIN, bin-bucketed. A raw theta-join
  * (`at >= lo && at < hi`) has no equi-key, so Spark plans a
  * BroadcastNestedLoopJoin — O(points × intervals), a non-starter at
  * scale. Binning converts it to an equi-join: points key on
  * floor(ts / bin); each interval explodes into the bins it covers
  * (bounded by interval span / bin size), and the exact containment
  * predicate filters the candidates after the join. Shuffle keys grow
  * with the time domain, so buckets stay bounded — same contract as the
  * LSH band joins. Pick `binSeconds` ≈ the typical interval span so
  * intervals explode into O(1) bins. */
object RangeJoin {
  def binned(points: DataFrame, at: Column, intervals: DataFrame,
             lo: Column, hi: Column, binSeconds: Long): DataFrame = {
    val pb = points.withColumn("_bin", floor(unix_timestamp(at) / binSeconds))
    val ib = intervals
      .withColumn("_bin", explode(sequence(
        floor(unix_timestamp(lo) / binSeconds),
        floor(unix_timestamp(hi) / binSeconds))))
    pb.join(ib, Seq("_bin")).filter(at >= lo && at < hi).drop("_bin")
  }
}

/** A7/O2: top-K per group, the positions leaderboard (reference
  * `producers/user_positions_tracker.py:30-47`: GraphQL
  * `orderBy: balance, first: 1000` pushed down).
  *
  * Low-cardinality keys are safe here WITHOUT manual salting: Catalyst's
  * InferWindowGroupLimit plans a `WindowGroupLimit` BELOW the exchange
  * (verified via ExplainAudit — Sort+WindowGroupLimit on the map side),
  * so every input split pre-truncates to its local top-K before the
  * shuffle and the per-key post-shuffle set is ≤ K × numInputPartitions
  * rows, never the key's full row count. A hand-rolled salted two-phase
  * variant was measured to only add a second shuffle on top of the same
  * pre-truncation. For a single global group use
  * `df.orderBy(...).limit(k)` (TakeOrderedAndProject) instead.
  */
object TopK {
  def perGroup(df: DataFrame, keys: Seq[Column], ord: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(ord: _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k).drop("_rn")
  }
}

/** J2: linear as-of join — each probe row gets the latest build row of
  * the same key with build.ts <= probe.ts (reference silver "Cleaned &
  * Joined" layer, `README.md:56,221-229`: BTC price tick aligned to its
  * market window).
  *
  * Scale shape: tag both sides, union, ONE window per key ordered by
  * (ts, side, tiebreak) carrying `last(build_payload, ignoreNulls)` —
  * linear in |probe| + |build| with a single shuffle on the key. The
  * naive form (theta-join on ts <= ts then rank) materializes
  * Σ(probe_k × build_k) intermediate rows — quadratic in per-key history
  * and fatal for a hot key at 100× scale.
  */
object AsOf {
  /** @param probe    rows asking "latest build row as of my ts"
    * @param build    rows providing the payload
    * @param key      equi-join key name present on both sides
    * @param probeTs  probe timestamp column name
    * @param buildTs  build timestamp column name (<= probeTs matches; ties
    *                 on equal ts count as matched, build sorts first)
    * @param buildTie extra build ordering columns — among equal buildTs the
    *                 row greatest by these wins (must be build columns)
    * @param payload  build columns to carry onto each probe row
    */
  def join(probe: DataFrame, build: DataFrame, key: String,
           probeTs: String, buildTs: String, buildTie: Seq[String],
           payload: Seq[String]): DataFrame = {
    val pCols = probe.columns.filter(_ != key).toSeq
    val payNames = (buildTs +: payload).distinct
    val b = build.select(
      Seq(col(key), col(buildTs).as("_ts"), lit(0).as("_side"),
        (if (buildTie.isEmpty) lit(0) else struct(buildTie.map(col): _*)).as("_tie"),
        struct(payNames.map(col): _*).as("_pay")) ++
        pCols.map(c => lit(null).cast(probe.schema(c).dataType).as(c)): _*)
    val p = probe.select(
      Seq(col(key), col(probeTs).as("_ts"), lit(1).as("_side"),
        lit(null).cast(b.schema("_tie").dataType).as("_tie"),
        lit(null).cast(b.schema("_pay").dataType).as("_pay")) ++
        pCols.map(col): _*)
    val w = Window.partitionBy(col(key)).orderBy(col("_ts"), col("_side"), col("_tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.unionByName(p)
      .withColumn("_last", last(col("_pay"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1 && col("_last").isNotNull)
      .select(pCols.map(col) ++ payload.map(c => col(s"_last.$c").as(c)): _*)
  }
}

/** P7/P8: market-winner derivation (reference
  * `producers/market_resolution.py:41,77-101`). Float equality on 1.0 is
  * intentional — the upstream API returns the literal "1". */
object Resolution {
  /** `resolvedAt` is the exact resolved-price constant (1.0 in the
    * reference — the API returns the literal "1"; float equality kept). */
  def winner(noPrice: Column, yesPrice: Column, resolvedAt: Double = 1.0): Column =
    when(noPrice === resolvedAt, "Down")
      .when(yesPrice === resolvedAt, "Up")
      .otherwise("Unknown")

  /** Resolution gate: closed AND uma-resolved (reference `market_resolution.py:41`). */
  def resolvedGate(df: DataFrame, closed: Column, status: Column): DataFrame =
    df.filter(closed && status === "resolved")
}

/** P3: discovery filter (reference `producers/market_discovery.py:35-73`). */
object Discovery {

  /** P3: case-insensitive keyword containment. */
  def keywordFilter(df: DataFrame, text: Column, keywords: Seq[String]): DataFrame =
    df.filter(keywords.map(k => lower(text).contains(k)).reduce(_ || _))
}
