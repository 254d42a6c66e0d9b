package graft.silver

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The silver layer: typed, cleaned projections of bronze JSON rows
  * (SURVEY.md D1/D2; reference `data/polymarket_analytics/models/silver/`).
  *
  * Bronze rows are `(id, ingested_at, payload STRING)` — schema-on-read.
  * D1 recovers typed columns with `from_json` (PERMISSIVE: malformed
  * payloads null out and are filtered, replacing the reference's
  * skip-bad-message policy, `consumers/db_writer.py:66-73`).
  *
  * D2 (incremental high-watermark) is what Structured Streaming
  * checkpointing gives us natively; the batch analog filters on
  * `ingested_at > (select max(...) from target)`. The watermark subquery
  * is a 1-row aggregate — broadcast, never a shuffle of the big side.
  */
object Silver {

  /** D1: parse + typed projection. `fields` maps output name -> cast type
    * applied to the parsed struct's field of the same name. */
  def project(bronze: DataFrame, payload: Column, schema: StructType,
              fields: Seq[(String, DataType)], keep: Seq[Column]): DataFrame = {
    val parsed = bronze.withColumn("_p", from_json(payload, schema))
    parsed
      .filter(col("_p").isNotNull) // P14 non-dict guard / corrupt-record drop
      .select(keep ++ fields.map { case (n, t) => col(s"_p.$n").cast(t).as(n) }: _*)
  }

  /** W7/P14: keep-and-flag variant of [[project]] matching the reference's
    * keep-everything contract (`consumers/db_writer.py:66-73` skips the
    * insert but logs and continues; unknown events are persisted at
    * `producers/polymarket_ws_manager.py:152-162`). Malformed payloads are
    * NOT dropped: typed fields null out and the raw payload surfaces in
    * `_corrupt_record`, so a replay/repair job can target them. */
  def projectKeepCorrupt(bronze: DataFrame, payload: Column, schema: StructType,
                         fields: Seq[(String, DataType)], keep: Seq[Column]): DataFrame = {
    // PERMISSIVE from_json yields an all-null struct (not NULL) for
    // malformed input, so corruption is detected via the dedicated
    // corrupt-record column, not struct nullness.
    val withCr = schema.add(StructField("_corrupt_record", StringType))
    val parsed = bronze.withColumn("_p",
      from_json(payload, withCr,
        Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
    parsed.select(keep ++
      fields.map { case (n, t) => col(s"_p.$n").cast(t).as(n) } :+
      col("_p._corrupt_record").as("_corrupt_record"): _*)
  }

  /** D2: batch high-watermark increment with dbt `{{ this }}` semantics
    * (`models/silver/btc_prices.sql:17-19`): keep SOURCE rows newer than
    * the TARGET table's max of `watermarkCol` minus `lagBack` (late-data
    * grace) — "rows not yet loaded", not "last N days of source". The
    * watermark aggregate is a single row; Spark broadcasts it. On first
    * load (empty target) the null watermark passes everything through.
    * `d06`'s max_by MERGE is the companion upsert half. */
  /** D7: dbt-snapshot (SCD type 2) history build with the `check`
    * strategy — the reference's dbt project declares a snapshot path
    * (`data/polymarket_analytics/dbt_project.yml:19`) for exactly this:
    * turn an append-only change log into validity-interval versions of
    * a slowly-changing attribute. A row OPENS a new version iff it is
    * the key's first row or its tracked value differs (null-safe `<=>`,
    * so null→null is NOT a change) from the previous log row; each
    * version carries `valid_from` (opening row's ts), `valid_to` (next
    * version's ts, null while current — dbt's `dbt_valid_to` shape),
    * `is_current`, the count of collapsed source rows, and the opening
    * row's id as a deterministic version anchor.
    *
    * Ordering within a key is (ts, tiebreak) — the tiebreak (a unique
    * id) makes identical-timestamp bursts deterministic, which the
    * adversarial events sweep plants on purpose.
    *
    * Scale shape: every window below partitions by the SAME key, so the
    * whole operator is ONE hash exchange of the log; the version-close
    * window runs on the already-partitioned opens subset (filter
    * preserves distribution — no second shuffle; pinned in
    * SilverSpec). State per key is zero — this is pure windowing, not
    * mapGroups — so skewed keys degrade to a big sort, not OOM. */
  def scd2Snapshot(changeLog: DataFrame, key: Column, tracked: Column,
                   ts: Column, tiebreak: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val src = changeLog.select(key.as("k"), tracked.as("v"), ts.as("ts"),
      tiebreak.as("tb"))
    val byKey = Window.partitionBy(col("k")).orderBy(col("ts"), col("tb"))
    val keyAll = Window.partitionBy(col("k"))
    val marked = src
      .withColumn("rn", row_number().over(byKey))
      .withColumn("pv", lag(col("v"), 1).over(byKey))
      .withColumn("tot", count(lit(1)).over(keyAll))
      .withColumn("is_open", col("rn") === 1 || !(col("v") <=> col("pv")))
    val opens = marked.filter(col("is_open"))
    val byVer = Window.partitionBy(col("k")).orderBy(col("rn"))
    opens
      .withColumn("valid_to", lead(col("ts"), 1).over(byVer))
      .withColumn("next_rn", lead(col("rn"), 1).over(byVer))
      .select(col("k").as("key"), col("v").as("tracked"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"),
        (coalesce(col("next_rn"), col("tot") + 1) - col("rn"))
          .cast(LongType).as("n_source_rows"),
        col("tb").as("anchor_id"))
  }

  /** D8: point-in-time lookup against an SCD2 history ([[scd2Snapshot]]
    * output) — label every fact with the dimension version in force at
    * its timestamp, the query a snapshot table exists to answer.
    *
    * Zero-duration versions (a same-timestamp burst opens and
    * immediately closes them; valid_to == valid_from) are filtered out
    * first — only the burst's last version was ever observable, and
    * dropping them makes valid_from unique per key, so the as-of match
    * is total-order deterministic in BOTH engines (DuckDB's ASOF JOIN
    * has no tiebreak for duplicate build timestamps).
    *
    * Scale shape: [[graft.ops.AsOf.join]]'s union + key-windowed
    * carry-forward — ONE hash exchange of facts ∪ versions, no range
    * join (Spark would plan a per-key nested loop), state zero. A
    * version opening at exactly the fact's ts counts as in force
    * (build sorts first on ties), matching ASOF's >= semantics.
    * `facts` must carry a `key` column; returns the probe columns plus
    * (tracked, anchor_id); facts before their key's first version drop
    * (inner as-of semantics).
    *
    * NULL keys match NOTHING — SQL join semantics, not window-grouping
    * semantics. [[scd2Snapshot]] deliberately gives a NULL-keyed entity
    * a history (window partitioning groups NULLs, both engines agree);
    * but a LOOKUP is a join, and the union + carry-forward trick would
    * silently diverge from every SQL engine's equi-join here (found by
    * the adversarial null-user events sweep: 25 extra Spark rows vs the
    * ASOF oracle). Both sides filter, so the NULL-key version rows don't
    * ride the exchange either. */
  def pointInTime(facts: DataFrame, probeTs: String,
                  versions: DataFrame): DataFrame = {
    val vv = versions
      .filter(col("key").isNotNull &&
        (col("valid_to").isNull || col("valid_to") > col("valid_from")))
      .select(col("key"), col("valid_from"), col("tracked"), col("anchor_id"))
    graft.ops.AsOf.join(facts.filter(col("key").isNotNull), vv,
      key = "key", probeTs = probeTs,
      buildTs = "valid_from", buildTie = Seq("anchor_id"),
      payload = Seq("tracked", "anchor_id"))
  }

  /** D9: dbt's generic schema-test battery — the four canonical tests
    * every dbt project declares (`unique`, `not_null`, `relationships`,
    * `accepted_values`), each with dbt's own violation-row semantics:
    *  - `unique`: distinct NON-NULL key VALUES appearing more than once
    *    (dbt's test query filters `where column is not null` then
    *    HAVING count>1 — one row per duplicated value; nulls are
    *    not_null's job, so two null keys are NOT a unique violation);
    *  - `not_null`: rows where the column is null;
    *  - `relationships`: child rows whose non-null FK has no parent
    *    (dbt skips null FKs — a null never orphans);
    *  - `accepted_values`: distinct non-null VALUES outside the set.
    * Output: (test, n_violations, passed) — passed iff 0, dbt's gate.
    *
    * Scale shape: `unique` is one map-side-combinable groupBy on the
    * key; `relationships` is one LEFT ANTI join (strategy AQE's call —
    * a dim-sized parent broadcasts); `not_null`/`accepted_values` are
    * single-scan conditional aggregates. Nothing collects, nothing is
    * corpus-bounded on the driver; the four one-row results union. */
  def schemaTests(rows: DataFrame, uniqueKey: Column, requiredCol: Column,
                  fk: Column, parentKeys: DataFrame,
                  acceptedCol: Column, accepted: Seq[String]): DataFrame = {
    require(accepted.nonEmpty, "schemaTests: empty accepted_values set")
    val u = rows.filter(uniqueKey.isNotNull)
      .groupBy(uniqueKey.as("_v")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") > 1)
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("unique").as("test"), col("n_violations"))
    val nn = rows
      .agg(count(when(requiredCol.isNull, 1)).as("n_violations"))
      .select(lit("not_null").as("test"), col("n_violations"))
    val rel = rows.select(fk.as("_v")).filter(col("_v").isNotNull)
      .join(parentKeys.select(col(parentKeys.columns.head).as("_v")),
        Seq("_v"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("relationships").as("test"), col("n_violations"))
    val av = rows.select(acceptedCol.as("_v"))
      .filter(col("_v").isNotNull && !col("_v").isin(accepted: _*))
      .agg(countDistinct(col("_v")).as("n_violations"))
      .select(lit("accepted_values").as("test"), col("n_violations"))
    u.unionByName(nn).unionByName(rel).unionByName(av)
      .select(col("test"), col("n_violations"),
        (col("n_violations") === 0).as("passed"))
  }

  def incrementalAfter(source: DataFrame, target: DataFrame,
                       watermarkCol: Column, lagBack: String): DataFrame = {
    val mx = target.agg(max(watermarkCol).as("_hwm"))
    source.crossJoin(broadcast(mx))
      .filter(col("_hwm").isNull ||
        watermarkCol > col("_hwm") - expr(s"INTERVAL $lagBack"))
      .drop("_hwm")
  }

  /** D10: schema-drift detection over schema-on-read bronze — per
    * `bucket`, the ARRIVAL RATE of every declared payload key, plus any
    * undeclared key that starts arriving. The failure class this
    * surfaces is silent on both sides of a fixed-schema silver: a
    * producer renames a key and `from_json` just nulls the old field
    * forever (the reference itself shipped this accident — its
    * `payload->>'event_type'` index, `init.sql:44`, indexes a key its
    * own producer never sends; the real key is `type`,
    * `producers/polymarket_ws_manager.py:91`). Key PRESENCE is read
    * from the raw JSON (`json_object_keys`), deliberately not from
    * post-projection nullness — a key that arrives with a null VALUE is
    * still arriving; only the envelope changing is drift.
    *
    * Output: one row per (bucket, key) — declared keys appear in every
    * bucket (zero-filled when absent: "stopped arriving" IS the
    * signal); undeclared keys appear where observed. `flagged` trips
    * when a declared key's rate falls below `minExpectedRate` or an
    * undeclared key's rate reaches `novelRate`. Malformed / non-object
    * payloads count toward `n_rows` and contribute no keys.
    *
    * Scale shape: two bucket-keyed hash aggregations (row totals; key
    * presence via one explode of the outer key list — bounded by keys
    * per envelope, single-digit in practice), then a join of two
    * bucket-count-sized aggregates; the declared-key frame is a
    * crossJoin(broadcast(literal)) of a handful of names. Nothing
    * corpus-sized is collected, sorted, or broadcast. */
  def keyArrival(bronze: DataFrame, payload: Column, bucket: Column,
                 expectedKeys: Seq[String], minExpectedRate: Double = 0.5,
                 novelRate: Double = 0.05): DataFrame = {
    require(expectedKeys.nonEmpty, "keyArrival: empty expected-key set")
    val spark = bronze.sparkSession
    import spark.implicits._
    // ONE aggregation pass over the bronze scan (r20, was two — the
    // totals and per-key branches each re-ran the JSON key extraction,
    // profiled as twin near-second stages): a sentinel "row" marker is
    // prepended to every row's (possibly absent) key set, so the same
    // (bucket, marker, key) count yields per-key arrivals AND the
    // all-rows totals (invalid payloads produce a null key set → only
    // the sentinel, exactly the oracle's count(*) semantics). The marker
    // is a STRUCT FIELD, not a magic string key (r20 advice: a NUL-
    // prefixed key is still a legal escaped JSON object key, which would
    // have been folded into n_rows instead of counted as a novel key —
    // the struct marker cannot collide with any payload). The counted
    // table is days x keys — cacheable at any scale — and is persisted
    // so the consumers below share one aggregation pass. The persist is
    // lazy: the first scan of it fills the cache (each cached partition
    // is computed once), so building this frame starts no Spark job.
    // CACHE LIFETIME: the persist is read by the returned lazy frame,
    // so it cannot unpersist here — callers clear it after consuming the
    // result (Verify/Bench clearCache per query; the Dedup class-level
    // contract).
    val keyStruct = "array<struct<r:boolean,key:string>>"
    val counted = bronze
      .select(bucket.as("bucket"),
        explode(concat(
          array(struct(lit(true).as("r"),
            lit(null).cast(StringType).as("key"))),
          coalesce(
            transform(json_object_keys(payload),
              k => struct(lit(false).as("r"), k.as("key"))),
            array().cast(keyStruct)))).as("k"))
      .groupBy(col("bucket"), col("k.r").as("r"), col("k.key").as("key"))
      .agg(count(lit(1)).as("n"))
      .persist()
    val totals = counted.filter(col("r"))
      .select(col("bucket"), col("n").as("n_rows"))
    val present = counted.filter(!col("r"))
      .select(col("bucket"), col("key"), col("n").as("n_present"))
    val expected = totals
      .crossJoin(broadcast(expectedKeys.toDF("key")))
      .join(present, Seq("bucket", "key"), "left")
      .select(col("bucket"), col("key"), lit("expected").as("kind"),
        coalesce(col("n_present"), lit(0L)).as("n_present"), col("n_rows"))
    val novel = present
      .filter(!col("key").isin(expectedKeys: _*))
      .join(totals, "bucket")
      .select(col("bucket"), col("key"), lit("novel").as("kind"),
        col("n_present"), col("n_rows"))
    expected.unionByName(novel)
      .withColumn("rate",
        round(col("n_present").cast(DoubleType) / col("n_rows"), 4))
      .withColumn("flagged",
        when(col("kind") === "expected",
          col("rate") < minExpectedRate)
          .otherwise(col("rate") >= novelRate))
  }
}
