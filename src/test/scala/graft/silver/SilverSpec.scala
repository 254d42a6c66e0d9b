package graft.silver

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** D2 incremental semantics: the watermark comes from the TARGET table
  * (dbt `{{ this }}`), selecting "rows not yet loaded" — NOT "last N
  * days of source", which a source-side max would give. */
class SilverSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("incrementalAfter filters on the TARGET's high watermark, not the source's") {
    // source spans Jan 1..10; target loaded through Jan 4
    val source = (1 to 10).map(d => (d.toLong, ts(f"2024-01-$d%02d 00:00:00")))
      .toDF("id", "ingested_at")
    val target = source.filter(col("id") <= 4)
    val got = Silver.incrementalAfter(source, target, col("ingested_at"), "2 DAYS")
      .select("id").as[Long].collect().sorted
    // hwm = Jan 4; grace 2d → rows after Jan 2: ids 3..10.
    // Source-side hwm (Jan 10) would keep only ids 9,10 — the drift the
    // target-side contract exists to prevent.
    assert(got.toSeq === (3L to 10L))
  }

  test("incrementalAfter on an empty target passes everything (first load)") {
    val source = (1 to 5).map(d => (d.toLong, ts(f"2024-01-$d%02d 00:00:00")))
      .toDF("id", "ingested_at")
    val target = source.filter(col("id") < 0)
    val got = Silver.incrementalAfter(source, target, col("ingested_at"), "2 DAYS")
      .count()
    assert(got === 5L)
  }

  test("scd2Snapshot collapses runs into versions with correct intervals") {
    // key 1: A A B A  (3 versions; middle run of B, A reopens)
    // key 2: single row (1 current version)
    val log = Seq(
      (1L, "A", ts("2024-01-01 00:00:00"), 10L),
      (1L, "A", ts("2024-01-02 00:00:00"), 11L),
      (1L, "B", ts("2024-01-03 00:00:00"), 12L),
      (1L, "A", ts("2024-01-04 00:00:00"), 13L),
      (2L, "X", ts("2024-01-05 00:00:00"), 20L)
    ).toDF("k", "v", "ts", "id")
    val got = Silver.scd2Snapshot(log, col("k"), col("v"), col("ts"), col("id"))
      .orderBy("key", "valid_from")
      .select("key", "tracked", "valid_from", "valid_to", "is_current",
        "n_source_rows", "anchor_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        Option(r.getTimestamp(3)), r.getBoolean(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq === Seq(
      (1L, "A", ts("2024-01-01 00:00:00"), Some(ts("2024-01-03 00:00:00")), false, 2L, 10L),
      (1L, "B", ts("2024-01-03 00:00:00"), Some(ts("2024-01-04 00:00:00")), false, 1L, 12L),
      (1L, "A", ts("2024-01-04 00:00:00"), None, true, 1L, 13L),
      (2L, "X", ts("2024-01-05 00:00:00"), None, true, 1L, 20L)))
  }

  test("scd2Snapshot: null-safe change detection and identical-ts tiebreak") {
    val t0 = ts("2024-01-01 00:00:00")
    // null -> null is NOT a change (one version); null -> A IS.
    // All rows share one timestamp: order must come from the tiebreak id.
    val log = Seq(
      (1L, Option.empty[String], t0, 1L),
      (1L, Option.empty[String], t0, 2L),
      (1L, Option("A"), t0, 3L)
    ).toDF("k", "v", "ts", "id")
    val got = Silver.scd2Snapshot(log, col("k"), col("v"), col("ts"), col("id"))
      .orderBy("anchor_id")
      .collect().map(r => (Option(r.getString(1)), r.getLong(5), r.getLong(6)))
    assert(got.toSeq === Seq((None, 2L, 1L), (Some("A"), 1L, 3L)))
  }

  test("pointInTime labels facts with the version in force; burst versions never match") {
    // key 1 log: null@t0(id1), A@t0(id2) — a same-ts burst: the null
    // version is zero-duration (never observable), A is in force from t0
    // key 1: B opens at t2
    val t0 = ts("2024-01-01 00:00:00")
    val t1 = ts("2024-01-02 00:00:00")
    val t2 = ts("2024-01-03 00:00:00")
    val log = Seq(
      (1L, Option.empty[String], t0, 1L),
      (1L, Option("A"), t0, 2L),
      (1L, Option("B"), t2, 3L)
    ).toDF("k", "v", "ts", "id")
    val versions = Silver.scd2Snapshot(log, col("k"), col("v"), col("ts"), col("id"))
    val facts = Seq(
      (Option(1L), ts("2023-12-31 00:00:00"), 100L), // before any version: drops
      (Option(1L), t0, 101L),                        // at the burst: A, not null
      (Option(1L), t1, 102L),                        // between: still A
      (Option(1L), t2, 103L),                        // at B's open: B
      (Option.empty[Long], t1, 104L)                 // NULL key: join semantics, drops
    ).toDF("key", "fts", "fact_id")
    val got = Silver.pointInTime(facts, "fts", versions)
      .orderBy("fact_id")
      .collect().map(r => (r.getAs[Long]("fact_id"),
        r.getAs[String]("tracked"), r.getAs[Long]("anchor_id")))
    assert(got.toSeq === Seq((101L, "A", 2L), (102L, "A", 2L), (103L, "B", 3L)))
  }

  test("schemaTests: dbt violation semantics, hand-computed") {
    // id 1 duplicated (1 dup VALUE); one null type (1 row); fk 99 has
    // no parent twice (2 ROWS); bad values "x","y" (2 distinct VALUES,
    // "x" twice) — and the null fk row is NOT an orphan (dbt skips it)
    val rows = Seq(
      (1L, Option("a"), Option(10L)),
      (1L, Option("a"), Option(10L)),
      (2L, Option.empty[String], Option(10L)),
      (3L, Option("x"), Option(99L)),
      (4L, Option("x"), Option(99L)),
      (5L, Option("y"), Option.empty[Long])
    ).toDF("id", "v", "fk")
    val parent = Seq(Tuple1(10L)).toDF("pk")
    val got = Silver.schemaTests(rows, col("id"), col("v"), col("fk"),
        parent, col("v"), Seq("a", "b"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got === Map(
      "unique" -> ((1L, false)),
      "not_null" -> ((1L, false)),
      "relationships" -> ((2L, false)),
      "accepted_values" -> ((2L, false))))
    // a clean table passes all four
    val clean = Seq((1L, Option("a"), Option(10L))).toDF("id", "v", "fk")
    assert(Silver.schemaTests(clean, col("id"), col("v"), col("fk"),
      parent, col("v"), Seq("a")).collect().forall(_.getBoolean(2)))
  }

  test("schemaTests: NULL unique keys are not a unique violation (dbt filters them — nulls are not_null's job)") {
    // two NULL ids: dbt's unique test applies `where column is not null`
    // before the HAVING count>1, so the only unique violation is the
    // duplicated 7; the nulls surface through not_null on that column
    val rows = Seq(
      (Option.empty[Long], Option("a"), Option(10L)),
      (Option.empty[Long], Option("a"), Option(10L)),
      (Option(7L), Option("a"), Option(10L)),
      (Option(7L), Option("a"), Option(10L))
    ).toDF("id", "v", "fk")
    val parent = Seq(Tuple1(10L)).toDF("pk")
    val got = Silver.schemaTests(rows, col("id"), col("id"), col("fk"),
        parent, col("v"), Seq("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("unique") === 1L)   // just the value 7 — NOT the null pair
    assert(got("not_null") === 2L) // the nulls report here instead
  }

  test("scd2Snapshot plans ONE exchange (both windows + close share the key partitioning)") {
    val log = Seq((1L, "A", ts("2024-01-01 00:00:00"), 1L)).toDF("k", "v", "ts", "id")
    val plan = Silver.scd2Snapshot(log, col("k"), col("v"), col("ts"), col("id"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected a single hash exchange, plan:\n$plan")
  }

  test("keyArrival: zero-fill, envelope-not-value semantics, malformed/non-object accounting") {
    val rows = Seq(
      (1, """{"a": 1, "b": null}"""), // b arrives with null VALUE: still arriving
      (1, """{"a": 2}"""),
      (1, "not json"),                // counts toward n_rows, no keys
      (1, "[1, 2]"),                  // valid JSON, not an object: no keys
      (2, """{"c": 3}"""),            // a stops, novel c starts
      (2, null.asInstanceOf[String])  // null payload rows still count
    ).toDF("bucket", "payload")
    val got = Silver.keyArrival(rows, col("payload"), col("bucket"),
        Seq("a", "b"), minExpectedRate = 0.5, novelRate = 0.05)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getBoolean(6))).toSet
    assert(got === Set(
      (1, "a", "expected", 2L, 4L, false),
      (1, "b", "expected", 1L, 4L, true),  // 0.25 < 0.5
      (2, "a", "expected", 0L, 2L, true),  // stopped arriving: zero-filled
      (2, "b", "expected", 0L, 2L, true),
      (2, "c", "novel", 1L, 2L, true)))
  }

  test("building keyArrival starts no Spark job") {
    val rows = Seq((1, """{"a": 1}"""), (2, "not json")).toDF("bucket", "payload")
    val (df, jobs) = jobsDuring(
      Silver.keyArrival(rows, col("payload"), col("bucket"), Seq("a")))
    assert(jobs === 0)
    val got = df.select("bucket", "n_present", "n_rows").as[(Int, Long, Long)]
      .collect().toSet
    assert(got === Set((1, 1L, 1L), (2, 0L, 1L)))
    spark.catalog.clearCache()
  }
}
