package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick machinery (x114): automaton semantics (overlaps, nested
  * dictionary patterns), the expression's null/literal contracts, and
  * the blocklistScan operator end to end. */
class AhoCorasickSpec extends SparkSpec {
  import spark.implicits._

  private def counts(text: String, pats: String*): Seq[Long] =
    new AcAutomaton(pats.toArray)
      .matchCounts(UTF8String.fromString(text)).toLongArray().toSeq

  test("overlapping occurrences each count (one per end position)") {
    assert(counts("aaaa", "aa") === Seq(3L))
    assert(counts("ababab", "abab") === Seq(2L))
  }

  test("nested dictionary patterns both fire via suffix-output merge") {
    // 'she' contains 'he'; 'hers' shares the 'he' prefix
    assert(counts("ushers", "he", "she", "hers", "his") ===
      Seq(1L, 1L, 1L, 0L))
    assert(counts("she said he heard", "he", "she") === Seq(3L, 1L))
  }

  test("single pass matches P independent scans on mixed text") {
    val text = "the slow table holds a scan part and low art values"
    val pats = Seq("able", "art", "can", "low", "slow", "table", "value")
    val expected = pats.map { p =>
      // overlap-free reference count by position scan
      (0 to text.length - p.length).count(i => text.startsWith(p, i)).toLong
    }
    assert(counts(text, pats: _*) === expected)
  }

  test("byte-level matching is exact for multi-byte UTF-8 patterns") {
    assert(counts("café café", "é", "café") === Seq(2L, 2L))
    assert(counts("ééé", "éé") === Seq(2L))
    // CJK (3-byte) pattern inside mixed text
    assert(counts("a世界 b世界", "世界") === Seq(2L))
  }

  test("property: DFA counts equal the naive position scan on sampled texts") {
    // deterministic Lehmer stream; small alphabet maximizes overlaps,
    // nested patterns, and failure-link traffic
    var state = 12345L
    def nxt(n: Int): Int = {
      state = state * 48271L % 2147483647L
      (state % n).toInt
    }
    val alpha = "abc"
    val pats = Array("a", "ab", "ba", "aba", "bab", "abc", "cc")
    val auto = new AcAutomaton(pats)
    (1 to 200).foreach { _ =>
      val text = Array.fill(nxt(40) + 1)(alpha(nxt(3))).mkString
      val expected = pats.map { p =>
        (0 to text.length - p.length).count(i => text.startsWith(p, i)).toLong
      }.toSeq
      val got = auto.matchCounts(UTF8String.fromString(text)).toLongArray().toSeq
      assert(got === expected, s"text=$text")
    }
  }

  test("AcAutomaton rejects empty and duplicate pattern sets") {
    intercept[IllegalArgumentException](new AcAutomaton(Array.empty))
    intercept[IllegalArgumentException](new AcAutomaton(Array("a", "")))
    intercept[IllegalArgumentException](new AcAutomaton(Array("a", "a")))
  }

  test("expression: null text -> null; codegen path over a DataFrame") {
    val df = Seq(Some("she said he"), None).toDF("t")
      .select(functions.ac_match_counts(col("t"), Seq("he", "she")).as("c"))
    val rows = df.collect()
    assert(rows(0).getSeq[Long](0) === Seq(2L, 1L))
    assert(rows(1).isNullAt(0))
  }

  test("blocklistScan aggregates docs-hit and total hits per pattern") {
    val docs = Seq(
      "the slow table",   // slow(1)+low(1), table(1)+able(1)
      "low value scan",   // low, value, can (inside scan)
      "nothing here"
    ).toDF("text")
    val got = graft.text.TextOps.blocklistScan(docs, col("text"),
        Seq("able", "can", "low", "slow", "table", "value"))
      .orderBy("pattern")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq(
      ("able", 1L, 1L), ("can", 1L, 1L), ("low", 2L, 2L),
      ("slow", 1L, 1L), ("table", 1L, 1L), ("value", 1L, 1L)))
  }
}
