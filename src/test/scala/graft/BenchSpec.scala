package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The pure parts of Bench's measurement rule: where a run's artifact
  * goes, what a query's reading is, when the run fails, and that the
  * stdout line and the artifact carry every query. */
class BenchSpec extends AnyFunSuite {
  import Bench._

  private val json = new ObjectMapper()

  test("the default path is one per (sf, cpus), and a subset run adds .subset") {
    assert(defaultOut("/data/sf0.01", 4, subset = false) === "BENCH_sf0.01.c4.json")
    assert(defaultOut("/data/sf0.01/", 4, subset = true) === "BENCH_sf0.01.c4.subset.json")
    val paths = for {
      sf <- Seq("/data/sf0.01", "/data/sf0.1", "/tmp/graft_sf1")
      cpus <- Seq(2, 4, 8, 32)
      subset <- Seq(false, true)
    } yield defaultOut(sf, cpus, subset)
    assert(paths.distinct.size === paths.size)
  }

  test("a query's reading is the median of its reps, a failed rep included") {
    assert(Reps === 3)
    assert(Row("q", Seq(0.9, 0.2, 0.4), ok = true).sec === 0.4)
    val failed = Row("q", Seq(0.05, 7.0, 0.3), ok = false)
    assert(failed.sec === 0.3)
    assert(total(Seq(failed, Row("p", Seq(1.0, 1.0, 1.0), ok = true))) === 1.3)
  }

  test("any failed query makes the run exit nonzero") {
    val good = Row("a", Seq(0.1, 0.1, 0.1), ok = true)
    val bad = Row("b", Seq(0.1, 0.1, 0.1), ok = false)
    assert(exitCode(Seq(good, good)) === 0)
    assert(exitCode(Seq(good, bad)) !== 0)
    assert(exitCode(Seq(bad)) !== 0)
  }

  test("the 152 query names are unique, so no query shadows another in the map") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size === 152)
    assert(names.diff(names.distinct).isEmpty)
    assert(SparkEntry.queries.size === names.size)
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
  }

  test("stdout line and artifact carry every query of the full suite, untruncated") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size >= 152)
    // every seventh query failed: far more than a capped list would hold
    val rows = names.zipWithIndex.map { case (n, i) =>
      Row(n, Seq(1.25, 0.5 + i, 0.75), ok = i % 7 != 0)
    }
    val out = json.readTree(line(rows, "/data/sf0.1/"))
    assert(out.get("metric").asText === "total")
    assert(out.get("sf").asText === "sf0.1")
    assert(math.abs(out.get("value").asDouble - total(rows)) < 1e-6)
    val qs = out.get("queries")
    assert(qs.fieldNames.asScala.toSeq === names.map(code))
    rows.foreach(r => assert(qs.get(code(r.name)).asDouble === r.sec, r.name))
    assert(out.get("failed").elements.asScala.map(_.asText).toSeq ===
      rows.filterNot(_.ok).map(r => code(r.name)))

    val doc = json.readTree(artifact(rows, "2026-01-01T00:00:00Z",
      "/data/sf0.1", 4, probeSec = 1.5, load1 = 0.25))
    assert(doc.fieldNames.asScala.toSeq ===
      Seq("ts", "sf", "cpus", "total_sec", "probe_sec", "load1", "queries"))
    assert(doc.get("cpus").asInt === 4)
    assert(doc.get("probe_sec").asDouble === 1.5)
    val detail = doc.get("queries")
    assert(detail.fieldNames.asScala.toSeq === names)
    rows.foreach { r =>
      val q = detail.get(r.name)
      assert(q.get("reps").elements.asScala.map(_.asDouble).toSeq === r.reps)
      assert(q.get("sec").asDouble === r.sec)
      assert(q.get("ok").asBoolean === r.ok)
    }
  }
}
