package graft

import java.nio.file.{Files, Paths}
import java.util.Locale

/** Driver-run benchmark: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * (or, given query-name prefixes as arguments, just those) by one rule:
  * an untimed warm-up, then `Reps` timed reps per query with the cache
  * cleared between them, reported as their median. Prints ONE JSON line
  * and writes the full record, every rep included, to one artifact per
  * (sf, cpus). Any failed query exits nonzero: a broken query must never
  * make the bench look faster. */
object Bench {
  val Reps = 3

  /** One query's timed reps; `ok` only when every rep ran. */
  final case class Row(name: String, reps: Seq[Double], ok: Boolean) {
    def sec: Double = median(reps)
  }

  def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }

  /** The query's unique prefix before the first '_' ("x29_dup_ngrams" ->
    * "x29"), the key of the stdout line. */
  def code(name: String): String = name.takeWhile(_ != '_')

  def total(rows: Seq[Row]): Double = rows.map(_.sec).sum

  def exitCode(rows: Seq[Row]): Int = if (rows.forall(_.ok)) 0 else 1

  /** The artifact path when SPARK_GRAFT_BENCH_OUT is unset: one per
    * (sf dir name, cpus), so a run never replaces another core count's
    * or tier's record; a run over query prefixes adds `.subset`. */
  def defaultOut(sfDir: String, cpus: Int, subset: Boolean): String =
    s"BENCH_${sfName(sfDir)}.c$cpus" + (if (subset) ".subset" else "") + ".json"

  private def sfName(sfDir: String): String = new java.io.File(sfDir).getName

  private def f3(v: Double): String = "%.3f".formatLocal(Locale.ROOT, v)
  private def str(s: String): String = "\"" + s + "\""

  /** The stdout line: every query's median by short code, and the codes
    * of the failed ones. */
  def line(rows: Seq[Row], sfDir: String): String = {
    val qs = rows.map(r => str(code(r.name)) + ":" + f3(r.sec))
    val failed = rows.filterNot(_.ok).map(r => str(code(r.name)))
    s"""{"metric":"total","value":${f3(total(rows))},""" +
      s""""queries":${qs.mkString("{", ",", "}")},""" +
      s""""failed":${failed.mkString("[", ",", "]")},""" +
      s""""sf":${str(sfName(sfDir))}}"""
  }

  /** The full record: run-level facts, then every query's reps, median
    * and status under its full name. */
  def artifact(rows: Seq[Row], ts: String, sfDir: String, cpus: Int,
               probeSec: Double, load1: Double): String = {
    val detail = rows.map { r =>
      s"""  ${str(r.name)}: {"sec": ${f3(r.sec)}, "ok": ${r.ok}, """ +
        s""""reps": ${r.reps.map(f3).mkString("[", ", ", "]")}}"""
    }.mkString("{\n", ",\n", "\n}")
    s"""{
       |"ts": ${str(ts)},
       |"sf": ${str(sfDir)},
       |"cpus": $cpus,
       |"total_sec": ${f3(total(rows))},
       |"probe_sec": ${f3(probeSec)},
       |"load1": ${"%.2f".formatLocal(Locale.ROOT, load1)},
       |"queries": $detail
       |}
       |""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.hostCpus()
    // read before this JVM adds load of its own; recorded, never acted on
    val load1 = try Files.readString(Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble catch { case _: Throwable => -1.0 }
    val spark = GraftSession.build(cpus)
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val queries =
      if (args.isEmpty) all
      else all.filter(q => args.exists(q._1.startsWith))
    require(queries.nonEmpty, s"no query matches ${args.mkString(" ")}")
    // fail before any query runs, not after the whole suite's wall-clock
    require(all.map(q => code(q._1)).distinct.size == all.size,
      "query short codes must stay unique — rename the clashing query")
    // warm-up: exercise scan + shuffle + codegen paths once, untimed
    try SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // Fixed reference probe: a deterministic pure-compute workload (no
    // IO, no data dependence, one reduce) whose median of 3 lets
    // check_bench_delta.py divide host-speed drift out of two runs.
    // bit_xor, not sum: ANSI mode makes a long sum of 640 M hashes
    // overflow; xor is closed over Long and just as unfoldable.
    def probe(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 640000000L, 1L, cpus)
        .selectExpr("bit_xor(xxhash64(id)) as s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val probeSec =
      try { probe(); median(Seq.fill(3)(probe())) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] reference probe FAILED: $e"); -1.0
      }
    val rows = queries.map { case (name, fn) =>
      val reps = Seq.fill(Reps) {
        val t0 = System.nanoTime()
        // toRdd.count() forces full evaluation of the physical plan —
        // df.count() would let Catalyst prune every projected column and
        // under-measure pure-projection queries as a metadata row count
        val ok =
          try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // CacheManager dedupes identical plans, so without this a rep
        // would read the previous rep's persist() caches
        spark.catalog.clearCache()
        (sec, ok)
      }
      System.gc()
      Row(name, reps.map(_._1), reps.forall(_._2))
    }
    println(line(rows, sfDir))
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      defaultOut(sfDir, cpus, subset = args.nonEmpty))
    try Files.writeString(Paths.get(out), artifact(rows,
      java.time.Instant.now().toString, sfDir, cpus, probeSec, load1))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    spark.stop()
    val rc = exitCode(rows)
    if (rc != 0) sys.exit(rc)
  }
}
