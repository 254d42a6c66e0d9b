package graft

/** Driver-run benchmark: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. A warm-up query runs untimed first so JVM/
  * codegen warm-up isn't charged to the first timed query; per-query
  * status is reported and any failure exits nonzero (a broken query must
  * never make the bench look faster). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.hostCpus()
    // Ambient host load, read at PROCESS START before this JVM creates
    // any load of its own (r17): hypervisor steal cannot see SAME-HOST
    // competitors — the r16 sf1 bench read a05/a10/d01 at 5-14× their
    // quiet-window times while a concurrent DuckDB oracle grind
    // saturated the cores at 0.16% steal. A busy ambient host marks the
    // whole artifact host_noisy (load1 is a 1-min EWMA, so it reflects
    // the minute BEFORE this process existed).
    val ambientLoad1: Double = try {
      scala.io.Source.fromFile("/proc/loadavg").getLines().next()
        .split("\\s+")(0).toDouble
    } catch { case _: Throwable => -1.0 }
    // threshold against the HOST's core count, not SPARK_GRAFT_CPUS:
    // load1 is machine-wide, and judging a 64-core host by a 4-thread
    // bench config would flag idle machines as busy (and, with the
    // overwrite hygiene below, permanently divert default-env runs)
    val hostCores = Runtime.getRuntime.availableProcessors()
    val ambientBusy = ambientLoad1 > 0.15 * hostCores
    if (ambientBusy)
      System.err.println(f"[bench] WARNING: ambient load1 $ambientLoad1%.1f " +
        s"on $cpus cpus at process start — another process is competing " +
        "for this host; readings will be marked host_noisy")
    val spark = GraftSession.build(cpus)
    // optional args: query-name prefixes ("x61 x63") time just that
    // subset — the iterate-on-one-query loop; no args = the full suite
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val queries =
      if (args.isEmpty) all
      else all.filter(q => args.exists(q._1.startsWith))
    require(queries.nonEmpty, s"no query matches ${args.mkString(" ")}")
    // fail FAST on a short-code clash (before any query runs), not at
    // report time after the whole suite's wall-clock has been spent
    require(all.map(q => q._1.takeWhile(_ != '_')).distinct.size == all.size,
      "query short codes must stay unique — rename the clashing query")
    // warm-up: exercise scan + shuffle + codegen paths once, untimed
    try SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // stage the x87/x89 media fixtures untimed: one-time corpus
    // synthesis is ingestion's cost, not the dedup queries' — a fresh
    // checkout would otherwise charge it to x87's first rep
    if (queries.exists(q => q._1.startsWith("x87") || q._1.startsWith("x89")))
      try {
        graft.multimodal.MediaFixtures.ensureImages(spark)
        graft.multimodal.MediaFixtures.ensureAudio(spark)
      } catch { case _: Throwable => () }
    // queries whose wall-clock is a sequence of driver-blocking rounds
    // (iterative checkpoint+count loops) get the median-of-reps policy.
    // x61 left the set in r16 and x63 in r17: their auto-dispatch
    // trainer runs ~2 Spark jobs total (driver merge rounds), so the
    // round-latency noise term the median policy compensated for is gone.
    val iterative = Set("x23_neardup_clusters", "x46_keep_best")
    // Hypervisor steal awareness (r14 verdict: a noisy window committed a
    // 19.4 s reading for a 3.8 s query — min-of-reps can't save a query
    // when EVERY rep lands under steal). /proc/stat's cpu line carries
    // cumulative steal jiffies; deltas around each query window give the
    // share of CPU time the hypervisor withheld while it ran.
    def cpuStat(): (Long, Long) = try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse(return (0L, 0L))
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum) // (steal, total jiffies)
    } catch { case _: Throwable => (0L, 0L) }
    def stealPct(before: (Long, Long), after: (Long, Long)): Double = {
      val dTot = after._2 - before._2
      if (dTot <= 0) 0.0 else 100.0 * (after._1 - before._1) / dTot
    }
    // Fixed reference probe (r18 verdict task 1): a deterministic pure-
    // compute workload — no IO, no data dependence, one reduce — timed
    // per bench run so round-over-round comparisons can normalize out
    // ambient host-speed drift (the r18 sf0.1 wall moved 86.6→105.8 s
    // with 89% of queries slower by a median 1.22×, including untouched
    // code: exactly the signature this probe makes measurable instead
    // of arguable). Median of 3 reps; ~1 s on a quiet 32-thread host.
    // The artifact reports the probe wall AND total/probe alongside raw
    // seconds — raw stays authoritative, normalized is the drift lens.
    def referenceProbe(): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: ANSI mode makes a long sum of 640 M hashes
      // overflow; xor is closed over Long and just as unfoldable
      spark.range(0L, 640000000L, 1L, cpus)
        .selectExpr("bit_xor(xxhash64(id)) as s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val probeSec: Double = {
      try { referenceProbe(); () } catch { case _: Throwable => () } // warm
      val reps = try Seq.fill(3)(referenceProbe()).sorted
                 catch { case e: Throwable =>
                   System.err.println(s"[bench] reference probe FAILED: $e")
                   Seq(-1.0)
                 }
      reps(reps.size / 2)
    }
    // Memory-bandwidth probe (r20 verdict task 8): the compute probe's
    // working set is cache-resident, so it under-corrects DRAM-bandwidth
    // contention — the r19-vs-r20 window dispute was undecidable from the
    // artifact because shuffle/decode-shaped queries ran 1.5-2x degraded
    // while the probe read only 1.17x. This one streams a 64 MiB array
    // per core (cpus x 64 MiB >> any LLC) sequentially, fill + 6 xor
    // passes, so its reading moves with achievable memory bandwidth.
    // Deterministic (seeded by partition id), no data dependence.
    def memProbe(): Double = {
      val t0 = System.nanoTime()
      val n = 8 * 1024 * 1024 // 8M longs = 64 MiB per task
      spark.range(0L, cpus.toLong, 1L, cpus).rdd.map { p =>
        val a = new Array[Long](n)
        var i = 0
        while (i < n) { a(i) = p * 2654435761L + i; i += 1 }
        var s = 0L
        var pass = 0
        while (pass < 6) {
          var j = 0
          while (j < n) { s ^= a(j); j += 1 }
          pass += 1
        }
        s
      }.reduce(_ ^ _)
      (System.nanoTime() - t0) / 1e9
    }
    val probeMemSec: Double = {
      try { memProbe(); () } catch { case _: Throwable => () } // warm
      val reps = try Seq.fill(3)(memProbe()).sorted
                 catch { case e: Throwable =>
                   System.err.println(s"[bench] memory probe FAILED: $e")
                   Seq(-1.0)
                 }
      reps(reps.size / 2)
    }
    // run-level steal window opens AFTER the probe (r19 advice): the
    // ~4 s probe is harness accounting, and for short filtered runs
    // (the sf10 one-query-per-JVM loop) including it would be a
    // sizeable fraction of the window — host_noisy must keep the
    // semantics of prior-round artifacts (measured queries only)
    val runStart = cpuStat()
    // Adaptive-reps measurement (r11 verdict: fixed best-of-2 could not
    // suppress this host's ambient load — identical code measured 67/104/87 s
    // across three runs). Policy: keep sampling until the reading is
    // STABLE — the two fastest reps agree within 1.5× (min policy) or all
    // reps agree within 1.5× (median policy) — capped at 5 reps; emit the
    // residual spread per query so a reader can see noise directly
    // instead of inferring it from cross-round diffs.
    val MaxReps = 5
    val StableRatio = 1.5
    // a rep taken while the hypervisor withheld > this share of CPU is
    // contaminated — it cannot corroborate a min, and a statistic built
    // only from such reps must say so (r15: x67 committed a 6.4%-steal
    // reading on min-of-2 because escalation keyed only on spread)
    val StealClean = 2.0
    val results = queries.map { case (name, fn) =>
      // toRdd.count() forces full evaluation of the physical plan —
      // df.count() would let Catalyst prune every projected column and
      // under-measure pure-projection queries as a metadata row count.
      def once(): (Double, Boolean, Double) = {
        val s0 = cpuStat()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
          }
        ((System.nanoTime() - t0) / 1e9, ok, stealPct(s0, cpuStat()))
      }
      // clear between runs, not just between queries: CacheManager
      // dedupes identical plans, so rep 2 would otherwise read rep 1's
      // materialized persist() caches and report warm-cache time for
      // every persist-using query. Intra-REP reuse (a self-join reading
      // its own persist) is part of the query and stays.
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      val steals = scala.collection.mutable.ArrayBuffer.empty[Double]
      var ok = true
      def rep(): Unit = {
        val (t, o, st) = once(); spark.catalog.clearCache()
        times += t; steals += st; ok &&= o
      }
      // stability of the statistic actually reported: min cares about the
      // two fastest samples; median cares about the whole set
      def spread(): Double = {
        val s = times.sorted
        if (s.size < 2) Double.MaxValue
        else if (iterative(name)) s.last / math.max(s.head, 1e-9)
        else s(1) / math.max(s.head, 1e-9)
      }
      def cleanReps(): Int = steals.count(_ <= StealClean)
      val qStart = cpuStat()
      val minReps = if (iterative(name)) 3 else 2
      // fail fast: a broken query (possibly the slowest in the suite)
      // must not run its multi-minute failure five times before signaling
      while (ok && times.size < minReps) rep()
      // keep sampling while unstable, while sub-second with < 3 reps
      // (one descheduled thread doubles such a reading), or while fewer
      // than TWO reps have run in a steal-clean window — a lone clean
      // sample is an uncorroborated reading, and the r14 min-policy rule
      // is that min needs a second sample to vouch for it (per-query
      // steal escalation: more reps first, median + flag only if the
      // window never clears)
      while (ok && times.size < MaxReps &&
        (spread() > StableRatio || (times.min < 1.0 && times.size < 3) ||
          cleanReps() < 2)) rep()
      // Compute-vs-dump split (r16 verdict task 2): the timed reps above
      // measure pure compute (toRdd.count — nothing is serialized to
      // disk); Verify's single-file result dump is a separate harness
      // cost. With SPARK_GRAFT_BENCH_DUMP=1 one untimed-rep-style dump
      // per query is ALSO measured — the repartition(1) parquet write
      // Verify does — so an sf1 reading like d01's can be attributed to
      // compute vs dump from the artifact instead of by conjecture.
      // per-query steal window closes BEFORE the dump below: the dump
      // is harness accounting, and steal landing only inside it must
      // not make the timed reps read as contaminated (or vice versa)
      val qSteal = stealPct(qStart, cpuStat())
      val dumpSec: Double =
        if (!sys.env.get("SPARK_GRAFT_BENCH_DUMP").contains("1") || !ok) -1.0
        else {
          val dir = java.nio.file.Files
            .createTempDirectory("bench_dump").toFile
          try {
            val t0 = System.nanoTime()
            fn(spark, sfDir).repartition(1).write.mode("overwrite")
              .parquet(s"$dir/$name")
            val t = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            t
          } catch { case _: Throwable => -1.0 }
          finally { // a 170-query sf1 run would otherwise strand GBs in /tmp
            def rm(f: java.io.File): Unit = {
              Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
            }
            rm(dir)
          }
        }
      System.gc()
      // the statistic is computed over CLEAN reps when any exist — a rep
      // measured under steal can neither be the reading nor corroborate it
      val cleanTimes = times.indices
        .collect { case i if steals(i) <= StealClean => times(i) }
        .sorted.toVector
      val sorted = times.sorted.toVector
      val basis = if (cleanTimes.nonEmpty) cleanTimes else sorted
      // Steal-aware policy escalation (r14 verdict): a min-policy
      // reading is trustworthy only if the SECOND-fastest rep
      // corroborates it — when even the two fastest reps disagree > 2×
      // after rep exhaustion, every rep (including the min) likely ran
      // under steal, so escalate to median and record the escalation.
      // Deliberately NOT max/min over all reps: that confuses rep-1
      // codegen warm-up (slow first rep, converged rest — a clean
      // window) with contamination, and systematically escalated 58
      // sub-second queries when first measured.
      val minSpread =
        if (basis.size < 2) 1.0
        else basis(1) / math.max(basis.head, 1e-9)
      // escalate when min lacks corroboration, when fewer than two clean
      // reps exist after rep exhaustion (a lone clean sample cannot
      // corroborate itself), or when no clean rep exists at all
      val escalated = ok &&
        ((!iterative(name) && basis.size >= 2 && minSpread > 2.0) ||
          cleanTimes.size < 2)
      val value =
        if (!ok) times.max
        else if (iterative(name) || escalated) basis(basis.size / 2)
        else basis.head
      (name, value, ok, times.size,
        if (times.size < 2) 1.0 else spread(), qSteal, escalated,
        cleanTimes.size, dumpSec)
    }
    // The driver keeps only a ~2000-char tail of stdout; the JSON line must
    // fit inside it or it can never be parsed. 2-decimal per-query times
    // (1 decimal loses all regression signal on the many sub-50 ms
    // queries) stay, but with 74 queries the full names alone blew the
    // budget — keys are now each query's UNIQUE short code (the prefix
    // before the first '_': "x29_dup_ngrams" → "x29"), which prefix-maps
    // back to SparkEntry.queries 1:1; the length check below warns
    // before the budget is actually blown.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // compact per-query value: 2 decimals under 10 s, 1 above, trailing
    // zeros stripped ("0.50"→"0.5", "1.00"→"1") — at 170 queries the
    // uniform f2 map alone was 1,879 chars and the r16 driver tail
    // recorded parsed:null; full fidelity stays in BENCH_LOCAL.json
    def fc(v: Double): String = {
      val s = (if (v >= 10) "%.1f" else "%.2f")
        .formatLocal(java.util.Locale.ROOT, v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
      else s
    }
    def code(name: String): String = name.takeWhile(_ != '_')
    def qsJson(fmt: Double => String): String =
      results.map { case (k, v, _, _, _, _, _, _, _) =>
        "\"" + code(k) + "\":" + fmt(v)
      }.mkString("{", ",", "}")
    val qs = qsJson(fc)
    // cap the list so a mass failure can't push the JSON line past the
    // 2000-char tail (rc=1 still signals the failure either way)
    val failedAll = results.collect { case (k, _, false, _, _, _, _, _, _) => code(k) }
    val failed = (failedAll.take(5).map("\"" + _ + "\"") ++
      (if (failedAll.size > 5) Seq("\"+" + (failedAll.size - 5) + " more\"") else Nil))
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // name the statistic each number is (ADVICE r9): queries listed in
    // "median" report median-of-reps; everything else min-of-reps.
    // A compact policy map, not a per-query field — the JSON line must
    // fit the driver's ~2000-char stdout tail
    val policy = "{\"default\":\"min\",\"median\":" +
      results.collect { case (k, _, _, _, _, _, _, _, _) if iterative(k) => "\"" + code(k) + "\"" }
        .mkString("[", ",", "]") + "}"
    // queries still unstable after MaxReps adaptive reps: residual spread
    // of the reported statistic — nonempty means read those numbers as
    // ±spread, not as regressions (normally empty; capped for the budget)
    val noisyAll = results.collect {
      case (k, _, true, _, sp, _, _, _, _) if sp > StableRatio =>
        "\"" + code(k) + "\":" + f2(sp)
    }
    val noisy = (noisyAll.take(8) ++
      (if (noisyAll.size > 8) Seq("\"more\":" + (noisyAll.size - 8)) else Nil))
      .mkString("{", ",", "}")
    // run-level hypervisor steal + the per-query policy escalations: a
    // reading taken under steal now names itself in the artifact
    val runSteal = stealPct(runStart, cpuStat())
    val escalatedAll = results.collect { case (k, _, _, _, _, _, true, _, _) => code(k) }
    val escalatedJson = (escalatedAll.take(8).map("\"" + _ + "\"") ++
      (if (escalatedAll.size > 8)
        Seq("\"+" + (escalatedAll.size - 8) + " more\"") else Nil))
      .mkString("[", ",", "]")
    // host_noisy: the artifact self-declares when it was taken in a bad
    // window (run steal past 2% or any escalation) — the r14 failure
    // mode was a contaminated run that LOOKED like a regular reading
    // SPARK_GRAFT_BENCH_FAKE_NOISY=1 is a TEST HOOK: it forces the
    // host_noisy refusal path so the clean-embed line below is
    // exercisable on a quiet host (steal/ambient load can't be staged)
    val hostNoisy = runSteal > 2.0 || escalatedAll.nonEmpty || ambientBusy ||
      sys.env.get("SPARK_GRAFT_BENCH_FAKE_NOISY").contains("1")
    // When THIS run is noisy but a committed steal-clean full-fidelity
    // artifact for the same sf already stands, the stdout line (= the
    // driver's per-round BENCH_r{N}.json) carries an explicit pointer
    // to it — r17's artifact held a refused noisy run while the clean
    // reading lived in BENCH_LOCAL.json with nothing connecting them,
    // so the naive reader opened the wrong file (r17 verdict task 5).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      // a filtered run must not overwrite the full-suite artifact
      if (args.isEmpty) "BENCH_LOCAL.json" else "BENCH_SUBSET.json")
    // the clean artifact's headline numbers + a checksum binding them to
    // the exact file bytes: on refusal these are EMBEDDED in the stdout
    // line (r18 verdict task 6 — the driver's BENCH_r{N}.json must stand
    // alone with the authoritative reading, not just a pointer to it)
    case class CleanInfo(total: String, steal: String, ts: String, sha: String)
    val cleanInfo: Option[CleanInfo] = {
      val p = java.nio.file.Paths.get(outPath)
      if (!java.nio.file.Files.exists(p)) None
      else {
        try {
          val txt = java.nio.file.Files.readString(p)
          // compare NORMALIZED sf paths, not raw strings: a trailing
          // slash / relative spelling / symlinked alias of the same SF
          // dir must not defeat the clean-artifact protection (a
          // host_noisy re-run of the SAME sf would overwrite a
          // steal-clean reading)
          def norm(s: String): java.nio.file.Path = {
            val q = java.nio.file.Paths.get(s).toAbsolutePath.normalize
            try q.toRealPath() catch { case _: Throwable => q }
          }
          val recordedSf = """"sf":\s*"([^"]*)"""".r
            .findFirstMatchIn(txt).map(_.group(1))
          val covers = !txt.contains("\"host_noisy\": true") &&
            recordedSf.exists(r => norm(r) == norm(sfDir)) &&
            // the artifact must also COVER this run's queries: in a
            // one-query-per-JVM loop every run shares outPath for the
            // same sf, so query B's noisy line must not point at a
            // "clean" file holding only query A's reading (the exact
            // wrong-file failure the pointer exists to close)
            queries.forall { case (q, _) => txt.contains("\"" + q + "\":") }
          if (!covers) None
          else {
            // first match of each key is the artifact's top-level field
            // (the per-query detail map comes after them in the file)
            def field(k: String): Option[String] =
              (""""""" + k + """":\s*([0-9.]+)""").r
                .findFirstMatchIn(txt).map(_.group(1))
            val ts = """"ts":\s*"([^"]*)"""".r
              .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
            val sha = {
              val d = java.security.MessageDigest.getInstance("SHA-256")
                .digest(java.nio.file.Files.readAllBytes(p))
              d.take(8).map("%02x".format(_)).mkString
            }
            for (t <- field("total_sec"); s <- field("steal_pct"))
              yield CleanInfo(t, s, ts, sha)
          }
        } catch { case _: Throwable => None }
      }
    }
    val existingClean = cleanInfo.isDefined
    val force = sys.env.get("SPARK_GRAFT_BENCH_FORCE").contains("1")
    // the clean-pointer blob at three fidelities: full (total/steal/ts/
    // sha), short (total + sha binding), minimal (flag only). No pointer
    // under FORCE: the noisy full artifact is about to replace the clean
    // reading the pointer would name.
    def noisyPartAt(level: Int): String =
      if (!hostNoisy) ""
      else if (existingClean && !force) {
        val c = cleanInfo.get
        level match {
          case 0 =>
            s""","host_noisy":true,"clean_artifact":"$outPath","clean":{"total":${c.total},"steal_pct":${c.steal},"ts":"${c.ts}","sha256_16":"${c.sha}"}"""
          case 1 =>
            s""","host_noisy":true,"clean":{"total":${c.total},"sha256_16":"${c.sha}"}"""
          case _ =>
            s""","host_noisy":true,"clean_sha":"${c.sha}""""
        }
      }
      else ""","host_noisy":true"""
    // STAGED degradation to guarantee the line parses from the driver's
    // 2000-char stdout tail (the r16 line was ~2,080 chars and the
    // driver recorded parsed:null — an unparseable line is worth less
    // than a lower-precision one; BENCH_LOCAL.json keeps full fidelity).
    // The per-query map is the single highest-priority payload (r20
    // verdict task 1: the old stage 3 stripped all 171 values from a
    // host_noisy run and PERF_r20 compared nothing — n_common: 0), so
    // the ladder degrades EVERYTHING ELSE first and never drops
    // `queries`:
    //   1. full line — 2-decimal values, noisy/escalated maps, full
    //      clean blob;
    //   2. minimal keys + 1-decimal values, clean blob shortened to
    //      total + sha binding;
    //   3. probe_mem dropped, clean blob reduced to its sha binding
    //      (host_noisy stays — a degraded noisy run must still disclaim
    //      itself; the clean reading is recoverable from the named
    //      artifact, the per-query values are not recoverable anywhere
    //      the driver reads).
    val sfShort = new java.io.File(sfDir).getName
    val Budget = 1950
    def f1(v: Double): String = {
      val s = "%.1f".formatLocal(java.util.Locale.ROOT, v)
      if (s.endsWith(".0")) s.dropRight(2) else s
    }
    val failedPart =
      if (failedAll.isEmpty) "" else s""","failed":$failed"""
    var line =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"failed":$failed,"noisy":$noisy,"policy":$policy,"steal_pct":${f2(runSteal)},"probe":${f2(probeSec)},"probe_mem":${f2(probeMemSec)},"escalated":$escalatedJson${noisyPartAt(0)},"sf":"$sfShort"}"""
    if (line.length > Budget)
      // minimal keys + 1-decimal stripped values (~1,790 chars at 170
      // queries); failed stays whenever nonempty — a failure signal
      // must never be a degradation casualty (nor may host_noisy: it is
      // exactly the key a degraded-budget noisy run needs to disclaim
      // itself)
      line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":${qsJson(f1)}$failedPart,"steal_pct":${f2(runSteal)},"probe":${f2(probeSec)},"probe_mem":${f2(probeMemSec)}${noisyPartAt(1)},"sf":"$sfShort"}"""
    if (line.length > Budget)
      line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":${qsJson(f1)}$failedPart,"steal_pct":${f2(runSteal)},"probe":${f2(probeSec)}${noisyPartAt(2)},"sf":"$sfShort"}"""
    if (line.length > Budget)
      System.err.println(s"[bench] WARNING: JSON line ${line.length} chars " +
        "even after degradation — the driver tail may truncate it")
    println(line)
    // Full-fidelity artifact (the stdout line is budget-truncated and the
    // round wrapper has parsed it unreliably — ADVICE r11): full query
    // names, per-query reps/spread, and a timestamp so any re-run —
    // including a judge's — leaves an auditable record next to the code.
    val detail = results.map { case (k, v, o, n, sp, st, esc, cl, dmp) =>
      val pol =
        if (esc) "median(escalated)"
        else if (iterative(k)) { if (cl < n) "median(clean)" else "median" }
        else if (cl < n) "min(clean)"
        else "min"
      s"""  "$k": {"sec": ${f3(v)}, "ok": $o, "reps": $n, "clean_reps": $cl, "spread": ${f2(sp)}, "steal_pct": ${f2(st)}, "policy": "$pol"${if (dmp >= 0) s""", "dump_sec": ${f3(dmp)}""" else ""}}"""
    }.mkString("{\n", ",\n", "\n}")
    val full =
      s"""{
         |"ts": "${java.time.Instant.now()}",
         |"sf": "$sfDir",
         |"cpus": $cpus,
         |"total_sec": ${f3(total)},
         |"probe_sec": ${f3(probeSec)},
         |"probe_mem_sec": ${f3(probeMemSec)},
         |"total_per_probe": ${if (probeSec > 0) f3(total / probeSec) else "-1"},
         |"steal_pct": ${f2(runSteal)},
         |"ambient_load1": ${f2(ambientLoad1)},
         |"host_noisy": $hostNoisy,
         |"escalated": ${escalatedAll.map("\"" + _ + "\"").mkString("[", ",", "]")},
         |"policy": $policy,
         |"queries": $detail
         |}""".stripMargin
    // Overwrite hygiene (r16 verdict task 5): a re-run in a noisy window
    // must not replace a committed steal-clean artifact — the driver's
    // post-commit rerun overwrote a 0.06%-steal reading with a
    // 2.72%-steal one. If the existing artifact self-declares clean (for
    // the SAME normalized sf — a clean sf0.1 reading must not pin the
    // file against an sf1 run) and this run is host_noisy, the noisy
    // reading goes to a `.noisy.json` sibling (kept, never lost) and
    // the clean artifact stands. SPARK_GRAFT_BENCH_FORCE=1 overrides.
    val target = {
      val p = java.nio.file.Paths.get(outPath)
      if (!force && hostNoisy && existingClean) {
        // sibling keyed by sf AND cpus (r20 verdict task 1: the c8
        // scaling run overwrote the 32-core run's .noisy.json — keyed
        // only by outPath — and the 32-core per-query record was lost)
        val sib = outPath.stripSuffix(".json") + s".noisy.$sfShort.c$cpus.json"
        System.err.println(s"[bench] $outPath holds a steal-clean reading " +
          s"and this run is host_noisy — writing to $sib " +
          "instead (SPARK_GRAFT_BENCH_FORCE=1 to override)")
        java.nio.file.Paths.get(sib)
      } else p
    }
    try java.nio.file.Files.writeString(target, full)
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $target: ${e.getMessage}")
    }
    spark.stop()
    if (results.exists(!_._3)) sys.exit(1)
  }
}
