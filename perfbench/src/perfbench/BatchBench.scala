package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, XxHash64}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._

/** Batch workloads: passes over a fixed query list through
  * `graft.SparkEntry.queries`, each execution timed as build (the query
  * function), plan (`executedPlan`) and exec (running that plan while
  * computing the row count and an order-insensitive checksum). */
object BatchBench {
  val Tables: Seq[String] = ("region nation customer supplier part orders " +
    "lineitem events documents embeddings").split(' ').toSeq

  /** `dt` with every double, also inside arrays, maps and structs, made a
    * float. */
  def coarse(dt: DataType): DataType = dt match {
    case DoubleType => FloatType
    case ArrayType(e, n) => ArrayType(coarse(e), n)
    case MapType(k, v, n) => MapType(coarse(k), coarse(v), n)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = coarse(f.dataType))))
    case other => other
  }

  /** (rows, checksum): the checksum is the wrap-around sum of a 64-bit
    * hash of each row with columns in name order, so it is independent of
    * row order and of partitioning. Doubles are hashed as floats: the order
    * in which a double aggregate adds its inputs follows the partitioning
    * (shuffle partitions = cpus), which moves only its last bits. Runs the
    * plan `qe` already holds. */
  def rowsAndChecksum(qe: QueryExecution): (Long, Long) = {
    val out = qe.executedPlan.output
    val order = out.indices.sortBy(i => (out(i).name, i))
    val hash = XxHash64(order.map { i =>
      val ref = BoundReference(i, out(i).dataType, out(i).nullable)
      val dt = coarse(out(i).dataType)
      if (dt == out(i).dataType) ref else Cast(ref, dt, Some("UTC"))
    }, 42L)
    val parts = qe.toRdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      while (it.hasNext) {
        n += 1
        s += hash.eval(it.next()).asInstanceOf[Long]
      }
      Iterator.single((n, s))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def run(o: Map[String, String]): Map[String, Any] = {
    val cpus = o("cpus").toInt
    val work = o("work")
    val data = o("data")
    val queries = o("queries").split(',').toSeq
    val seconds = o("seconds").toDouble
    val minPasses = o("min_passes").toInt
    val trace = o("trace") == "1"
    val tables = Tables.filter(t => new java.io.File(s"$data/$t.parquet").exists)

    // set-up: a fresh session that has resolved every table's schema
    var spark: SparkSession = null
    val setupS = (1 to o("setup_reps").toInt).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Sessions.build(s"local[$cpus]", cpus, work)
      tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
      (System.nanoTime() - t0) / 1e9
    }
    Log.phase("setup")
    val sc = spark.sparkContext
    val fns = graft.SparkEntry.queries
    val spans = new Spans
    val listener = if (trace) Some(new LayerListener(spans)) else None
    listener.foreach(sc.addSparkListener)

    val seq = new java.util.concurrent.atomic.AtomicInteger
    def execute(pass: Int, name: String): Map[String, Any] = {
      val gid = s"q${seq.incrementAndGet()}"
      sc.setJobGroup(gid, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      var t1, t2, t3 = t0
      var qe: QueryExecution = null
      val res: Either[String, (Long, Long)] =
        try {
          val df = fns(name)(spark, data)
          t1 = System.nanoTime()
          qe = df.queryExecution
          qe.executedPlan
          t2 = System.nanoTime()
          val r = rowsAndChecksum(qe)
          t3 = System.nanoTime()
          Right(r)
        } catch {
          case e: Throwable =>
            t3 = System.nanoTime()
            Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        } finally {
          sc.clearJobGroup()
          // the warm-up runs queries side by side; clear caches after it
          if (pass > 0) spark.catalog.clearCache()
        }
      val base = Map[String, Any]("name" -> name, "pass" -> pass,
        "wall_ms" -> (t3 - t0) / 1e6, "build_ms" -> (t1 - t0) / 1e6,
        "plan_ms" -> (t2 - t1) / 1e6, "exec_ms" -> (t3 - t2) / 1e6)
      val outcome = res match {
        case Right((rows, sum)) => Map("ok" -> true, "rows" -> rows, "checksum" -> sum.toString)
        case Left(err) => Map("ok" -> false, "error" -> err)
      }
      val layers = listener.map { l =>
        val st = l.drain(sc, gid)
        val (b0, b1, b2, b3) = (spans.fromNanos(t0), spans.fromNanos(t1),
          spans.fromNanos(t2), spans.fromNanos(t3))
        spans.add(Span(gid, s"pass$pass", gid, s"query:$name", b0, b3))
        if (res.isRight) {
          spans.add(Span(s"$gid/build", gid, gid, "build", b0, b1))
          spans.add(Span(s"$gid/plan", gid, gid, "plan", b1, b2))
          spans.add(Span(s"$gid/exec", gid, gid, "exec", b2, b3))
        }
        // a job belongs to the phase its start falls in: query functions
        // may run eager jobs (persist + count) while building
        st.jobs.forEach { case (job, a, b) =>
          val phase = if (!res.isRight || a >= b2) "exec" else if (a >= b1) "plan" else "build"
          spans.add(Span(s"j$job", s"$gid/$phase", gid, "job", a, b))
        }
        val phases = Option(qe).map(_.tracker.phases.map { case (k, v) =>
          k -> v.durationMs }).getOrElse(Map.empty)
        st.toMap ++ Map("phases" -> phases)
      }
      base ++ outcome ++ layers.map(l => Map("layers" -> l)).getOrElse(Map.empty)
    }

    // pass 0 runs the `warmup` queries to warm the JVM (class loading,
    // JIT, generated-code cache), `cpus` at a time; its results are
    // checked, its times are not measured. Measured passes run every query
    // one at a time.
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    val warm = try {
      val a = System.nanoTime()
      val recs = o("warmup").split(',').toSeq
        .map(q => pool.submit(() => execute(0, q))).map(_.get())
      Map("warmup" -> true, "wall_ms" -> (System.nanoTime() - a) / 1e6, "queries" -> recs)
    } finally pool.shutdown()
    spark.catalog.clearCache()
    passes += warm
    Log.phase("warm-up pass")
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (passes.size < minPasses + 1 || elapsed < seconds) {
      val p = passes.size
      val a = System.nanoTime()
      val recs = queries.map(execute(p, _))
      val b = System.nanoTime()
      if (trace) spans.add(Span(s"pass$p", "workload", "", "pass", spans.fromNanos(a), spans.fromNanos(b)))
      passes += Map("warmup" -> false, "wall_ms" -> (b - a) / 1e6, "queries" -> recs)
    }
    if (trace) spans.add(Span("workload", "", "", "workload", 0.0, spans.now()))
    Log.phase("measured passes")
    val heap = Sessions.retainedHeapMb()
    val rss = Sessions.peakRssMb()
    spark.stop()
    if (trace) java.nio.file.Files.writeString(java.nio.file.Paths.get(o("spans")), spans.toJsonLines)
    Map("setup_s" -> setupS, "passes" -> passes.toSeq, "heap_retained_mb" -> heap,
      "peak_rss_mb" -> rss)
  }
}
