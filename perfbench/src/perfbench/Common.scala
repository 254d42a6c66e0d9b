package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's SparkSession: the same settings as graft.Bench and
  * graft.Verify, sized by the caller, with every scratch directory inside
  * the benchmark's work directory. */
object Sessions {
  def build(master: String, partitions: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap in use after a full collection, in MiB: what the run retains. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc()
    System.gc()
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** Peak resident set of this JVM in MiB (VmHWM), or -1 off Linux. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }
}

/** Progress lines on stderr (the run's jvm.log): time spent per phase. */
object Log {
  private var last = System.nanoTime() -
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    System.err.println(f"[perfbench] $name: ${(now - last) / 1e9}%.1f s")
    last = now
  }
}

/** One traced interval. Times are ms since the run's origin; spans of one
  * query or trigger share `trace`. */
final case class Span(id: String, parent: String, trace: String,
                      name: String, start: Double, end: Double)

/** In-memory span store, written out once at the end of the run. */
final class Spans {
  val originNanos: Long = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()
  private val buf = new ConcurrentLinkedQueue[Span]()

  def fromNanos(n: Long): Double = (n - originNanos) / 1e6
  def fromEpochMs(ms: Long): Double = (ms - originEpochMs).toDouble
  def now(): Double = fromNanos(System.nanoTime())
  def add(s: Span): Unit = { buf.add(s); () }
  def all: Seq[Span] = buf.asScala.toSeq

  def toJsonLines: String = all.map { s =>
    Json.write(Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
      "name" -> s.name, "start" -> s.start, "end" -> s.end))
  }.mkString("", "\n", "\n")
}

/** Minimal JSON writer for the raw result handed back to run.py. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(write).mkString("[", ",", "]")
    case o: Option[_] => o.map(write).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
