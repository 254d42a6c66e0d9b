package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured. Every entry point
  * (Bench, Verify, TrainClassifier) and the test
  * harness build their session here, so no setting can drift between
  * what is verified and what is measured. */
object GraftSession {

  /** Cores to run on: `SPARK_GRAFT_CPUS` when set, else every processor
    * this JVM may use — the rule `scripts/host_size.sh` applies to the
    * scripts and the Tier-1 test run. */
  def hostCpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session's settings. */
  def settings(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // events.parquet has TIMESTAMP(NANOS) — readable only as raw longs;
    // Tables.events converts back to TimestampType (µs-aligned values).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    // single-file fixtures: without a low split size every scan (and
    // every map-side persist of a scan) packs into 1-2 tasks — at sf1
    // that made shingle staging single-threaded (a 100-TB input is
    // thousands of files, so this is a fixture artifact to neutralize,
    // not a production setting)
    "spark.sql.files.maxPartitionBytes" -> "4m")

  def build(cpus: Int = hostCpus()): SparkSession = {
    val spark = SparkSession.builder().appName("graft")
      .config(settings(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
