package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The one session factory: its settings, the cpus rule, that no other
  * file under src/ configures a session, and that no code writes a
  * reliable checkpoint. */
class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries every factory setting") {
    val want = GraftSession.settings(SparkSpec.cpus)
    assert(want === Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "4m"))
    // the context's conf, not spark.conf: specs may change runtime SQL
    // settings, but what the session was built with stays here
    val built = spark.sparkContext.getConf
    want.foreach { case (k, v) => assert(built.get(k) === v, k) }
  }

  test("cpus: SPARK_GRAFT_CPUS wins, else the JVM's available processors") {
    assert(GraftSession.hostCpus(Map("SPARK_GRAFT_CPUS" -> "3")) === 3)
    assert(GraftSession.hostCpus(Map.empty) ===
      Runtime.getRuntime.availableProcessors())
  }

  test("GraftSession is the only file under src/ that calls the session builder") {
    // split so this file does not match itself
    val needle = "SparkSession" + ".builder"
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains(needle))
      .map(_.toString).toSeq
    assert(files === Seq("src/main/scala/graft/GraftSession.scala"))
  }

  test("no code under src/main writes a reliable checkpoint; loops pin with localCheckpoint") {
    // every session is local[cpus], so an executor dies only with the
    // driver, and Spark never reads an RDD checkpoint back after a
    // restart: a reliable checkpoint recovers nothing. Split so the
    // names do not match this file; comment lines are skipped.
    val needles = Seq("setCheckpoint" + "Dir", ".check" + "point(")
    def code(line: String): String = {
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*")) "" else line.split("//", 2)(0)
    }
    val hits = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if needles.exists(code(l).contains(_)) => s"$p:${i + 1}"
      })
      .toSeq
    assert(hits.isEmpty, s"reliable checkpoint calls: $hits")
  }
}
