package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, Test/fork := true). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  /** Pinned at 4 cores whatever the host, so partition-sensitive specs
    * see the same plans everywhere. */
  val cpus = 4
  lazy val session: SparkSession = GraftSession.build(cpus)
}
