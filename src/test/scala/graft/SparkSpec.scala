package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, Test/fork := true). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body`'s result and the Spark jobs it started. Jobs are counted by
    * a job group set on this thread; threads started inside `body`
    * inherit it. */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, getClass.getSimpleName)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  /** Pinned at 4 cores whatever the host, so partition-sensitive specs
    * see the same plans everywhere. */
  val cpus = 4
  lazy val session: SparkSession = GraftSession.build(cpus)
}
