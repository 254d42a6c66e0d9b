package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{BenchBridge, SparkContext}
import org.apache.spark.scheduler._

/** Engine counters of one job group (one query execution). */
final class GroupStats {
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val schedWaitMs = new AtomicLong
  val scanBytes = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  /** (jobId, start, end) in span time, filled as jobs end. */
  val jobs = new ConcurrentLinkedQueue[(Int, Double, Double)]()

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobsStarted.get, "tasks" -> tasks.get,
    "task_run_ms" -> taskRunMs.get, "task_cpu_ms" -> taskCpuNs.get / 1e6,
    "gc_ms" -> gcMs.get, "sched_wait_ms" -> schedWaitMs.get,
    "scan_bytes" -> scanBytes.get, "shuffle_bytes" -> shuffleBytes.get,
    "spill_bytes" -> spillBytes.get)
}

/** Per-job-group task and job counters from Spark's public listener
  * events, plus job and stage spans. Every counter is thread-safe: the
  * listener bus thread writes while the benchmark thread reads. */
final class LayerListener(spans: Spans) extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageOwner = new ConcurrentHashMap[Int, (String, Int)]()
  private val jobOpen = new ConcurrentHashMap[Int, (String, Long)]()

  def stats(group: String): GroupStats =
    groups.computeIfAbsent(group, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageOwner.put(s, (g, e.jobId)))
    jobOpen.put(e.jobId, (g, e.time))
    stats(g).jobsStarted.incrementAndGet()
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOpen.remove(e.jobId)).foreach { case (g, t) =>
      val st = stats(g)
      st.jobs.add((e.jobId, spans.fromEpochMs(t), spans.fromEpochMs(e.time)))
      st.jobsEnded.incrementAndGet()
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    for {
      (g, job) <- Option(stageOwner.get(si.stageId))
      a <- si.submissionTime
      b <- si.completionTime
    } spans.add(Span(s"s${si.stageId}.${si.attemptNumber()}", s"j$job", g,
      "stage", spans.fromEpochMs(a), spans.fromEpochMs(b)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for {
      (g, _) <- Option(stageOwner.get(e.stageId))
      m <- Option(e.taskMetrics)
    } {
      val st = stats(g)
      val info = e.taskInfo
      st.tasks.incrementAndGet()
      st.taskRunMs.addAndGet(m.executorRunTime)
      st.taskCpuNs.addAndGet(m.executorCpuTime)
      st.gcMs.addAndGet(m.jvmGCTime)
      // scheduler delay as the Spark UI defines it: task wall time not
      // spent deserializing, running or shipping the result
      st.schedWaitMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
      st.scanBytes.addAndGet(m.inputMetrics.bytesRead)
      st.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      st.spillBytes.addAndGet(m.diskBytesSpilled)
    }

  /** Block until every event posted so far is delivered and every job the
    * group started has ended; returns the group's final counters. */
  def drain(sc: SparkContext, group: String): GroupStats = {
    val st = stats(group)
    val deadline = System.nanoTime() + 30L * 1000000000L
    BenchBridge.drainListenerBus(sc)
    while (st.jobsEnded.get < st.jobsStarted.get && System.nanoTime() < deadline) {
      // a job still running (an abandoned broadcast, say) posts its end
      // later; wait for it on the bus instead of sleeping a fixed time
      Thread.sleep(1)
      BenchBridge.drainListenerBus(sc)
    }
    require(st.jobsEnded.get == st.jobsStarted.get,
      s"job group $group: ${st.jobsStarted.get} jobs started, ${st.jobsEnded.get} ended")
    st
  }
}
