package graft.streaming

import graft.SparkSpec
import graft.streaming.ErrorThreshold._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** K4 threshold semantics (user_positions_tracker.py:134-151): an error
  * event fires only on the 5th CONSECUTIVE failure; success resets. */
class ErrorThresholdSpec extends SparkSpec {

  private def fails(k: String, from: Long, n: Int) =
    (0 until n).map(i => Probe(k, from + i, failed = true))

  test("4 consecutive failures emit nothing; the 5th emits exactly one event") {
    val (st4, out4) = step(RunState(0), fails("u1", 0L, 4), DefaultThreshold)
    assert(out4.isEmpty && st4.consecutive === 4)
    val (st5, out5) = step(RunState(0), fails("u1", 0L, 5), DefaultThreshold)
    assert(out5.map(e => (e.key, e.consecutive)) === Seq(("u1", 5)))
    assert(st5.consecutive === 0) // notify-then-reset
  }

  test("a success resets the run: 4 fails, success, 4 fails emits nothing") {
    val probes = fails("u1", 0L, 4) ++ Seq(Probe("u1", 4L, failed = false)) ++
      fails("u1", 5L, 4)
    val (st, out) = step(RunState(0), probes, DefaultThreshold)
    assert(out.isEmpty && st.consecutive === 4)
  }

  test("runs continue across micro-batches and emit once per completed run") {
    val (st1, out1) = step(RunState(0), fails("u1", 0L, 3), DefaultThreshold)
    assert(out1.isEmpty)
    val (st2, out2) = step(st1, fails("u1", 3L, 7), DefaultThreshold)
    // 3 carried + 7 new = one event at the 5th, run restarts, 5 left → second event
    assert(out2.size === 2)
    assert(st2.consecutive === 0)
  }

  test("property: event count = completed failure runs of a naive scan, any batch split") {
    val probeGen = org.scalacheck.Gen.listOfN(60,
      org.scalacheck.Gen.frequency(3 -> true, 1 -> false))
    (1 to 25).foreach { _ =>
      val flags = probeGen.sample.get
      val probes = flags.zipWithIndex.map { case (f, i) => Probe("k", i.toLong, f) }
      // model: scan with a counter that resets at threshold (notify) or success
      var run = 0; var want = 0
      flags.foreach { f =>
        if (f) { run += 1; if (run >= 3) { want += 1; run = 0 } } else run = 0
      }
      // one-shot step
      val (_, all) = step(RunState(0), probes, 3)
      assert(all.size === want)
      // split into arbitrary micro-batches: state carries, total is identical
      val cut = scala.util.Random.nextInt(probes.size + 1)
      val (s1, o1) = step(RunState(0), probes.take(cut), 3)
      val (_, o2) = step(s1, probes.drop(cut), 3)
      assert(o1.size + o2.size === want)
    }
  }

  test("a mid-run counter survives kill → restart from checkpoint") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Probe]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_errth_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_errth_out").toString + "/e"
    def events(): Seq[ErrorEvent] =
      try spark.read.parquet(out).as[ErrorEvent].collect().toSeq
      catch { case _: org.apache.spark.sql.AnalysisException => Nil }
    def awaitEvents(pred: Seq[ErrorEvent] => Boolean): Boolean = {
      val deadline = System.currentTimeMillis() + 90000
      while (!pred(events()) && System.currentTimeMillis() < deadline) Thread.sleep(100)
      pred(events())
    }
    def startQ(name: String) = ErrorThreshold.run(in.toDS(), threshold = 5)
      .writeStream.queryName(name).outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[ErrorEvent], _: Long) =>
        b.write.mode("append").parquet(out)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
      .start()
    val q1 = startQ("errth_crash_a")
    try {
      in.addData(fails("u1", 0L, 3): _*) // run at 3 of 5 — no event yet
      // wait for the batch to process + commit (state only, no output
      // to await; the run counter is only observable via the recovery
      // assertion below)
      Thread.sleep(1500)
      assert(events().isEmpty, "no event may fire below the threshold")
    } finally q1.stop() // crash with consecutive = 3 in the store
    val q2 = startQ("errth_crash_b")
    try {
      // 2 more failures reach 5 ONLY if the recovered store still holds
      // the pre-crash run of 3; lost state would leave the run at 2
      in.addData(fails("u1", 10L, 2): _*)
      assert(awaitEvents(_.map(e => (e.key, e.consecutive)) == Seq(("u1", 5))),
        s"expected the carried run to complete post-restart, got ${events()}")
    } finally q2.stop()
  }

  /** Block until `q` has run the batch that reads the source up to the
    * offset `off` (its JSON form). `run` arms a processing-time timeout,
    * so its query runs a batch on every trigger and processAllAvailable
    * never returns; the source end offset in the last progress is the
    * barrier instead. */
  private def awaitProcessed(q: StreamingQuery, off: String): Unit = {
    val deadline = System.currentTimeMillis() + 90000
    def done = Option(q.lastProgress).exists(_.sources.head.endOffset == off)
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(done, s"query never processed source offset $off")
  }

  /** Poll the named memory sink until it holds `n` rows or the deadline
    * passes. */
  private def awaitCount(table: String, n: Long): Boolean = {
    val deadline = System.currentTimeMillis() + 90000
    while (spark.table(table).count() < n &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    spark.table(table).count() === n
  }

  private def startMemory(events: Dataset[ErrorEvent], name: String) =
    events.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()

  test("streaming wrapper: per-key isolation through a MemoryStream") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Probe]
    val q = startMemory(ErrorThreshold.run(in.toDS(), threshold = 3), "errth_out")
    try {
      // u1 fails 2× then succeeds; u2 fails 3× → only u2 fires
      in.addData(fails("u1", 0L, 2) ++ Seq(Probe("u1", 2L, failed = false)) ++
        fails("u2", 0L, 3): _*)
      assert(awaitCount("errth_out", 1L), "expected exactly u2's event")
      val out = spark.table("errth_out").as[ErrorEvent].collect()
      assert(out.map(e => (e.key, e.consecutive)).toSeq === Seq(("u2", 3)))
      // u1's remaining run: 2 more fails reach 3 only if state carried — it
      // was reset by the success, so 2 fails stay silent; a 3rd fires
      awaitProcessed(q, in.addData(fails("u1", 10L, 2): _*).json)
      assert(spark.table("errth_out").count() === 1)
      in.addData(Probe("u1", 20L, failed = true))
      assert(awaitCount("errth_out", 2L), "expected u1's event")
      val all = spark.table("errth_out").as[ErrorEvent].collect()
      assert(all.count(_.key == "u1") === 1)
    } finally q.stop()
  }

  test("an open run expires ttl after its key's last probe") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Probe]
    val q = startMemory(ErrorThreshold.run(in.toDS(), threshold = 3,
      ttl = java.time.Duration.ofSeconds(1)), "errth_ttl")
    def stateRows = Option(q.lastProgress).map(_.stateOperators.head.numRowsTotal)
    try {
      // 2 of 3 failures: u1 holds an open run in the state store
      awaitProcessed(q, in.addData(fails("u1", 0L, 2): _*).json)
      assert(q.recentProgress.exists(_.stateOperators.head.numRowsTotal == 1),
        "expected u1's open run in the state store")
      // no probe for u1 for longer than the ttl: the timeout drops the run
      val deadline = System.currentTimeMillis() + 90000
      while (!stateRows.contains(0L) && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(stateRows.contains(0L), "expected the idle run to expire")
      // the expired run is gone: 2 more failures start over and stay
      // silent (a kept counter would reach 3 and fire)
      awaitProcessed(q, in.addData(fails("u1", 10L, 2): _*).json)
      assert(spark.table("errth_ttl").count() === 0)
    } finally q.stop()
  }
}
