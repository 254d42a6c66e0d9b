package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.ops.Norms
import graft.schemas.EventSchemas
import graft.streaming.{Lifecycle, Pipelines}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

/** One Kafka record as the pipelines see it: topic, value, timestamp. */
final case class KRec(topic: String, value: String, timestamp: Timestamp)

/** Seeded event source with the reference's topic mix. Books, positions
  * and BTC ticks arrive 235 : 110 : 1; most books belong to one live
  * market; positions are stamped 30-60 s behind in event time; a fixed
  * share of book/position/tick payloads is cut short (malformed JSON).
  * Event time runs `accel` times faster than the schedule, so 15-minute
  * windows close within a run. Every payload carries a unique `seq`. */
final class EventGen(seed: Long, accel: Double) {
  private val rnd = new java.util.Random(seed)
  val baseMs: Long = Instant.parse("2024-01-01T10:00:00Z").toEpochMilli
  private val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(ZoneOffset.UTC)
  var seq = 0L
  /** Latest event time of a well-formed book: sets the final watermark. */
  var maxBookMs = Long.MinValue
  /** Latest schedule time an event was produced at. */
  var lastAtMs = Double.NegativeInfinity
  val sentByTopic = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val books = ArrayBuffer.empty[KRec]
  val markets = ArrayBuffer.empty[String]

  private def rec(topic: String, payload: String, evMs: Long): KRec = {
    sentByTopic(topic) += 1
    val r = KRec(topic, payload, new Timestamp(evMs))
    if (topic == "polymarket-prices") books += r
    r
  }
  private def eventMs(atMs: Double): Long = {
    lastAtMs = math.max(lastAtMs, atMs)
    baseMs + (atMs * accel).toLong
  }

  /** The next data event (book, position or tick), produced at schedule
    * time `atMs`. */
  def next(atMs: Double): KRec = {
    seq += 1
    val n = seq
    val ev = eventMs(atMs)
    val u = rnd.nextInt(346)
    val (topic, body) =
      if (u < 235) {
        val m = if (rnd.nextInt(10) < 8) "m0" else s"m${1 + rnd.nextInt(15)}"
        ("polymarket-prices",
          s""""type":"orderbook_summary","market_id":"$m","asset_id":"${m}Y","condition_id":"c_$m","outcome":"Yes","timestamp":"${iso.format(Instant.ofEpochMilli(ev))}","best_bid_price":0.${50 + rnd.nextInt(9)},"best_bid_size":100.0,"best_ask_price":0.${60 + rnd.nextInt(9)},"best_ask_size":80.0,"total_bid_volume":500.0,"total_ask_volume":400.0,"largest_bid_size":60.0,"largest_bid_price":0.53,"largest_ask_size":50.0,"largest_ask_price":0.57,"book_imbalance":0.${1000 + rnd.nextInt(999)}""")
      } else if (u < 345) {
        val m = s"m${rnd.nextInt(16)}"
        val snap = ev - 30000L - rnd.nextInt(30001)
        ("user-positions",
          s""""type":"position","market_id":"$m","condition_id":"c_$m","snapshot_time":"${iso.format(Instant.ofEpochMilli(snap))}","user":"0xu${rnd.nextInt(1000)}","asset_id":"${m}Y","outcome":"Yes","outcome_index":0,"balance":${1000000 + rnd.nextInt(1000000)},"position_count":null""")
      } else
        ("asset-prices",
          s""""symbol":"BTC-USD","price":${97000 + rnd.nextInt(1000)},"timestamp":"${iso.format(Instant.ofEpochMilli(ev))}","volume":1.5""")
    val full = s"""{"seq":$n,$body}"""
    val payload = if (rnd.nextInt(200) == 0) full.take(full.length / 2) else full
    if (topic == "polymarket-prices" && (payload eq full)) maxBookMs = math.max(maxBookMs, ev)
    rec(topic, payload, ev)
  }

  /** A market's discovery; its end time is already past in processing
    * time, so the lifecycle closes it on the next trigger. */
  def discovery(dueMs: Double): KRec = {
    seq += 1
    val m = s"L${markets.size}"
    markets += m
    val ev = eventMs(dueMs)
    val end = iso.format(Instant.ofEpochMilli(ev))
    rec("market-updates",
      s"""{"seq":$seq,"market_id":"$m","condition_id":"c_$m","question":"q $m","yes_price":0.55,"no_price":0.45,"token_ids":["${m}Y","${m}N"],"start_time":"2024-01-01T00:00:00Z","end_time":"$end","active":true,"best_bid":0.54,"best_ask":0.56,"liquidity":"1000","volume":"5000","slug":"slug-$m"}""", ev)
  }

  /** A resolved poll result for market `m`. */
  def pollResult(m: String, dueMs: Double): KRec = {
    seq += 1
    rec("gamma-poll-results",
      s"""{"seq":$seq,"market_id":"$m","closed":true,"resolution_status":"resolved","no_price":0.0,"yes_price":1.0}""",
      eventMs(dueMs))
  }
}

/** The three-plane topology: control (Lifecycle.run over market messages),
  * analytics (Pipelines.windowedAgg over parsed books) and persistence
  * (routed bronze over every topic), each on its own MemoryStream. */
final class Topology(spark: SparkSession, dir: String, tag: String,
                     partitions: Int, triggerMs: Long) {
  import spark.implicits._
  private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext

  // a fixed partition count per micro-batch, as a Kafka topic has: by
  // default MemoryStream makes one partition per addData call
  val ctlIn: MemoryStream[KRec] = MemoryStream[KRec](partitions)
  val winIn: MemoryStream[KRec] = MemoryStream[KRec](partitions)
  val bronzeIn: MemoryStream[KRec] = MemoryStream[KRec](partitions)
  val bronzeRoot = s"$dir/bronze"
  val ctlName = s"control_$tag"
  val winName = s"window_$tag"
  val bronzeName = s"bronze_$tag"

  val timing: Lifecycle.Timing = Lifecycle.Timing(firstPollDelayMs = 0L,
    baseBackoffMs = 200L, maxBackoffMs = 400L, maxAttempts = 3)

  private val gammaPoll = StructType(Seq(
    StructField("market_id", StringType), StructField("closed", BooleanType),
    StructField("resolution_status", StringType),
    StructField("no_price", DoubleType), StructField("yes_price", DoubleType)))

  private def controlMsgs(raw: DataFrame): DataFrame = {
    val discovered = Pipelines.parseValue(raw.filter(col("topic") === "market-updates"),
        EventSchemas.marketUpdate)
      .select(col("p.market_id").as("marketId"), lit("discovered").as("kind"),
        unix_millis(col("kafka_ts")).as("tsMs"), col("p.token_ids").as("tokenIds"),
        unix_millis(Norms.isoTs(col("p.end_time"))).as("endTimeMs"),
        lit(false).as("closed"), lit("").as("resolutionStatus"),
        lit(0.0).as("noPrice"), lit(0.0).as("yesPrice"))
    val polled = Pipelines.parseValue(raw.filter(col("topic") === "gamma-poll-results"),
        gammaPoll)
      .select(col("p.market_id").as("marketId"), lit("poll_result").as("kind"),
        unix_millis(col("kafka_ts")).as("tsMs"),
        array().cast(ArrayType(StringType)).as("tokenIds"),
        lit(0L).as("endTimeMs"), col("p.closed").as("closed"),
        col("p.resolution_status").as("resolutionStatus"),
        col("p.no_price").as("noPrice"), col("p.yes_price").as("yesPrice"))
    discovered.unionByName(polled)
  }

  /** Books as the analytics plane windows them (stream and batch alike). */
  def windows(raw: DataFrame): DataFrame = {
    val books = Pipelines.parseValue(raw, EventSchemas.orderbookSummary)
      .select(col("p.market_id").as("market_id"),
        Norms.isoTs(col("p.timestamp")).as("ts"),
        col("p.book_imbalance").as("imb"), col("p.best_bid_price").as("bid"))
    Pipelines.windowedAgg(books, "ts", "5 minutes", "15 minutes", Seq(col("market_id")),
      Seq(count(lit(1)).as("n_events"), round(avg(col("imb")), 6).as("avg_imb"),
        max(col("bid")).as("max_bid")))
  }

  lazy val queries: Seq[StreamingQuery] = {
    val ctl = Lifecycle.run(controlMsgs(ctlIn.toDF()).as[Lifecycle.MarketMsg], timing).toDF()
      .writeStream.format("memory").queryName(ctlName)
      .option("checkpointLocation", s"$dir/ckpt_control")
      .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
    // window and bronze fire every `triggerMs`, about twice their untraced
    // per-trigger cost under the steady rate, so latency is not measured
    // at the edge of saturation; the control plane's timers want a finer
    // grain
    val win = windows(winIn.toDF())
      .writeStream.format("memory").queryName(winName)
      .option("checkpointLocation", s"$dir/ckpt_window")
      .trigger(Trigger.ProcessingTime(s"$triggerMs milliseconds")).start()
    val bronze = Pipelines.routedBronzeSink(bronzeIn.toDF(), bronzeRoot, s"$dir/ckpt_bronze")
      .queryName(bronzeName).trigger(Trigger.ProcessingTime(s"$triggerMs milliseconds")).start()
    Seq(ctl, win, bronze)
  }

  /** Which planes consume a record of `topic`. */
  def planesOf(topic: String): Seq[String] = topic match {
    case "polymarket-prices" => Seq("window", "bronze")
    case "market-updates" | "gamma-poll-results" => Seq("control", "bronze")
    case _ => Seq("bronze")
  }
  def input(plane: String): MemoryStream[KRec] = plane match {
    case "control" => ctlIn
    case "window" => winIn
    case _ => bronzeIn
  }
  def queryName(plane: String): String = plane match {
    case "control" => ctlName
    case "window" => winName
    case _ => bronzeName
  }
}

/** The streaming workload over the topology: an open-loop steady phase at
  * a fixed rate, then bursts loaded at once and drained. */
object StreamBench {
  val Planes: Seq[String] = Seq("control", "window", "bronze")

  /** Progress records per query name, from the StreamingQueryListener. */
  final class ProgressLog extends StreamingQueryListener {
    val byQuery = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Map[String, Any]]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val spans = clock
      val startMs = spans.fromEpochMs(Instant.parse(p.timestamp).toEpochMilli)
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      val end = Option(p.sources).flatMap(_.headOption).flatMap(s => Option(s.endOffset))
        .flatMap(s => scala.util.Try(s.trim.toLong).toOption).getOrElse(-1L)
      val st = p.stateOperators.headOption
      val ev = p.eventTime.asScala
      val wmLag = for (mx <- ev.get("max"); wm <- ev.get("watermark"))
        yield (Instant.parse(mx).toEpochMilli - Instant.parse(wm).toEpochMilli).toDouble
      val rec = Map[String, Any](
        "batch" -> p.batchId, "rows" -> p.numInputRows, "start" -> startMs,
        "commit" -> (startMs + dur.getOrElse("triggerExecution", 0L)),
        "end_offset" -> end, "dur" -> dur,
        "state_rows" -> st.map(_.numRowsTotal), "state_mem_bytes" -> st.map(_.memoryUsedBytes),
        "state_commit_ms" -> st.map(_.commitTimeMs),
        "watermark" -> ev.get("watermark"), "watermark_lag_ms" -> wmLag)
      byQuery.computeIfAbsent(p.name, _ => new ConcurrentLinkedQueue()).add(rec)
      ()
    }
    def of(name: String): Seq[Map[String, Any]] =
      Option(byQuery.get(name)).map(_.asScala.toSeq).getOrElse(Seq.empty)
    def committed(name: String): Long =
      of(name).map(_("end_offset").asInstanceOf[Long]).foldLeft(-1L)(math.max)
    /** Commit time of the first batch that consumed `offset`. */
    def commitOf(name: String, offset: Long): Option[Double] =
      firstWith(name, offset).map(_("commit").asInstanceOf[Double])
    /** Start of the first batch that consumed `offset`. */
    def startOf(name: String, offset: Long): Option[Double] =
      firstWith(name, offset).map(_("start").asInstanceOf[Double])
    private def firstWith(name: String, offset: Long): Option[Map[String, Any]] =
      of(name).filter(_("end_offset").asInstanceOf[Long] >= offset)
        .minByOption(_("batch").asInstanceOf[Long])
  }

  /** A started topology with its input log. */
  final class Run(val spark: SparkSession, val topo: Topology, val log: ProgressLog,
                  val gen: EventGen) {
    /** Measured sends: each event's due time and plane mask (bit i set =
      * read by Planes(i)), the offset each plane got, and the send time. */
    val sends = ArrayBuffer.empty[Map[String, Any]]
    val lastOffset: mutable.Map[String, Long] = mutable.Map(Planes.map(_ -> -1L): _*)

    /** Route records (with their due times) to the planes that read them. */
    def send(recs: Seq[(KRec, Double)], clock: Option[Spans],
             phase: String = ""): Map[String, Long] = {
      val masks = recs.map(r => topo.planesOf(r._1.topic)
        .map(p => 1 << Planes.indexOf(p)).sum)
      val offsets = Planes.zipWithIndex.flatMap { case (plane, i) =>
        val mine = recs.zip(masks).collect { case ((r, _), m) if (m & (1 << i)) != 0 => r }
        if (mine.isEmpty) None
        else {
          val off = topo.input(plane).addData(mine).json().trim.toLong
          lastOffset(plane) = off
          Some(plane -> off)
        }
      }.toMap
      clock.foreach(c => sends += Map("phase" -> phase, "due" -> recs.map(_._2),
        "mask" -> masks, "offsets" -> offsets, "added" -> c.now()))
      offsets
    }

    /** Wait until every plane has committed everything sent to it. */
    def awaitCommitted(timeoutS: Double): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      def done = Planes.forall(p => log.committed(topo.queryName(p)) >= lastOffset(p))
      while (!done && System.nanoTime() < deadline) Thread.sleep(2)
      done
    }
  }

  /** The clock of the current measurement; listener callbacks read it
    * when they fire. */
  @volatile var clock: Spans = new Spans

  /** Fresh session + started topology + one committed warm-up chunk. */
  def start(master: String, partitions: Int, work: String, tag: String,
            seed: Long, accel: Double, triggerMs: Long): Run = {
    val spark = Sessions.build(master, partitions, work)
    val log = new ProgressLog
    spark.streams.addListener(log)
    val dir = s"$work/stream/$tag"
    deleteTree(Paths.get(dir))
    val topo = new Topology(spark, dir, tag, partitions, triggerMs)
    val run = new Run(spark, topo, log, new EventGen(seed, accel))
    // warm-up: the first batch of every plane (codegen, state store
    // creation) is set-up, not steady-state work. Queued before the
    // queries start, it is taken by their first trigger without waiting
    // for the next trigger boundary.
    val g = run.gen
    run.send((Seq(g.discovery(-2000.0)) ++ (1 to 400).map(_ => g.next(-1000.0))).map(_ -> 0.0), None)
    topo.queries
    require(run.awaitCommitted(60), "topology did not commit its warm-up batch")
    run
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Stop every query, then run the output checks. */
  def finish(run: Run, terminalWaitS: Double): Map[String, Any] = {
    val spark = run.spark
    val topo = run.topo
    val gen = run.gen
    // every market must reach a terminal lifecycle transition
    val ctlTable = topo.ctlName
    def terminal: Set[String] = spark.table(ctlTable)
      .filter(col("transition").isin("resolved", "resolution_failed"))
      .select("marketId").collect().map(_.getString(0)).toSet
    val deadline = System.nanoTime() + (terminalWaitS * 1e9).toLong
    while (!gen.markets.toSet.subsetOf(terminal) && System.nanoTime() < deadline)
      Thread.sleep(50)
    // the window plane closes the last windows in a batch without data
    // once the watermark passes them; stop only after that batch reported
    val finalWm = gen.maxBookMs - 5 * 60 * 1000L
    def watermark(): Long = Option(topo.queries(1).lastProgress)
      .flatMap(p => p.eventTime.asScala.get("watermark"))
      .map(w => Instant.parse(w).toEpochMilli).getOrElse(Long.MinValue)
    while (watermark() < finalWm && System.nanoTime() < deadline) Thread.sleep(20)
    Log.phase("terminal wait")
    topo.queries.foreach(_.stop())
    Log.phase("stop")
    val transitions = spark.table(ctlTable).groupBy("marketId")
      .agg(sum(when(col("transition").isin("resolved", "resolution_failed"), 1).otherwise(0))
        .as("terminal")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val marketsBad = gen.markets.count(m => transitions.getOrElse(m, 0L) != 1L)

    // bronze: every record lands exactly once under its topic
    val bronze = spark.read.parquet(topo.bronzeRoot)
    val landed = bronze.groupBy("topic")
      .agg(count(lit(1)).as("n"), countDistinct("payload").as("d"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val topics = gen.sentByTopic.keySet ++ landed.keySet
    val bronzeBad = topics.toSeq.map { t =>
      val (n, d) = landed.getOrElse(t, (0L, 0L))
      math.abs(gen.sentByTopic(t) - d) + (n - d)
    }.sum
    Log.phase("bronze check")
    val files = Files.walk(Paths.get(topo.bronzeRoot)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))

    // windows the watermark has closed equal the batch form over the
    // same events; malformed books never reach a window. avg_imb is a
    // rounded double average, and double sums depend on the order rows
    // are added in, so it may differ by one unit in the last place kept.
    val wm = Instant.ofEpochMilli(watermark())
    import spark.implicits._
    val expected = topo.windows(spark.createDataset(
        spark.sparkContext.parallelize(gen.books.toSeq, spark.sparkContext.defaultParallelism)).toDF())
      .filter(col("win_start") + expr("INTERVAL 15 minutes") <= lit(Timestamp.from(wm)))
    val got = spark.table(topo.winName)
    val diff = got.as("s").join(expected.as("b"), Seq("market_id", "win_start"), "full_outer")
      .filter(col("s.n_events").isNull || col("b.n_events").isNull ||
        !(col("s.n_events") <=> col("b.n_events")) || !(col("s.max_bid") <=> col("b.max_bid")) ||
        abs(col("s.avg_imb") - col("b.avg_imb")) > 1.5e-6)
    val winBad = diff.count()
    val winExamples = if (winBad == 0) Seq.empty else diff.limit(5).collect().map(_.toString).toSeq
    Log.phase("window check")
    val closed = got.count()
    val wellFormed = got.agg(sum("n_events")).head().get(0)

    Map("attempted" -> gen.seq,
      "failed" -> (bronzeBad + winBad + marketsBad),
      "checks" -> Map("bronze_bad" -> bronzeBad, "window_bad" -> winBad,
        "markets_bad" -> marketsBad, "markets" -> gen.markets.size,
        "window_examples" -> winExamples, "watermark" -> wm.toString,
        "closed_windows" -> closed, "closed_window_events" -> String.valueOf(wellFormed),
        "sent_by_topic" -> gen.sentByTopic.toMap, "landed_by_topic" -> landed.map {
          case (k, (n, d)) => k -> Map("rows" -> n, "distinct" -> d) }),
      "bronze_files" -> files)
  }

  def planeReport(run: Run): Map[String, Any] = Planes.map { p =>
    p -> Map("progress" -> run.log.of(run.topo.queryName(p)))
  }.toMap

  /** Trigger and phase spans from the progress log (phases laid end to
    * end in MicroBatchExecution order inside their trigger). */
  def triggerSpans(run: Run, spans: Spans): Unit = Planes.foreach { p =>
    val name = run.topo.queryName(p)
    run.log.of(name).foreach { r =>
      val id = s"$name.b${r("batch")}"
      val s0 = r("start").asInstanceOf[Double]
      spans.add(Span(id, "workload", id, s"trigger:$p", s0, r("commit").asInstanceOf[Double]))
      var t = s0
      val dur = r("dur").asInstanceOf[Map[String, Long]]
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { ph =>
          dur.get(ph).foreach { d =>
            spans.add(Span(s"$id/$ph", id, id, ph, t, t + d))
            t += d
          }
        }
    }
  }

  def run(o: Map[String, String]): Map[String, Any] = {
    val cpus = o("cpus").toInt
    val work = o("work")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val accel = o("accel").toDouble
    val triggerMs = o("trigger_ms").toLong
    val master = s"local[$cpus]"

    // set-up: fresh session, started topology, warm-up committed
    var run: Run = null
    val setupS = (1 to o("setup_reps").toInt).map { i =>
      if (run != null) { run.topo.queries.foreach(_.stop()); run.spark.stop() }
      clock = new Spans
      val t0 = System.nanoTime()
      run = start(master, cpus, work, s"r$i", seed, accel, triggerMs)
      (System.nanoTime() - t0) / 1e9
    }
    Log.phase("setup")
    clock = new Spans
    val measured = clock
    val rate = o("rate").toDouble
    val out = steady(run, measured, rate, seconds, o("ramp_s").toDouble * 1000.0) ++
      Map("bursts" -> (1 to o("bursts").toInt).map(_ => burst(run, measured, o("burst").toInt, rate, triggerMs)))
    Log.phase("measured")
    val heap = Sessions.retainedHeapMb()
    if (trace) {
      triggerSpans(run, measured)
      measured.add(Span("workload", "", "", "workload", 0.0, measured.now()))
    }
    val checks = finish(run, 20.0)
    Log.phase("checks")
    val report = planeReport(run)
    val rss = Sessions.peakRssMb()
    run.spark.stop()

    // single-thread scaling baseline: the same burst drained at local[1]
    val local1 = if (o.get("local1").contains("1")) {
      clock = new Spans
      val r1 = start("local[1]", 1, work, "local1", seed, accel, triggerMs)
      val res = burst(r1, clock, o("burst").toInt, rate, triggerMs)
      r1.topo.queries.foreach(_.stop())
      r1.spark.stop()
      res
    } else Map.empty
    Log.phase("local1")
    if (trace) Files.writeString(Paths.get(o("spans")), measured.toJsonLines)
    out ++ checks ++ Map("setup_s" -> setupS, "planes" -> report, "sends" -> run.sends.toSeq,
      "heap_retained_mb" -> heap, "peak_rss_mb" -> rss,
      "local1_burst" -> local1)
  }

  /** Open loop: events due every 1/rate s for `seconds`, sent in 10 ms
    * chunks; a late generator sends everything already due, so a stall
    * is charged to the events behind it. Sends before `rampMs` are
    * marked "ramp": they let the JIT settle and are not measured. One
    * market is discovered every 500 ms (half of them answered by a
    * resolved poll 800 ms later). */
  def steady(run: Run, clock: Spans, rate: Double, seconds: Double,
             rampMs: Double): Map[String, Any] = {
    val gen = run.gen
    val total = (rate * seconds).toLong
    val ctlPeriodMs = 500.0
    val ctlUntilMs = math.max(0.0, seconds * 1000.0 - 3000.0)
    val pendingPolls = mutable.Queue.empty[(Double, String)]
    var i = 0L
    var nextMarket = 0.0
    val late = ArrayBuffer.empty[Double]
    var tick = 0L
    while (i < total) {
      val target = clock.originNanos + tick * 10000000L
      val wait = target - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      val now = clock.now()
      val batch = ArrayBuffer.empty[(KRec, Double)]
      while (nextMarket <= now && nextMarket < ctlUntilMs) {
        batch += (gen.discovery(nextMarket) -> nextMarket)
        if (gen.markets.size % 2 == 1) pendingPolls.enqueue((nextMarket + 800.0, gen.markets.last))
        nextMarket += ctlPeriodMs
      }
      while (pendingPolls.nonEmpty && pendingPolls.head._1 <= now) {
        val (due, m) = pendingPolls.dequeue()
        batch += (gen.pollResult(m, due) -> due)
      }
      while (i < total && i * 1000.0 / rate <= now) {
        val due = i * 1000.0 / rate
        batch += (gen.next(due) -> due)
        i += 1
      }
      if (batch.nonEmpty) {
        late += now - batch.map(_._2).min
        run.send(batch.toSeq, Some(clock), if (now < rampMs) "ramp" else "steady")
      }
      tick += 1
    }
    pendingPolls.foreach { case (due, m) =>
      run.send(Seq(gen.pollResult(m, due) -> due), Some(clock), "steady") }
    val sendEnd = clock.now()
    require(run.awaitCommitted(60), "steady: planes did not catch up within 60 s")
    Map("sent" -> total, "send_ms" -> sendEnd, "caught_up_ms" -> clock.now(),
      "gen_late_ms" -> late.toSeq)
  }

  /** A burst: `events` data events loaded at once (event times continue
    * the stream as if produced at `rate`). Its drain time runs from the
    * start of the first batch that took it to the commit of the last
    * plane that consumed it, both from the listener, so the wait for the
    * next trigger boundary is not counted. */
  def burst(run: Run, clock: Spans, events: Int, rate: Double,
            triggerMs: Long): Map[String, Any] = {
    val gen = run.gen
    val at0 = math.max(0.0, gen.lastAtMs) + 1000.0 / rate
    val recs = (0 until events).map(i => gen.next(at0 + i * 1000.0 / rate)).toArray
    // processing-time triggers fire on multiples of their interval; the
    // burst is loaded a second before one, so every plane takes it in the
    // batch starting there rather than some planes one trigger later
    Thread.sleep(Math.floorMod(-System.currentTimeMillis() - 1000L, triggerMs))
    val t0 = clock.now()
    val offsets = run.send(recs.toSeq.map(_ -> t0), Some(clock), "burst")
    val loadMs = clock.now() - t0
    require(run.awaitCommitted(120), "burst: planes did not drain within 120 s")
    val name = (p: String) => run.topo.queryName(p)
    val first = offsets.flatMap { case (p, off) => run.log.startOf(name(p), off) }.min
    val end = offsets.flatMap { case (p, off) => run.log.commitOf(name(p), off) }.max
    Map("events" -> recs.length, "load_ms" -> loadMs, "start_ms" -> first,
      "drain_ms" -> (end - first))
  }
}
