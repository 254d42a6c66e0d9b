package graft.streaming.kafka

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import graft.GraftSession
import graft.ops.Norms
import graft.schemas.EventSchemas
import graft.streaming.{Lifecycle, Pipelines}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

/** Sustained-throughput soak of the composed three-plane topology
  * (r19 verdict task 5): the reference's only published performance
  * figures are operational msg/s (BASELINE.md rows 1-3: ~235 msg/s
  * orderbook, ~110 msg/s positions, ~350 msg/s aggregate); the repo's
  * streaming evidence was bounded-state and latency but no sustained
  * rows/s for the composed pipeline. This main drives the SAME
  * three-plane wiring TopologySpec proves correct — control
  * (lifecycle state machine over market messages), analytics
  * (event-time 15-min windows with watermark over parsed books),
  * persistence (routed bronze parquet over every topic) — at
  * sustained load through the FakeKafka DSv2 contract double, and
  * records rows/s + p95 trigger latency into BENCH_STREAMING.json.
  *
  * Honest scope: the broker is in-memory (the real one is a verified
  * environment impossibility, PLANS.md) and the host is local[32], so
  * the number measures ENGINE-side sustained processing throughput of
  * the composed topology, not network ingest. The reference's figure
  * is conversely bounded by its WebSocket feeds, not its engine. The
  * comparison row states both.
  *
  * Volume mirrors the reference's mix: books dominate (10:1 over
  * positions), a 1 Hz-ish price tick, a handful of markets through
  * the lifecycle plane.
  *
  * Run: sbt "Test/runMain graft.streaming.kafka.StreamingSoak"
  * (optional args: <waves> <booksPerWave>, default 60 x 10000). */
object StreamingSoak {
  private def tmp(p: String) = Files.createTempDirectory(p).toString

  def main(args: Array[String]): Unit = {
    val waves = args.headOption.map(_.toInt).getOrElse(60)
    val perWave = args.drop(1).headOption.map(_.toInt).getOrElse(10000)
    val cpus = GraftSession.hostCpus()
    val spark = GraftSession.build(cpus)
    // 8, NOT cpus: three concurrent stateful queries x 32 HDFS state
    // partitions x sub-second triggers starved the state-store
    // coordinator RPC on the first soak attempt (a task parked inside
    // reportCommitToCoordinator, wedging the control plane's batch
    // forever). The state here is small (8 markets / 8 window keys);
    // 8 partitions is the right sizing AND avoids the pileup.
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    import spark.implicits._

    // per-query trigger progress: (name, rows, triggerExecution ms)
    val progresses = new ConcurrentLinkedQueue[(String, Long, Long)]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = Option(e.progress.durationMs.get("triggerExecution"))
          .map(_.longValue()).getOrElse(0L)
        progresses.add((Option(e.progress.name).getOrElse("?"),
          e.progress.numInputRows, d))
        ()
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    FakeKafkaBroker.reset()
    val bronzeRoot = tmp("graft_soak_bronze")
    def send(topic: String, json: String): Unit =
      FakeKafkaBroker.send(topic, null, json.getBytes("UTF-8"))

    // ---- control plane: the lifecycle state machine over market
    // messages (compressed clock, as in TopologySpec's gold-path test)
    val gammaPoll = StructType(Seq(
      StructField("market_id", StringType),
      StructField("closed", BooleanType),
      StructField("resolution_status", StringType),
      StructField("no_price", DoubleType),
      StructField("yes_price", DoubleType)))
    val ctlRaw = Pipelines.kafkaSource(spark,
      Seq("market-updates", "gamma-poll-results"), "earliest")
    val discovered = Pipelines.parseValue(
        ctlRaw.filter(col("topic") === "market-updates"),
        EventSchemas.marketUpdate)
      .select(col("p.market_id").as("marketId"), lit("discovered").as("kind"),
        unix_millis(col("kafka_ts")).as("tsMs"),
        col("p.token_ids").as("tokenIds"),
        unix_millis(Norms.isoTs(col("p.end_time"))).as("endTimeMs"),
        lit(false).as("closed"), lit("").as("resolutionStatus"),
        lit(0.0).as("noPrice"), lit(0.0).as("yesPrice"))
    val polled = Pipelines.parseValue(
        ctlRaw.filter(col("topic") === "gamma-poll-results"), gammaPoll)
      .select(col("p.market_id").as("marketId"), lit("poll_result").as("kind"),
        unix_millis(col("kafka_ts")).as("tsMs"),
        array().cast(ArrayType(StringType)).as("tokenIds"),
        lit(0L).as("endTimeMs"), col("p.closed").as("closed"),
        col("p.resolution_status").as("resolutionStatus"),
        col("p.no_price").as("noPrice"), col("p.yes_price").as("yesPrice"))
    val timing = Lifecycle.Timing(firstPollDelayMs = 500L,
      baseBackoffMs = 300L, maxBackoffMs = 600L, maxAttempts = 20)
    val ctlQ = Pipelines.kafkaSink(
        Lifecycle.run(discovered.unionByName(polled).as[Lifecycle.MarketMsg],
          timing).toDF(),
        "market-lifecycle", tmp("graft_soak_ctl_ckpt"))
      .queryName("soak_control")
      .trigger(Trigger.ProcessingTime("500 milliseconds")).start()
    Thread.sleep(1500) // stagger stateful-query starts (see config note)

    // ---- analytics plane: books through event-time windows
    val books = Pipelines.parseValue(
        Pipelines.kafkaSource(spark, Seq("polymarket-prices"), "earliest"),
        EventSchemas.orderbookSummary)
      .select(col("p.market_id").as("market_id"),
        Norms.isoTs(col("p.timestamp")).as("ts"),
        col("p.book_imbalance").as("imb"),
        col("p.best_bid_price").as("bid"))
    val winQ = Pipelines.windowedAgg(books, "ts", "5 minutes", "15 minutes",
        Seq(col("market_id")),
        Seq(count(lit(1)).as("n_events"),
          round(avg(col("imb")), 6).as("avg_imb"),
          max(col("bid")).as("max_bid")))
      .writeStream.format("memory").queryName("soak_books")
      .trigger(Trigger.ProcessingTime("500 milliseconds")).start()
    Thread.sleep(1500)

    // ---- persistence plane: every topic routed to bronze parquet
    val allTopics = Seq("market-updates", "gamma-poll-results",
      "polymarket-prices", "user-positions", "asset-prices",
      "market-lifecycle")
    val bronzeQ = Pipelines.routedBronzeSink(
        Pipelines.kafkaSource(spark, allTopics, "earliest"),
        bronzeRoot, tmp("graft_soak_bronze_ckpt"))
      .queryName("soak_bronze")
      .trigger(Trigger.ProcessingTime("500 milliseconds")).start()
    Thread.sleep(1500)

    // ---- the load: a handful of markets, then waves of books (the
    // reference's volume driver) + 10% positions + a price tick/wave
    val markets = (0 until 8).map(i => s"m$i")
    markets.foreach { m =>
      send("market-updates",
        s"""{"market_id":"$m","condition_id":"c_$m","question":"q $m",
           |"yes_price":0.55,"no_price":0.45,"token_ids":["${m}Y","${m}N"],
           |"start_time":"2024-01-01T00:00:00Z","end_time":"2024-01-03T00:00:00Z",
           |"active":true,"best_bid":0.54,"best_ask":0.56,"liquidity":"1000",
           |"volume":"5000","slug":"slug-$m"}""".stripMargin.replaceAll("\n", ""))
    }
    val totalBooks = waves.toLong * perWave
    val totalPositions = totalBooks / 10
    var sent = 0L
    val t0 = System.nanoTime()
    var w = 0
    while (w < waves) {
      var i = 0
      while (i < perWave) {
        val n = w.toLong * perWave + i
        val m = markets((n % markets.length).toInt)
        val ts = f"2024-01-01T${10 + n / 360000}%02d:${n / 6000 % 60}%02d:${n / 100 % 60}%02d.${n % 100}%02d0Z"
        send("polymarket-prices",
          s"""{"type":"orderbook_summary","market_id":"$m","asset_id":"${m}Y","condition_id":"c_$m","outcome":"Yes","timestamp":"$ts","best_bid_price":0.${50 + (n % 9)},"best_bid_size":100.0,"best_ask_price":0.${60 + (n % 9)},"best_ask_size":80.0,"total_bid_volume":500.0,"total_ask_volume":400.0,"largest_bid_size":60.0,"largest_bid_price":0.53,"largest_ask_size":50.0,"largest_ask_price":0.57,"book_imbalance":0.${1000 + (n % 999)}}""")
        if (i % 10 == 0)
          send("user-positions",
            s"""{"type":"position","market_id":"$m","condition_id":"c_$m","snapshot_time":"$ts","user":"0xu${n % 1000}","asset_id":"${m}Y","outcome":"Yes","outcome_index":0,"balance":${1000000 + n},"position_count":null}""")
        i += 1
      }
      send("asset-prices",
        s"""{"symbol":"BTC-USD","price":${97000 + w},"timestamp":"2024-01-01T10:${"%02d".format(w % 60)}:00","volume":1.5}""")
      sent += perWave + perWave / 10 + 1
      w += 1
    }
    val sendSec = (System.nanoTime() - t0) / 1e9
    // drain with a BOUNDED poll, not processAllAvailable: the lifecycle
    // plane emits on processing-time timers, and a harness that blocks
    // unboundedly on quiescence is itself a hang hazard (first attempt's
    // lesson). Done = bronze landed at least the sent volume and stayed
    // stable for 3 consecutive checks (lifecycle output re-enters
    // bronze, so stability, not a fixed count, is the signal).
    val minExpected = totalBooks + totalPositions + waves + markets.size
    var bronzeRows = -1L
    var stable = 0
    var doneNanos = -1L
    val deadline = System.nanoTime() + 240L * 1000000000L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(2000)
      val c = try spark.read.parquet(bronzeRoot)
        .filter(col("topic") =!= "market-lifecycle").count()
      catch { case _: Throwable => -1L }
      if (c >= minExpected && doneNanos < 0) doneNanos = System.nanoTime()
      if (c == bronzeRows && c >= minExpected) stable += 1
      else { stable = 0; bronzeRows = c }
    }
    require(bronzeRows >= minExpected,
      s"soak did not drain: bronze $bronzeRows < expected $minExpected")
    // wall = send start -> first poll observing full landing (2 s grain)
    val soakSec = (doneNanos - t0) / 1e9
    Seq(ctlQ, winQ, bronzeQ).foreach(_.stop())

    import scala.jdk.CollectionConverters._
    val byQ = progresses.asScala.toSeq.groupBy(_._1)
    def pctl(xs: Seq[Long], p: Double): Long =
      if (xs.isEmpty) -1L
      else xs.sorted.apply(math.min(xs.size - 1, (xs.size * p).toInt))
    def stats(name: String): (Long, Long, Long) = {
      val ps = byQ.getOrElse(name, Seq.empty).filter(_._2 > 0)
      (ps.map(_._2).sum, pctl(ps.map(_._3), 0.5), pctl(ps.map(_._3), 0.95))
    }
    val (bronzeIn, bronzeP50, bronzeP95) = stats("soak_bronze")
    val (booksIn, booksP50, booksP95) = stats("soak_books")
    val eventsTotal = totalBooks + totalPositions + waves + markets.size
    val rowsPerSec = eventsTotal / soakSec
    val booksPerSec = totalBooks / soakSec
    def f1(v: Double) = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    val json =
      s"""{
         |"ts": "${java.time.Instant.now()}",
         |"topology": "three-plane (control: lifecycle state machine -> kafka; analytics: event-time 15min windows; persistence: routed bronze parquet), FakeKafka DSv2 double, local[$cpus]",
         |"events_total": $eventsTotal,
         |"books_total": $totalBooks,
         |"positions_total": $totalPositions,
         |"send_sec": ${f1(sendSec)},
         |"soak_wall_sec": ${f1(soakSec)},
         |"rows_per_sec": ${f1(rowsPerSec)},
         |"books_rows_per_sec": ${f1(booksPerSec)},
         |"bronze_rows_landed": $bronzeRows,
         |"bronze_input_rows_seen": $bronzeIn,
         |"books_input_rows_seen": $booksIn,
         |"trigger_ms": {"bronze_p50": $bronzeP50, "bronze_p95": $bronzeP95, "books_p50": $booksP50, "books_p95": $booksP95},
         |"baseline_msgs_per_sec": {"orderbook": 235, "aggregate": 350, "source": "BASELINE.md rows 1-3 (reference README self-reported, 32-min window)"},
         |"ratio_vs_aggregate_baseline": ${f1(rowsPerSec / 350.0)},
         |"note": "engine-side sustained processing throughput of the composed topology over an in-memory broker double; the reference's figure is bounded by its WebSocket feeds, not its engine - see BENCH_STREAMING scaladoc"
         |}""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_STREAMING.json"), json)
    println(s"""{"metric":"streaming_rows_per_sec","value":${f1(rowsPerSec)},"unit":"rows/sec","books":${f1(booksPerSec)},"p95_trigger_ms":$bronzeP95,"events":$eventsTotal,"wall_sec":${f1(soakSec)}}""")
    spark.stop()
  }
}
