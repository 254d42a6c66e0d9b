package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

final case class Tick(k: Long, ts: Timestamp, v: Long)
final case class Quote(qk: Long, qts: Timestamp, px: Long)
final case class KafkaRec(topic: String, value: String, timestamp: Timestamp)

/** Streaming wiring driven via MemoryStream: throttle decimation,
  * watermarked windows, bronze foreachBatch sink with date partitions,
  * progress counters. The SAME operator shapes as the batch layer, run
  * inside streaming queries (the batch form is the correctness surface;
  * these tests pin the streaming wrapping). */
class PipelinesSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming throttle emits the latest value per (key, minute)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Tick]
    val out = Pipelines.throttle(in.toDF(), "ts", "10 minutes", "1 minute",
      Seq(col("k")), Seq("v" -> col("v")))
    val q = out.writeStream.format("memory").queryName("throttle_out")
      .outputMode("update").start()
    try {
      in.addData(Tick(1L, ts("2026-01-01 00:00:05"), 10L),
        Tick(1L, ts("2026-01-01 00:00:40"), 20L),
        Tick(2L, ts("2026-01-01 00:00:50"), 30L))
      q.processAllAvailable()
      val rows = spark.table("throttle_out")
        .select("k", "v").as[(Long, Long)].collect().toSet
      assert(rows === Set((1L, 20L), (2L, 30L)))
    } finally q.stop()
  }

  test("watermarked window closes and emits once late data horizon passes (W1/W6)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Tick]
    val agg = Pipelines.windowedAgg(in.toDF(), "ts", "1 minute", "15 minutes",
      Seq(col("k")), Seq(count(lit(1)).as("n"), sum(col("v")).as("vol")))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      in.addData(Tick(1L, ts("2026-01-01 00:01:00"), 5L),
        Tick(1L, ts("2026-01-01 00:14:00"), 7L))
      q.processAllAvailable()
      // window [00:00,00:15) not closed yet — append emits nothing
      assert(spark.table("win_out").count() === 0)
      // an event far past the window + watermark closes it
      in.addData(Tick(1L, ts("2026-01-01 00:31:00"), 1L))
      q.processAllAvailable()
      val rows = spark.table("win_out").select("k", "n", "vol")
        .as[(Long, Long, Long)].collect().toSet
      assert(rows === Set((1L, 2L, 12L)))
    } finally q.stop()
  }

  test("bronze foreachBatch sink lands date-partitioned parquet (K2/D5)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val dir = Files.createTempDirectory("graft_bronze_test").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val in = MemoryStream[Tick]
    val q = Pipelines.bronzeSink(in.toDF(), s"$dir/data", ckpt, tsCol = "ts").start()
    try {
      in.addData(Tick(1L, ts("2026-01-01 10:00:00"), 1L),
        Tick(2L, ts("2026-01-02 10:00:00"), 2L))
      q.processAllAvailable()
      val back = spark.read.parquet(s"$dir/data")
      assert(back.count() === 2)
      assert(back.select("ingest_date").distinct().count() === 2)
      // partition pruning works on the landed layout
      assert(back.filter(col("ingest_date") === "2026-01-01").count() === 1)
    } finally q.stop()
  }

  test("bronze write is idempotent under micro-batch replay (W7 exactly-once)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_bronze_replay").toString
    val batch = Seq(Tick(1L, ts("2026-01-01 10:00:00"), 1L),
      Tick(2L, ts("2026-01-01 11:00:00"), 2L)).toDF()
    Pipelines.bronzeBatchWrite(s"$dir/data", "ts")(batch, 7L)
    // a crashed-and-restarted query redelivers the same batch id
    Pipelines.bronzeBatchWrite(s"$dir/data", "ts")(batch, 7L)
    assert(spark.read.parquet(s"$dir/data").count() === 2) // not 4
    // a NEW batch id appends
    Pipelines.bronzeBatchWrite(s"$dir/data", "ts")(batch, 8L)
    assert(spark.read.parquet(s"$dir/data").count() === 4)
  }

  test("the flagship batch operator (Book.summarize) runs unchanged in a streaming query") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[String]
    val parsed = in.toDF()
      .select(from_json(col("value"), graft.schemas.EventSchemas.wsEvent).as("e"))
      .filter(col("e.event_type") === "book")
    def cents(side: org.apache.spark.sql.Column) = transform(side, l =>
      struct(l.getField("price").cast("long").as("price_c"),
        l.getField("size").cast("long").as("size_c")))
    val out = graft.ops.Book.summarize(
      parsed.select(col("e.asset_id").as("order_key"),
        cents(col("e.bids")).as("bids"), cents(col("e.asks")).as("asks")),
      Seq("order_key"))
    val q = out.writeStream.format("memory").queryName("book_stream")
      .outputMode("append").start()
    try {
      in.addData(
        """{"event_type":"book","asset_id":"m1",
          |"bids":[{"price":"100","size":"5"},{"price":"102","size":"7"}],
          |"asks":[{"price":"110","size":"4"}]}""".stripMargin.replace("\n", ""),
        """{"event_type":"book","asset_id":"m2","bids":[],"asks":[{"price":"1","size":"1"}]}""",
        """{"event_type":"price_change","asset_id":"m3"}""")
      q.processAllAvailable()
      val rows = spark.table("book_stream")
      assert(rows.count() === 1) // m2 gated (empty bids), m3 demuxed away
      val r = rows.head()
      assert(r.getAs[String]("order_key") === "m1")
      assert(r.getAs[Long]("best_bid_price_c") === 102L)
      assert(r.getAs[Long]("total_ask_volume_c") === 4L)
    } finally q.stop()
  }

  test("S3/S4: file-source poll results flow through discovery filters + keyed lookup") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_poll").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("slug", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("question", org.apache.spark.sql.types.StringType)))
    // one "poll result" file lands before the query starts
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/poll1.json"),
      """{"slug":"btc-updown-1","question":"Bitcoin Up or Down?"}
        |{"slug":"weather-1","question":"Will it rain?"}""".stripMargin)
    val src = Pipelines.fileJsonSource(spark, dir, schema)
    val dim = Seq(("btc-updown-1", "cond-99")).toDF("slug", "condition_id")
    val out = Pipelines.keyedLookup(
      graft.ops.Discovery.keywordFilter(src, col("question"), Seq("bitcoin", "btc")),
      dim, "slug")
    val q = out.writeStream.format("memory").queryName("poll_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("poll_out")
        .select("slug", "condition_id").as[(String, String)].collect()
      assert(rows.toSeq === Seq(("btc-updown-1", "cond-99"))) // weather filtered
      // the NEXT poll lands a new file mid-stream: incremental discovery,
      // plus a lookup miss that must survive with a null condition_id
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/poll2.json"),
        """{"slug":"btc-updown-2","question":"BTC next window?"}""")
      q.processAllAvailable()
      val all = spark.table("poll_out")
        .select("slug", "condition_id").collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).toSet
      assert(all === Set(("btc-updown-1", Some("cond-99")),
        ("btc-updown-2", None))) // miss kept, visible downstream
    } finally q.stop()
  }

  test("K3: routed bronze sink lands one pruned partition per topic") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val root = Files.createTempDirectory("graft_routed").toString + "/bronze"
    val ckpt = Files.createTempDirectory("graft_routed_ckpt").toString
    val in = MemoryStream[KafkaRec]
    val q = Pipelines.routedBronzeSink(in.toDF(), root, ckpt).start()
    try {
      in.addData(
        KafkaRec("coinbase.ticker", """{"price":"1"}""", ts("2026-01-01 10:00:00")),
        KafkaRec("coinbase.ticker", """{"price":"2"}""", ts("2026-01-01 11:00:00")),
        KafkaRec("polymarket.book", """{"bids":[]}""", ts("2026-01-01 10:30:00")))
      q.processAllAvailable()
      val back = spark.read.parquet(root)
      assert(back.count() === 3)
      // per-topic directories exist (the 7-writer-threads analog) and a
      // topic filter prunes to its own partition
      assert(back.select("topic").distinct().as[String].collect().toSet ===
        Set("coinbase.ticker", "polymarket.book"))
      assert(back.filter(col("topic") === "polymarket.book").count() === 1)
      // per-topic directories nest under the batch_id partition level
      // (the W7 replay-idempotence discipline)
      assert(new java.io.File(root).listFiles()
        .filter(_.getName.startsWith("batch_id="))
        .exists(b => new java.io.File(b, "topic=coinbase.ticker").isDirectory))
    } finally q.stop()
  }

  test("K4: error side channel lands good and error rows in separate paths per micro-batch") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val base = Files.createTempDirectory("graft_errch").toString
    val ckpt = Files.createTempDirectory("graft_errch_ckpt").toString
    val in = MemoryStream[Tick]
    val q = Pipelines.withErrorChannel(in.toDF(), col("v") < 0L,
      s"$base/good", s"$base/errors", ckpt).start()
    try {
      in.addData(Tick(1L, ts("2026-01-01 10:00:00"), 5L),
        Tick(2L, ts("2026-01-01 10:00:01"), -1L),
        Tick(3L, ts("2026-01-01 10:00:02"), 7L))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$base/good").select("k").as[Long]
        .collect().toSet === Set(1L, 3L))
      assert(spark.read.parquet(s"$base/errors").select("k").as[Long]
        .collect().toSet === Set(2L))
    } finally q.stop()
    // a crashed-and-restarted query redelivers the same batch id: each
    // row still lands once on its side
    val replay = Files.createTempDirectory("graft_errch_replay").toString
    val write = Pipelines.errorChannelBatchWrite(col("v") < 0L,
      s"$replay/good", s"$replay/errors") _
    val batch = Seq(Tick(1L, ts("2026-01-01 10:00:00"), 5L),
      Tick(2L, ts("2026-01-01 10:00:01"), -1L)).toDF()
    write(batch, 3L)
    write(batch, 3L)
    assert(spark.read.parquet(s"$replay/good").select("k").as[Long]
      .collect().toSeq === Seq(1L))
    assert(spark.read.parquet(s"$replay/errors").select("k").as[Long]
      .collect().toSeq === Seq(2L))
  }

  test("K1: kafkaSink's value projection serializes the whole row as reference-shaped JSON") {
    val s = spark
    import s.implicits._
    val df = Seq(("BTC-USD", 97000.5, 1700000000L))
      .toDF("product_id", "price", "time")
    val out = Pipelines.jsonValue(df).as[String].collect()
    assert(out.toSeq ===
      Seq("""{"product_id":"BTC-USD","price":97000.5,"time":1700000000}"""))
  }

  test("streaming session window merges within the gap and closes via watermark") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Tick]
    val agg = Pipelines.sessionAgg(in.toDF(), "ts", "1 minute", "5 minutes",
      Seq(col("k")), Seq(count(lit(1)).as("n"), sum(col("v")).as("vol")))
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      in.addData(
        Tick(1L, ts("2026-01-01 00:00:00"), 1L),
        Tick(1L, ts("2026-01-01 00:03:00"), 2L),  // within gap → same session
        Tick(1L, ts("2026-01-01 00:20:00"), 4L))  // new session
      q.processAllAvailable()
      // nothing closed yet; advance the watermark far past both sessions
      in.addData(Tick(2L, ts("2026-01-01 01:00:00"), 0L))
      q.processAllAvailable()
      val rows = spark.table("sess_out").filter(col("k") === 1L)
        .select("n", "vol").as[(Long, Long)].collect().toSet
      assert(rows === Set((2L, 3L), (1L, 4L))) // merged pair + singleton
    } finally q.stop()
  }

  test("stream-stream interval join matches right events within the lag window; state evicts by watermark") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val trades = MemoryStream[Tick]  // left: k, ts, v
    val quotes = MemoryStream[Quote] // right: qk, qts, px
    val joined = Pipelines.intervalJoin(trades.toDF(), quotes.toDF(),
      leftKey = "k", rightKey = "qk", leftTs = "ts", rightTs = "qts",
      maxLag = "10 seconds", watermark = "5 seconds")
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    try {
      quotes.addData(
        Quote(1L, ts("2026-01-01 00:00:02"), 100L), // 8s before trade — in window
        Quote(1L, ts("2026-01-01 00:00:09"), 101L), // 1s before — in window
        Quote(1L, ts("2026-01-01 00:00:11"), 102L), // AFTER the trade — excluded
        Quote(2L, ts("2026-01-01 00:00:09"), 200L)) // other key — excluded
      trades.addData(Tick(1L, ts("2026-01-01 00:00:10"), 7L))
      q.processAllAvailable()
      // advance both watermarks far past the trade so inner-join results
      // finalize — distinct keys so the sentinels can't match each other
      quotes.addData(Quote(8L, ts("2026-01-01 00:10:00"), 0L))
      trades.addData(Tick(9L, ts("2026-01-01 00:10:00"), 0L))
      q.processAllAvailable()
      val rows = spark.table("ij_out").select("k", "v", "px")
        .as[(Long, Long, Long)].collect().toSet
      assert(rows === Set((1L, 7L, 100L), (1L, 7L, 101L)))
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched left events with nulls after the watermark closes") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val trades = MemoryStream[Tick]
    val quotes = MemoryStream[Quote]
    val joined = Pipelines.intervalJoin(trades.toDF(), quotes.toDF(),
      leftKey = "k", rightKey = "qk", leftTs = "ts", rightTs = "qts",
      maxLag = "10 seconds", watermark = "5 seconds", joinType = "leftOuter")
    val q = joined.writeStream.format("memory").queryName("loj_out")
      .outputMode("append").start()
    try {
      quotes.addData(Quote(1L, ts("2026-01-01 00:00:09"), 101L))
      trades.addData(
        Tick(1L, ts("2026-01-01 00:00:10"), 7L),  // matches the quote
        Tick(2L, ts("2026-01-01 00:00:10"), 8L))  // no quote for key 2
      q.processAllAvailable()
      // push both watermarks far past the trades: the unmatched trade
      // can now be proven matchless and must emit with a null px
      quotes.addData(Quote(8L, ts("2026-01-01 00:10:00"), 0L))
      trades.addData(Tick(9L, ts("2026-01-01 00:10:00"), 0L))
      q.processAllAvailable()
      val rows = spark.table("loj_out").select("k", "v", "px")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
      assert(rows === Set((1L, 7L, Some(101L)), (2L, 8L, None)))
    } finally q.stop()
  }

  test("W7: dropDuplicatesWithinWatermark drops redelivered keys across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Tick]
    val out = Pipelines.dedupWithinWatermark(in.toDF(), Seq("k"), "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData(Tick(1L, ts("2026-01-01 00:00:05"), 10L),
        Tick(1L, ts("2026-01-01 00:00:05"), 10L)) // same-batch duplicate
      q.processAllAvailable()
      in.addData(Tick(1L, ts("2026-01-01 00:00:06"), 11L), // redelivery, next batch
        Tick(2L, ts("2026-01-01 00:00:07"), 20L))
      q.processAllAvailable()
      val rows = spark.table("dedup_out").select("k").as[Long].collect().toSeq
      assert(rows.sorted === Seq(1L, 2L)) // key 1 kept once, not three times
    } finally q.stop()
  }

  test("S8: console debug sink executes (smoke)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val in = MemoryStream[Tick]
    val q = Pipelines.consoleSink(in.toDF()).start()
    try {
      in.addData(Tick(1L, ts("2026-01-01 00:00:00"), 1L))
      q.processAllAvailable() // the sink prints to stdout; executing
                              // without error is the whole contract
    } finally q.stop()
  }

  test("progress listener counts rows without hot-path instrumentation (A9)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val counters = Observability.attach(spark)
    val in = MemoryStream[Tick]
    val q = in.toDF().groupBy("k").count()
      .writeStream.format("memory").queryName("obs_out")
      .outputMode("complete").start()
    try {
      in.addData(Tick(1L, ts("2026-01-01 00:00:00"), 1L),
        Tick(1L, ts("2026-01-01 00:00:01"), 2L), Tick(2L, ts("2026-01-01 00:00:02"), 3L))
      q.processAllAvailable()
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (counters.rows("obs_out") < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(counters.rows("obs_out") === 3L)
      assert(counters.batches("obs_out") >= 1L)
    } finally {
      q.stop()
      spark.streams.removeListener(counters)
    }
  }
}
