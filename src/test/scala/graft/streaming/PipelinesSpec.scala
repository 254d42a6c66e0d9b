package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

final case class Tick(k: Long, ts: Timestamp, v: Long)
final case class Doc(doc_id: Long, ts: Timestamp, text: String)
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

  test("streaming incremental near-dup: arriving docs checked against the static corpus index") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different corpus text about spark physical planning rules"))
      .toDF("doc_id", "text")
    // 6 bands × 2 rows: at tail-dup Jaccard ≈ 0.85 the default 3×4
    // banding has a real (deterministic-per-string) miss chance
    // (0.85⁴ per band); 2-row bands push recall to ~0.999
    val idx = Pipelines.corpusNearDupIndex(corpus, "doc_id", "text",
      bands = 6, rows = 2).persist()
    val in = MemoryStream[(Long, String)]
    val out = Pipelines.streamingIncrementalNearDup(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", idx,
      bands = 6, rows = 2)
    val q = out.writeStream.format("memory").queryName("inc_nd").start()
    try {
      in.addData(
        // near-copy of corpus doc 1 (tail-appended)
        (100L, "the quick brown fox jumps over the lazy dog again and again today more words"),
        // shares nothing with the corpus
        (101L, "totally unrelated fresh crawl content nothing here overlaps at all"))
      q.processAllAvailable()
      val rows = spark.table("inc_nd")
        .select("batch_id", "corpus_id", "jaccard").collect()
      // doc 100 flags against corpus doc 1 only (possibly once per band);
      // doc 101 and corpus doc 2 never surface
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).distinct.toSet
      assert(pairs === Set((100L, 1L)))
      assert(rows.map(_.getDouble(2)).forall(_ >= 0.5))
      // a second micro-batch re-probes the SAME static index (no state
      // carried): a redelivered doc flags again — idempotent-sink contract
      in.addData((100L, "the quick brown fox jumps over the lazy dog again and again today more words"))
      q.processAllAvailable()
      assert(spark.table("inc_nd").select("batch_id").distinct().count() === 1)
    } finally { q.stop(); idx.unpersist() }
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

  test("streaming near-dup candidates: LSH self-join finds copies within the time bound only") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val docs = MemoryStream[Doc]
    val pairs = Pipelines.streamingNearDupCandidates(docs.toDF(),
      idCol = "doc_id", textCol = "text", tsCol = "ts",
      watermark = "5 seconds", maxLag = "10 minutes")
    val q = pairs.writeStream.format("memory").queryName("nd_out")
      .outputMode("append").start()
    try {
      val body = "the polymarket order book streamed another fifteen minute bitcoin window"
      docs.addData(
        Doc(1L, ts("2026-01-01 00:00:01"), body),
        Doc(2L, ts("2026-01-01 00:00:05"), body + " tail"), // near-dup, in window
        Doc(3L, ts("2026-01-01 00:00:07"), "completely different content about nothing shared"),
        Doc(4L, ts("2026-01-01 02:00:00"), body)) // exact copy, 2h late — outside maxLag
      q.processAllAvailable()
      val got = spark.table("nd_out").select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
      assert(got.contains((1L, 2L)), "in-window near-dup must surface")
      assert(!got.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
      assert(!got.exists(p => p._2 == 4L), "copy outside the time bound must not pair")
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

  test("curation pipeline end-to-end: C4 + boilerplate + Gopher + incremental near-dup over multiple micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext

    val footer = "subscribe to our newsletter for daily updates."
    val contentA = Seq( // = corpus doc 1: batch doc 104 is its near-copy
      "the market closed higher after steady morning trading today.",
      "investors watched a rally of technology shares with caution.",
      "volume stayed strong through the afternoon session yesterday.",
      "analysts expect further gains in the coming quarter ahead.",
      "the closing numbers showed a broad based advance overall.")
    val contentB = Seq( // doc 101: unique, should survive everything
      "heavy rain fell across the northern valley during early evening.",
      "rivers rose quickly and a flood warning was issued locally.",
      "emergency crews moved residents of low areas to higher ground.",
      "the storm weakened before midnight according to the forecast office.",
      "damage assessments will continue through the weekend in every district.")
    val contentC = Seq( // = corpus doc 2: batch-2 doc 202 is its near-copy
      "the committee approved a new budget for the public library.",
      "several members praised the plan during a long open meeting.",
      "funding of local programs will increase slightly next year.",
      "the vote passed with a clear majority after debate ended.",
      "residents can read the full proposal at the town office.")
    val contentD = Seq( // doc 201: unique, should survive in batch 2
      "a small bakery opened near the old station this spring.",
      "locals line up early for fresh bread and warm pastry.",
      "the owner trained abroad and returned home with new recipes.",
      "weekend mornings bring the longest queues of the whole week.",
      "reviews in the paper called it the best shop around.")
    val contentE = Seq( // doc 203: unique, decomposed NFC — fixed, survives
      "the riverside cafe\u0301 began serving breakfast at dawn today.",
      "regulars praised the quiet terrace and the fresh coffee there.",
      "a new menu will arrive before the busy summer season starts.",
      "students often stay for hours with books and slow drinks.",
      "the owners plan to extend opening hours on weekend evenings.")
    val contentF = Seq( // doc 105: unique but carries a replacement char
      "the annual fair returned to the central square this weekend.",
      "children enjoyed rides while vendors sold crafts and sweets.",
      "organizers reported record attendance despite the cloudy sky.",
      "music continued into the evening with several local bands.",
      "the mayor thanked volunteers for months of \uFFFD careful planning.")

    val contentG = Seq( // doc 106: arrives as an HTML page — extracted, survives
      "the old lighthouse on the point was repainted last month.",
      "visitors climb the narrow stairs for a wide harbor view.",
      "a small museum at the base displays the original lamp.",
      "guides tell stories of storms and ships from the past.",
      "the keeper cottage now serves tea on summer afternoons.")
    val html106 = "<html><head><style>body{margin:0}</style></head><body>" +
      contentG.map(l => s"<p>$l</p>").mkString +
      "<script>track();</script></body></html>"

    val corpus = Seq((1L, contentA.mkString("\n")), (2L, contentC.mkString("\n")))
      .toDF("doc_id", "text")
    val index = Pipelines.corpusNearDupIndex(corpus, "doc_id", "text").persist()

    val dir = Files.createTempDirectory("graft_curated").toString
    val ckpt = Files.createTempDirectory("graft_cur_ckpt").toString
    val in = MemoryStream[Doc]
    val q = Pipelines.curationSink(in.toDF(), "doc_id", "text", index,
      s"$dir/data", ckpt, gopherMinWords = 20, boilerMinDocs = 2).start()
    try {
      // batch 0: 101 survives; 102 fails C4 (curly); 103 fails Gopher
      // (15 words < 20); 104 passes the gates but near-dups corpus doc 1
      in.addData(
        Doc(101L, ts("2026-01-01 00:00:00"), (contentB :+ footer).mkString("\n")),
        Doc(102L, ts("2026-01-01 00:00:01"),
          "function f() { return 0; }\nthis page is mostly code content here."),
        Doc(103L, ts("2026-01-01 00:00:02"),
          Seq("the quick brown fox runs.", "a lazy dog sleeps nearby.",
            "birds fly over the field.", footer).mkString("\n")),
        Doc(104L, ts("2026-01-01 00:00:03"), (contentA :+ footer).mkString("\n")),
        Doc(105L, ts("2026-01-01 00:00:04"), contentF.mkString("\n")),
        // 106: an HTML page — the extraction stage strips markup and
        // rebuilds line structure from </p> boundaries, then survives
        // every later gate; 107: mostly script, dies at the ratio gate
        Doc(106L, ts("2026-01-01 00:00:05"), html106),
        Doc(107L, ts("2026-01-01 00:00:06"),
          "<script>" + "var x = 1; " * 60 + "</script><p>tiny</p>"))
      q.processAllAvailable()
      // batch 1: 201 survives; 202 near-dups corpus doc 2; 203 carries
      // decomposed NFC — the gate fixes it and it survives composed
      in.addData(
        Doc(201L, ts("2026-01-01 00:01:00"), contentD.mkString("\n")),
        Doc(202L, ts("2026-01-01 00:01:01"), contentC.mkString("\n")),
        Doc(203L, ts("2026-01-01 00:01:02"), contentE.mkString("\n")))
      q.processAllAvailable()

      val out = spark.read.parquet(s"$dir/data")
      val byBatch = out.select(col("batch_id").cast("long"), col("doc_id"),
          col("text"), col("n_tokens"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      assert(byBatch.map(_._2).toSet === Set(101L, 106L, 201L, 203L),
        s"exactly the clean unique docs survive, got ${byBatch.toList}")
      // the HTML page came out as its five content lines, markup gone,
      // line structure rebuilt from the </p> block boundaries
      val (_, _, text106, _) = byBatch.find(_._2 == 106L).get
      assert(text106 === contentG.mkString("\n"))
      // batch isolation: each survivor sits in its own batch partition
      assert(byBatch.collect { case (b, 101L, _, _) => b }.head === 0L)
      assert(byBatch.collect { case (b, 201L, _, _) => b }.head === 1L)
      // 105 (replacement char) was rejected by the encoding gate; 203's
      // decomposed accent came through COMPOSED (the NFC fix applied)
      val (_, _, text203, _) = byBatch.find(_._2 == 203L).get
      assert(text203 === contentE.mkString("\n").replace("e\u0301", "\u00e9"))
      // the shared footer was struck BEFORE fingerprinting/counting
      val (_, _, text101, tok101) = byBatch.find(_._2 == 101L).get
      assert(text101 === contentB.mkString("\n"), "kept lines in order, footer gone")
      assert(tok101 === contentB.map(_.split(" ").length).sum.toLong)
      // the whole chain is stream-static: ZERO streaming state rows
      val state = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
      assert(state.forall(_.numRowsTotal == 0L),
        s"curation must hold no streaming state, got $state")

      // ---- the full hand-off: curated corpus → packed training export.
      // The curationSink output IS the packedExport input — this is the
      // complete ingestion→curation→training-artifact path in one run
      val packDir = Files.createTempDirectory("graft_cur_packed").toString
      val manifest = graft.silver.Export.packedExport(
        out.select("doc_id", "text"), col("doc_id"), col("text"),
        packDir, seqLen = 16, nShards = 2)
      // every curated token lands in exactly one packed span
      val curatedTok = out.agg(sum("n_tokens")).head().getLong(0)
      assert(manifest.agg(sum("n_tokens")).head().getLong(0) === curatedTok)
      // both survivors present in the packed artifact
      val packedDocs = spark.read.parquet(packDir)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(packedDocs === Set(101L, 106L, 201L, 203L))
    } finally {
      q.stop()
      index.unpersist()
    }
  }
}
