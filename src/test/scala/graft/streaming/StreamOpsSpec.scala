package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming ops driven through MemoryStream — asserts the
  * streaming results equal the batch formulation on the same rows
  * (Spark's unified-API contract, which the oracle queries rely on). */
class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Parse as a UTC instant, NOT Timestamp.valueOf (which parses in the
    * JVM default timezone): the day-bucketed ops bucket by UTC epoch
    * day and window() buckets align to the epoch, so local-parse would
    * shift every instant — and some window memberships and all asserted
    * day strings — on a non-UTC machine. */
  private def ts(s: String) = Timestamp.from(
    java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC))

  private val rows = Seq(
    (1L, ts("2024-01-01 10:05:00"), "click", 1.0),
    (2L, ts("2024-01-01 10:20:00"), "click", 2.0),
    (3L, ts("2024-01-01 10:45:00"), "view", 3.0),
    (4L, ts("2024-01-01 11:10:00"), "click", 4.0),
    (5L, ts("2024-01-01 11:40:00"), "view", 5.0))

  test("tumbling agg over a stream matches the batch plan on the same data") {
    val mem = MemoryStream[(Long, Timestamp, String, Double)](spark, 1)
    // sentinel far past the test data pushes the watermark so every 2024
    // window finalizes (append mode only emits windows below watermark);
    // the sentinel's own window stays open and must NOT appear.
    mem.addData(rows :+ ((99L, ts("2025-01-01 00:00:00"), "sentinel", 0.0)): _*)
    val stream = mem.toDF.toDF("event_id", "ts", "event_type", "value")
    val got = StreamOps.runToMemory(spark,
        StreamOps.tumblingAgg(stream, "ts", "10 minutes", "1 hour", "event_type", "value"),
        "tumbling_t")
      .select("win_start", "event_type", "n", "total")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = rows.toDF("event_id", "ts", "event_type", "value")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("window.start"), col("event_type"), col("n"), col("total"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == batch)
    assert(got.size == 4)
  }

  test("streaming dedup within watermark drops repeated keys") {
    val mem = MemoryStream[(Long, Timestamp)](spark, 1)
    mem.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:01:00")),
      (2L, ts("2024-01-01 10:02:00")))
    val stream = mem.toDF.toDF("k", "ts")
    val got = StreamOps.runToMemory(spark,
      StreamOps.dedupStream(stream, "ts", "1 hour", Seq("k")), "dedup_t")
    assert(got.select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("stream-static enrichment joins the broadcast dim per micro-batch") {
    val mem = MemoryStream[(Long, Timestamp, String, Double)](spark, 1)
    mem.addData(rows: _*)
    val stream = mem.toDF.toDF("event_id", "ts", "event_type", "value")
    val dim = Seq(("click", 10L), ("view", 20L)).toDF("event_type", "weight")
    val got = StreamOps.runToMemory(spark,
        StreamOps.enrich(stream, dim, "event_type"), "enrich_t")
      .select("event_id", "weight")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = rows.toDF("event_id", "ts", "event_type", "value")
      .join(dim, Seq("event_type"), "left")
      .select("event_id", "weight")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch && got.size == 5)
  }

  test("flatMapGroupsWithState accumulates running totals across batches") {
    val mem = MemoryStream[StreamOps.KeyedEvent](spark, 1)
    // no idle timeout in the test: processing-time timeouts make the
    // engine schedule wake-up batches forever, which stalls
    // processAllAvailable; production default keeps the 1h expiry
    val out = StreamOps.runningTotals(spark, mem.toDS(), idleTimeout = None)
    val q = out.writeStream.format("memory").queryName("running_t")
      .outputMode("append").start()
    mem.addData(StreamOps.KeyedEvent(1L, 10.0), StreamOps.KeyedEvent(1L, 5.0),
      StreamOps.KeyedEvent(2L, 1.0))
    q.processAllAvailable()
    mem.addData(StreamOps.KeyedEvent(1L, 1.0))
    q.processAllAvailable()
    q.stop()
    val finalRows = spark.table("running_t")
      .groupBy("user_id").agg(max("n").as("n"), max("total").as("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // state carried across batches: user 1 ends at n=3 total=16
    assert(finalRows == Set((1L, 3L, 16.0), (2L, 1L, 1.0)))
  }

  test("file-source stream (parquet dir) aggregates like the batch read") {
    // the real production entry: readStream over a growing directory
    val dir = java.nio.file.Files.createTempDirectory("stream-src").toString
    val batch = rows.toDF("event_id", "ts", "event_type", "value")
    batch.write.mode("overwrite").parquet(dir) // temp dir already exists
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    assert(stream.isStreaming)
    val got = StreamOps.runToMemory(spark,
        stream.groupBy("event_type").count(), "filesrc_t", outputMode = "complete")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("click", 3L), ("view", 2L)))
  }

  test("stream-stream interval join matches right events within the window") {
    val clicks = MemoryStream[(Long, Timestamp)](spark, 1)
    val buys = MemoryStream[(Long, Timestamp)](spark, 1)
    clicks.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
    buys.addData(
      (1L, ts("2024-01-01 10:05:00")),  // within 10 min of click -> match
      (1L, ts("2024-01-01 11:00:00")),  // too late -> no match
      (2L, ts("2024-01-01 09:55:00")))  // before the click -> no match
    val joined = StreamOps.intervalJoin(
      clicks.toDF.toDF("user_id", "click_ts"),
      buys.toDF.toDF("user_id", "buy_ts"),
      keyCol = "user_id", leftTs = "click_ts", rightTs = "buy_ts",
      watermark = "1 hour", within = "10 minutes")
    val got = StreamOps.runToMemory(spark,
        joined.select(col("l.user_id"), col("buy_ts")), "ssjoin_t")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    assert(got.toSeq == Seq((1L, ts("2024-01-01 10:05:00"))))
  }

  test("session windows on a stream group by inactivity gap") {
    val mem = MemoryStream[(Long, Timestamp)](spark, 1)
    mem.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00")),
      (1L, ts("2024-01-01 12:00:00")), (2L, ts("2024-01-01 10:00:00")),
      (99L, ts("2025-01-01 00:00:00"))) // watermark sentinel; its session stays open
    val stream = mem.toDF.toDF("user_id", "ts")
    val got = StreamOps.runToMemory(spark,
        StreamOps.sessionAgg(stream, "ts", "10 minutes", "30 minutes", "user_id"),
        "session_t")
      .select("user_id", "n_events")
      .where(col("user_id") =!= 99L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // user 1: one 2-event session + one 1-event session; user 2: one session
    assert(got.sorted.toSeq == Seq((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("batch sessionize == streaming session_window: same boundaries, including the exact-gap edge") {
    val data = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00")),
      (1L, ts("2024-01-01 10:40:00")), // exactly last+gap → EXTENDS in BOTH forms (closed interval)
      (1L, ts("2024-01-01 12:00:00")), (2L, ts("2024-01-01 10:00:00")))
    val mem = MemoryStream[(Long, Timestamp)](spark, 1)
    mem.addData(data: _*)
    mem.addData((99L, ts("2025-01-01 00:00:00"))) // watermark sentinel closes the rest
    val streamGot = StreamOps.runToMemory(spark,
        StreamOps.sessionAgg(mem.toDF.toDF("user_id", "ts"), "ts",
          "10 minutes", "30 minutes", "user_id"),
        "session_twin_t")
      .where(col("user_id") =!= 99L)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    val batchGot = graft.ops.EventAnalytics.sessionize(
        data.toDF("user_id", "ts"), "user_id", "ts", "ts", gapSeconds = 1800L)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    assert(streamGot == batchGot, s"stream $streamGot vs batch $batchGot")
    // user 1: {10:00,10:10,10:40} (the 10:40 touch extends), {12:00};
    // user 2: one session
    assert(batchGot.size == 3)
    assert(batchGot.contains((1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:10:00"), 3L)))
  }

  test("stateful debounce stream matches the batch adjacent-gap verdicts across batches") {
    val h = 3600L * 1000000 // one hour in micros
    val evs = Seq(
      StreamOps.TypedEvent(10L, 1L, "click", 0L),
      StreamOps.TypedEvent(11L, 1L, "click", 1 * h),
      StreamOps.TypedEvent(13L, 1L, "view", 0L),
      // second micro-batch: state must carry user 1's last click (1h)
      StreamOps.TypedEvent(12L, 1L, "click", 30 * h),
      StreamOps.TypedEvent(14L, 2L, "click", 0L))
    val mem = MemoryStream[StreamOps.TypedEvent](spark, 1)
    val out = StreamOps.debounceStream(spark, mem.toDS(),
      windowSeconds = 24 * 3600L, idleTimeout = None)
    val q = out.writeStream.format("memory").queryName("debounce_t")
      .outputMode("append").start()
    mem.addData(evs.take(3): _*)
    q.processAllAvailable()
    mem.addData(evs.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("debounce_t").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4))).toSet
    val batch = graft.ops.EventAnalytics.debounce(
        evs.toDF().withColumn("ts", timestamp_micros(col("ts_us"))),
        "user_id", "event_type", "ts", "event_id", windowSeconds = 24 * 3600L)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4))).toSet
    assert(stream == batch)
    // the 1h repeat was suppressed; the 29h-gap click was kept
    assert(stream.contains((11L, 1 * h, false)) && stream.contains((12L, 29 * h, true)))
  }

  test("debounce stream recovers state from checkpoint across a restart") {
    val h = 3600L * 1000000
    val b1 = Seq(
      StreamOps.TypedEvent(10L, 1L, "click", 0L),
      StreamOps.TypedEvent(11L, 1L, "click", 1 * h))
    val b2 = Seq(
      // 19h after the pre-restart click: suppressed ONLY if the state
      // store came back from the checkpoint (lost state → gap -1, kept)
      StreamOps.TypedEvent(12L, 1L, "click", 20 * h),
      StreamOps.TypedEvent(13L, 1L, "click", 50 * h))
    val mem = MemoryStream[StreamOps.TypedEvent](spark, 1)
    val out = StreamOps.debounceStream(spark, mem.toDS(),
      windowSeconds = 24 * 3600L, idleTimeout = None)
    // the memory sink refuses checkpoint recovery; the file sink is the
    // fault-tolerant one (exactly-once via its _spark_metadata log)
    val ckpt = java.nio.file.Files.createTempDirectory("debounce-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("debounce-out").toString
    def startQuery() = out.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = startQuery()
    mem.addData(b1: _*)
    q1.processAllAvailable()
    q1.stop() // kill mid-input: b2 arrives while no query is running
    mem.addData(b2: _*)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("gap_us"),
        r.getAs[Boolean]("kept"))).toSet
    val batch = graft.ops.EventAnalytics.debounce(
        (b1 ++ b2).toDF().withColumn("ts", timestamp_micros(col("ts_us"))),
        "user_id", "event_type", "ts", "event_id", windowSeconds = 24 * 3600L)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4))).toSet
    assert(got == batch)
    // the restart-crossing verdict: gap measured against pre-restart state
    assert(got.contains((12L, 19 * h, false)))
  }

  test("funnel stream recovers its case-class state from checkpoint across a restart") {
    val h = 3600L * 1000000
    // u1's purchase arrives AFTER the restart: counted at stage 2 only if
    // the FunnelState (stage, lastTs, deadline) survived the checkpoint
    val b1 = Seq(
      StreamOps.TypedEvent(20L, 1L, "view", 0L),
      StreamOps.TypedEvent(21L, 1L, "click", 1 * h))
    val b2 = Seq(StreamOps.TypedEvent(22L, 1L, "purchase", 2 * h))
    val mem = MemoryStream[StreamOps.TypedEvent](spark, 1)
    val out = StreamOps.funnelStream(spark, mem.toDS(),
      Seq("view", "click", "purchase"), horizonHours = 72, idleTimeout = None)
    val ckpt = java.nio.file.Files.createTempDirectory("funnel-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("funnel-out").toString
    def startQuery() = out.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = startQuery()
    mem.addData(b1: _*)
    q1.processAllAvailable()
    q1.stop()
    mem.addData(b2: _*)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("stage"), r.getAs[String]("step"))).toSet
    assert(got == Set((0L, "view"), (1L, "click"), (2L, "purchase")))
  }

  test("stateful funnel stream reproduces the batch stage counts across batches") {
    val h = 3600L * 1000000
    val evs = Seq(
      // u1 converts fully — purchase arrives in the SECOND micro-batch
      StreamOps.TypedEvent(20L, 1L, "view", 0L),
      StreamOps.TypedEvent(21L, 1L, "click", 1 * h),
      // u2 clicks outside the 72h window
      StreamOps.TypedEvent(22L, 2L, "view", 0L),
      StreamOps.TypedEvent(23L, 2L, "click", 100 * h),
      // u3's click precedes the view — order matters
      StreamOps.TypedEvent(24L, 3L, "click", 0L),
      StreamOps.TypedEvent(25L, 3L, "view", 1 * h),
      // batch 2
      StreamOps.TypedEvent(26L, 1L, "purchase", 2 * h))
    val mem = MemoryStream[StreamOps.TypedEvent](spark, 1)
    val out = StreamOps.funnelStream(spark, mem.toDS(),
      Seq("view", "click", "purchase"), horizonHours = 72, idleTimeout = None)
    val q = out.writeStream.format("memory").queryName("funnel_t")
      .outputMode("append").start()
    mem.addData(evs.take(6): _*)
    q.processAllAvailable()
    mem.addData(evs.drop(6): _*)
    q.processAllAvailable()
    q.stop()
    val streamCounts = spark.table("funnel_t")
      .groupBy("stage").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchCounts = graft.ops.EventAnalytics.funnel(
        evs.toDF().withColumn("ts", timestamp_micros(col("ts_us"))),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
        horizonHours = 72)
      .where(col("n_users") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(streamCounts == batchCounts)
    assert(streamCounts == Map(0L -> 3L, 1L -> 1L, 2L -> 1L))
  }

  test("event-time debounce: verdicts follow EVENT order under skewed arrival — bit-equal to the batch walk") {
    val h = 3600L * 1000000 // one hour in micros
    val mem = MemoryStream[StreamOps.TypedEvent](spark, 1)
    val out = StreamOps.debounceStreamEventTime(spark, mem.toDS(),
      windowSeconds = 24 * 3600L, lateness = "20 hours")
    val q = out.writeStream.format("memory").queryName("det_t")
      .outputMode("append").start()
    // base offset: an event at EXACTLY the initial epoch-0 watermark
    // would be filtered as late before the operator ever saw it
    val b = 1000 * h
    // u1 clicks at +0h and +30h arrive first; the +12h click arrives LATE
    mem.addData(
      StreamOps.TypedEvent(10L, 1L, "click", b),
      StreamOps.TypedEvent(13L, 1L, "click", b + 30 * h))
    q.processAllAvailable()
    mem.addData(
      StreamOps.TypedEvent(11L, 1L, "click", b + 12 * h), // late, in horizon
      StreamOps.TypedEvent(14L, 1L, "click", b + 40 * h))
    q.processAllAvailable()
    // sentinel on another key pushes the watermark past +40h
    mem.addData(StreamOps.TypedEvent(99L, 9L, "click", b + 70 * h))
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("det_t").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4))).toSet
    // the law: released verdicts bit-equal the batch walk in event order
    val u1 = Seq((10L, b), (11L, b + 12 * h), (13L, b + 30 * h),
        (14L, b + 40 * h))
      .map { case (id, t) => StreamOps.TypedEvent(id, 1L, "click", t) }
    val batch = graft.ops.EventAnalytics.debounce(
        u1.toDF().withColumn("ts", timestamp_micros(col("ts_us"))),
        "user_id", "event_type", "ts", "event_id", windowSeconds = 24 * 3600L)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4))).toSet
    assert(stream == batch, s"stream=$stream batch=$batch")
    // the arrival-order walk would judge 30h against 0h (gap 30h, KEPT);
    // event order judges it against the late 12h click — suppressed
    assert(stream.contains((13L, 18 * h, false)), stream.toString)
    assert(stream.contains((10L, -1L, true)) &&
      stream.contains((11L, 12 * h, false)) &&
      stream.contains((14L, 10 * h, false)), stream.toString)
  }

  test("event-time funnel: a conversion whose steps arrive out of order still counts — bit-equal to the batch machine") {
    val h = 3600L * 1000000
    val mem = MemoryStream[StreamOps.TypedEvent](spark, 1)
    val out = StreamOps.funnelStreamEventTime(spark, mem.toDS(),
      Seq("view", "click", "purchase"), horizonHours = 72,
      lateness = "20 hours")
    val q = out.writeStream.format("memory").queryName("fet_t")
      .outputMode("append").start()
    // the click ARRIVES before the view it follows in event time — the
    // arrival-time machine would never leave stage 0
    val b = 1000 * h // clear of the epoch-0 initial watermark
    mem.addData(StreamOps.TypedEvent(21L, 1L, "click", b + 1 * h))
    q.processAllAvailable()
    mem.addData(
      StreamOps.TypedEvent(20L, 1L, "view", b), // late, in horizon
      StreamOps.TypedEvent(22L, 1L, "purchase", b + 2 * h))
    q.processAllAvailable()
    mem.addData(StreamOps.TypedEvent(99L, 9L, "view", b + 100 * h))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("fet_t").where(col("user_id") === 1L).collect()
      .map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set((0L, "view", b), (1L, "click", b + 1 * h),
      (2L, "purchase", b + 2 * h)), got.toString)
    // stage counts equal the batch funnel over u1's admitted rows
    val u1 = Seq(
      StreamOps.TypedEvent(20L, 1L, "view", b),
      StreamOps.TypedEvent(21L, 1L, "click", b + 1 * h),
      StreamOps.TypedEvent(22L, 1L, "purchase", b + 2 * h))
    val batchCounts = graft.ops.EventAnalytics.funnel(
        u1.toDF().withColumn("ts", timestamp_micros(col("ts_us"))),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
        horizonHours = 72)
      .where(col("n_users") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val streamCounts = spark.table("fet_t").where(col("user_id") === 1L)
      .groupBy("stage").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamCounts == batchCounts)
  }

  test("streaming HLL: estimate after any batch prefix equals the batch sketch over the same rows") {
    import spark.implicits._
    val mem = MemoryStream[StreamOps.KeyedItem](spark, 1)
    val out = StreamOps.hllDistinctStream(spark, mem.toDS(), p = 9,
      idleTimeout = None)
    val q = out.writeStream.format("memory").queryName("hll_t")
      .outputMode("append").start()
    val batch1 = (1 to 400).map(i => StreamOps.KeyedItem("g0", s"k${i % 150}")) ++
      (1 to 100).map(i => StreamOps.KeyedItem("g1", s"k$i"))
    mem.addData(batch1: _*)
    q.processAllAvailable()
    val batch2 = (1 to 300).map(i => StreamOps.KeyedItem("g0", s"k${i % 500}"))
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    // most recent emission per group = state after all batches
    val streamed = spark.table("hll_t")
      .groupBy("group").agg(max(struct(col("n_items"), col("hll_est"))).as("s"))
      .select(col("group"), col("s.n_items"), col("s.hll_est"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val all = (batch1 ++ batch2).toDF("group", "item")
    for (g <- Seq("g0", "g1")) {
      val rows = all.where(col("group") === g)
      val batchEst = graft.ops.Sketches.hllDistinct(rows, "item")
        .collect()(0).getDouble(0)
      assert(streamed(g)._2 == batchEst,
        s"group $g: stream=${streamed(g)._2} batch=$batchEst")
      assert(streamed(g)._1 == rows.count())
    }
    // and the mid-stream emission was the sketch of batch 1 alone
    val firstG0 = spark.table("hll_t")
      .where(col("group") === "g0").orderBy(col("n_items")).limit(1)
      .collect()(0).getDouble(2)
    val batch1G0 = graft.ops.Sketches.hllDistinct(
      batch1.filter(_.group == "g0").toDF("group", "item"), "item")
      .collect()(0).getDouble(0)
    assert(firstG0 == batch1G0)
  }

  test("bloom dedup stream: duplicates always drop (across batches), novel items pass at low fill") {
    import spark.implicits._
    val mem = MemoryStream[StreamOps.KeyedItem](spark, 1)
    val out = StreamOps.bloomDedupStream(spark, mem.toDS(),
      numHashes = 4, numBits = 1 << 16, idleTimeout = None)
    val q = out.writeStream.format("memory").queryName("bloomdedup_t")
      .outputMode("append").start()
    // batch 1: 200 novel + 100 in-batch duplicates
    mem.addData(((1 to 200) ++ (1 to 100)).map(i => StreamOps.KeyedItem("g", s"k$i")): _*)
    q.processAllAvailable()
    // batch 2: 100 cross-batch duplicates + 100 novel
    mem.addData(((1 to 100) ++ (201 to 300)).map(i => StreamOps.KeyedItem("g", s"k$i")): _*)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("bloomdedup_t")
      .collect().map(r => (r.getString(1), r.getBoolean(2)))
    assert(rows.length == 500)
    val keptPerItem = rows.groupBy(_._1).view.mapValues(_.count(_._2)).toMap
    // one-sided: an item is NEVER kept twice (duplicates hit their own bits)
    assert(keptPerItem.values.forall(_ <= 1), "an item was kept twice")
    // at 300 distinct / 65536 bits / k=4 the per-item fp rate is ~1e-7
    // (~7e-6 across the run): every first occurrence must have been kept
    assert(keptPerItem.size == 300 && keptPerItem.values.forall(_ == 1),
      s"${keptPerItem.count(_._2 == 0)} novel items spuriously dropped")
  }

  test("bloom dedup stream verdicts are bit-compatible with the batch-built filter") {
    import spark.implicits._
    // Wave 1 seeds the stream bitmap; wave 2 probes it. Wave-2 items
    // mutate the bitmap as they process (every item sets its bits), so
    // per-item equality against a fixed filter is order-dependent —
    // instead assert the order-independent SANDWICH that pins the hash
    // replication from both sides:
    //   kept(i)    ⟹ NOT member of bloomBits(wave1)         (lower bound)
    //   dropped(i) ⟹     member of bloomBits(wave1 ∪ wave2) (upper bound)
    // A drifted stream hash breaks one of the two with high probability
    // at this deliberately small bitmap (4k bits, real collisions).
    val wave1 = (1 to 400).map(i => s"seed$i")
    val wave2 = (1 to 400).map(i => s"probe$i")
    val mem = MemoryStream[StreamOps.KeyedItem](spark, 1)
    val out = StreamOps.bloomDedupStream(spark, mem.toDS(),
      numHashes = 4, numBits = 1 << 12, idleTimeout = None)
    val q = out.writeStream.format("memory").queryName("bloomcompat_t")
      .outputMode("append").start()
    mem.addData(wave1.map(k => StreamOps.KeyedItem("g", k)): _*)
    q.processAllAvailable()
    mem.addData(wave2.map(k => StreamOps.KeyedItem("g", k)): _*)
    q.processAllAvailable()
    q.stop()
    val streamKept = spark.table("bloomcompat_t")
      .collect().map(r => r.getString(1) -> r.getBoolean(2)).toMap
    def membership(keys: Seq[String]) = {
      val f = graft.ops.Sketches.bloomBits(keys.toDF("k"), "k", 4, 1 << 12)
      graft.ops.Sketches.bloomMightContain(wave2.toDF("k"), f, "k")
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    }
    val memberW1 = membership(wave1)
    val memberAll = membership(wave1 ++ wave2)
    wave2.foreach { k =>
      if (streamKept(k))
        assert(!memberW1(k), s"$k kept by stream but member of the wave-1 filter")
      else
        assert(memberAll(k), s"$k dropped by stream but not even in the full filter")
    }
    // the bounds only bite if collisions actually happened
    assert(memberW1.values.count(identity) > 0,
      "no false positives generated — bitmap too large to exercise agreement")
  }

  /** One null-only case per arrival-time sketch op: a group whose batch
    * holds only null values emits nothing and holds no state row (the
    * store's numRowsTotal), and a null-only batch for a group that holds
    * state emits nothing new. */
  private def nullOnlyCase[T: Encoder](name: String, real: T,
      nullFor: String => T)(op: Dataset[T] => Dataset[_]): Unit =
    test(s"streaming $name: a null-only batch allocates no state and emits no row") {
      val mem = MemoryStream[T](spark, 1)
      val table = "nulls_" + name.filter(_.isLetter)
      val q = op(mem.toDS()).writeStream.format("memory").queryName(table)
        .outputMode("append").start()
      def rowsOf(g: String) = spark.table(table).where(col("group") === g).count()
      mem.addData(nullFor("junk"), nullFor("junk"), real)
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
      val realRows = rowsOf("real")
      // second batch: only a null for the group that already holds state
      mem.addData(nullFor("real"))
      q.processAllAvailable()
      q.stop()
      assert(rowsOf("junk") == 0, "null-only group must not emit")
      assert(stateRows == 1L, s"null-only group must not allocate state: $stateRows rows")
      assert(realRows == 1L && rowsOf("real") == 1L,
        "a null-only batch against existing state must not re-emit")
    }

  nullOnlyCase("HLL", StreamOps.KeyedItem("real", "k1"),
      StreamOps.KeyedItem(_, null)) { ds =>
    StreamOps.hllDistinctStream(spark, ds, p = 9, idleTimeout = None)
  }
  nullOnlyCase("Bloom dedup", StreamOps.KeyedItem("real", "k1"),
      StreamOps.KeyedItem(_, null)) { ds =>
    StreamOps.bloomDedupStream(spark, ds, idleTimeout = None)
  }
  nullOnlyCase("count-min", StreamOps.KeyedItem("real", "k1"),
      StreamOps.KeyedItem(_, null)) { ds =>
    StreamOps.countMinStream(spark, ds, idleTimeout = None)
  }
  nullOnlyCase("z-score", StreamOps.KeyedValue("real", 10L),
      StreamOps.KeyedValue(_, null)) { ds =>
    StreamOps.zscoreStream(spark, ds, idleTimeout = None)
  }
  nullOnlyCase("EWMA", StreamOps.KeyedValue("real", 10L),
      StreamOps.KeyedValue(_, null)) { ds =>
    StreamOps.ewmaStream(spark, ds, idleTimeout = None)
  }
  nullOnlyCase("top-k", StreamOps.KeyedScore("real", "a", 1L),
      StreamOps.KeyedScore(_, "a", null)) { ds =>
    StreamOps.topKStream(spark, ds, k = 3, idleTimeout = None)
  }

  test("streaming count-min: one-sided, null-guarded, bit-identical to the batch sketch over the same prefix") {
    import spark.implicits._
    val mem = MemoryStream[StreamOps.KeyedItem](spark, 1)
    val out = StreamOps.countMinStream(spark, mem.toDS(), depth = 4,
      width = 256, idleTimeout = None)
    val q = out.writeStream.format("memory").queryName("cm_t")
      .outputMode("append").start()
    val batch1 = (1 to 400).map(i => StreamOps.KeyedItem("g", s"k${i % 50}"))
    mem.addData(batch1: _*)
    q.processAllAvailable()
    val batch2 = (1 to 300).map(i => StreamOps.KeyedItem("g", s"k${i % 120}")) :+
      StreamOps.KeyedItem("junk", null)
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("cm_t")
    // null-only group: no state, no emission
    assert(rows.where(col("group") === "junk").count() == 0)
    // last emission per item = estimate over the full two-batch prefix
    val streamed = rows.where(col("group") === "g")
      .groupBy("item").agg(max(struct(col("n_items"), col("est_n"))).as("s"))
      .select(col("item"), col("s.est_n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val all = (batch1 ++ batch2).filter(_.item != null).map(_.item)
    val trueCounts = all.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    // one-sided everywhere: est >= true count at the time of emission,
    // so the FINAL emission is >= the full true count for items whose
    // last appearance was the last batch; for batch-1-only items the
    // final emission covers at least batch 1's count
    for ((item, est) <- streamed)
      assert(est >= math.min(trueCounts(item), batch1.count(_.item == item).toLong),
        s"$item: est $est below its prefix count")
    // bit-compat law: for items in the final batch, the stream's last
    // estimate equals the batch sketch probed over the same rows
    val sk = graft.ops.Sketches.countMinCounters(
      all.toDF("item"), "item", depth = 4, width = 256)
    val batchEst = graft.ops.Sketches.countMinEstimate(
        batch2.filter(_.item != null).map(_.item).distinct.toDF("item"), sk, "item")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((item, est) <- batchEst)
      assert(streamed(item) == est, s"$item: stream ${streamed(item)} != batch $est")
  }

  test("RocksDB state store: HLL stream survives a restart with identical estimates") {
    // Same restart-recovery contract as the HDFS-backed test below, but
    // against the RocksDB provider (changelog checkpointing on) — the
    // backend the 100 TB streaming story assumes. Provider choice is
    // read at query start; flip it back afterwards so the rest of the
    // suite keeps the default backend.
    import spark.implicits._
    StreamOps.withRocksDBStateStore(spark)
    try {
      val b1 = (1 to 300).map(i => StreamOps.KeyedItem("g", s"k${i % 200}"))
      val b2 = (1 to 300).map(i => StreamOps.KeyedItem("g", s"k${i % 450}"))
      val mem = MemoryStream[StreamOps.KeyedItem](spark, 1)
      val out = StreamOps.hllDistinctStream(spark, mem.toDS(), p = 9,
        idleTimeout = None)
      val ckpt = java.nio.file.Files.createTempDirectory("hll-rocks-ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("hll-rocks-out").toString
      def startQuery() = out.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = startQuery()
      mem.addData(b1: _*)
      q1.processAllAvailable()
      q1.stop()
      mem.addData(b2: _*)
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()
      val last = spark.read.parquet(outDir).orderBy(col("n_items").desc)
        .limit(1).collect()(0)
      val batchEst = graft.ops.Sketches.hllDistinct(
        (b1 ++ b2).toDF("group", "item"), "item").collect()(0).getDouble(0)
      assert(last.getLong(1) == 600L)
      assert(last.getDouble(2) == batchEst,
        s"stream=${last.getDouble(2)} batch=$batchEst")
    } finally StreamOps.withDefaultStateStore(spark)
  }

  test("streaming HLL recovers its register-array state from checkpoint across a restart") {
    import spark.implicits._
    val b1 = (1 to 300).map(i => StreamOps.KeyedItem("g", s"k${i % 200}"))
    val b2 = (1 to 300).map(i => StreamOps.KeyedItem("g", s"k${i % 450}"))
    val mem = MemoryStream[StreamOps.KeyedItem](spark, 1)
    val out = StreamOps.hllDistinctStream(spark, mem.toDS(), p = 9,
      idleTimeout = None)
    val ckpt = java.nio.file.Files.createTempDirectory("hll-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("hll-out").toString
    def startQuery() = out.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = startQuery()
    mem.addData(b1: _*)
    q1.processAllAvailable()
    q1.stop() // restart with b2 pending — registers must come back
    mem.addData(b2: _*)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val last = spark.read.parquet(outDir).orderBy(col("n_items").desc)
      .limit(1).collect()(0)
    val batchEst = graft.ops.Sketches.hllDistinct(
      (b1 ++ b2).toDF("group", "item"), "item").collect()(0).getDouble(0)
    // recovered registers fold b2 on top of b1's state: estimate equals
    // the batch sketch over BOTH batches (lost state would estimate
    // only b2's keys)
    assert(last.getLong(1) == 600L)
    assert(last.getDouble(2) == batchEst,
      s"stream=${last.getDouble(2)} batch=$batchEst")
  }

  test("streaming z-score: moments bit-equal the batch prefix; the spike batch flags; null batches guarded") {
    import spark.implicits._
    val mem = MemoryStream[StreamOps.KeyedValue](spark, 1)
    val out = StreamOps.zscoreStream(spark, mem.toDS(), sigmas = 2,
      idleTimeout = None)
    val q = out.writeStream.format("memory").queryName("zs_t")
      .outputMode("append").start()
    // batch 1: nine quiet values; batch 2: one 3-sigma spike;
    // plus a null-only junk group that must never materialize state
    val quiet = (1 to 9).map(_ => StreamOps.KeyedValue("a", 10L))
    mem.addData(quiet :+ StreamOps.KeyedValue("junk", null): _*)
    q.processAllAvailable()
    mem.addData(StreamOps.KeyedValue("a", 100L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("zs_t").orderBy("n").collect()
    assert(!rows.exists(_.getString(0) == "junk"),
      "null-only group must not emit")
    val a = rows.filter(_.getString(0) == "a")
    assert(a.length == 2)
    // state law: moments after each prefix equal the batch aggregates
    assert((a(0).getLong(1), a(0).getLong(2), a(0).getLong(3)) == ((9L, 90L, 900L)))
    assert((a(1).getLong(1), a(1).getLong(2), a(1).getLong(3)) == ((10L, 190L, 10900L)))
    // the quiet batch flags nothing; the spike batch flags its one value
    // ((100*10-190)^2 = 656100 > 4*(10*10900-36100) = 291600 — the
    // EventAnalytics.anomalousDays inequality over the same prefix)
    assert(a(0).getLong(4) == 0L)
    assert(a(1).getLong(4) == 1L)
  }

  test("streaming EWMA: any batch split is bit-identical to the batch window over the completed series") {
    import spark.implicits._
    val series = Seq(65536L, 0L, 65536L, 131072L, 32768L, 65536L)
    val mem = MemoryStream[StreamOps.KeyedValue](spark, 1)
    val out = StreamOps.ewmaStream(spark, mem.toDS(), idleTimeout = None)
    val q = out.writeStream.format("memory").queryName("ew_t")
      .outputMode("append").start()
    // split the series unevenly across three batches + a null-only batch
    mem.addData(series.take(2).map(v => StreamOps.KeyedValue("k", v)): _*)
    q.processAllAvailable()
    mem.addData(StreamOps.KeyedValue("k", null))
    q.processAllAvailable()
    mem.addData(series.slice(2, 5).map(v => StreamOps.KeyedValue("k", v)): _*)
    q.processAllAvailable()
    mem.addData(StreamOps.KeyedValue("k", series(5)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ew_t").orderBy("t")
      .select("ewma").as[Long].collect().toSeq
    val batch = graft.ops.EventAnalytics.ewmaSmooth(
        series.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
          .toDF("key", "seq", "v"),
        Seq(col("key")), Seq(col("seq")), col("v"), as = "ewma")
      .orderBy("seq").select("ewma").as[Long].collect().toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("streaming top-k: leaderboard after any prefix equals batch top-k; re-observed items take max") {
    import spark.implicits._
    val mem = MemoryStream[StreamOps.KeyedScore](spark, 1)
    val out = StreamOps.topKStream(spark, mem.toDS(), k = 3, idleTimeout = None)
    val q = out.writeStream.format("memory").queryName("tk_t")
      .outputMode("append").start()
    mem.addData(
      StreamOps.KeyedScore("g", "a", 10L), StreamOps.KeyedScore("g", "b", 30L),
      StreamOps.KeyedScore("g", "c", 20L), StreamOps.KeyedScore("g", "d", 5L),
      StreamOps.KeyedScore("junk", null, 1L),
      // MinValue must sort WORST, not to rank 1 (the -score overflow)
      StreamOps.KeyedScore("g", "z", Long.MinValue))
    q.processAllAvailable()
    // batch 2: new entrant evicts the floor; a kept item re-observes higher
    mem.addData(
      StreamOps.KeyedScore("g", "e", 25L), StreamOps.KeyedScore("g", "c", 40L))
    q.processAllAvailable()
    q.stop()
    // emissions are keyed by the monotone observation count n — never
    // by sink row order, which no API guarantees
    val rows = spark.table("tk_t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
    assert(!rows.exists(_._1 == "junk"), "null-item group must not emit")
    assert(rows.length == 6, rows.mkString(","))
    val emission1 = rows.filter(_._2 == 5L).sortBy(_._3)
      .map { case (_, _, rank, item, score) => (rank, item, score) }.toSeq
    val emission2 = rows.filter(_._2 == 7L).sortBy(_._3)
      .map { case (_, _, rank, item, score) => (rank, item, score) }.toSeq
    assert(emission1 ==
      Seq((1L, "b", 30L), (2L, "c", 20L), (3L, "a", 10L)), emission1.mkString(","))
    assert(emission2 ==
      Seq((1L, "c", 40L), (2L, "b", 30L), (3L, "e", 25L)), emission2.mkString(","))
  }
  test("event-time z-score: late events fold into THEIR day; over-late rows cannot resurrect a sealed day") {
    import graft.streaming.StreamOps.{TimedValue => TV}
    val mem = MemoryStream[TV](spark, 1)
    val out = StreamOps.zscoreStreamByDay(spark, mem.toDS(),
      lateness = "1 hour", sigmas = 2)
    val q = out.writeStream.format("memory").queryName("zsd_t")
      .outputMode("append").start()
    // batch 1: three day-1 values (watermark advances to 12:00 - 1h)
    mem.addData(
      TV("a", ts("2024-01-01 10:00:00"), 10L),
      TV("a", ts("2024-01-01 11:00:00"), 12L),
      TV("a", ts("2024-01-01 12:00:00"), 14L))
    q.processAllAvailable()
    // batch 2: a day-2 value AND a LATE day-1 value — still inside the
    // horizon (watermark 11:00 < day-1 end), so it must fold into
    // day 1, not day 2
    mem.addData(
      TV("a", ts("2024-01-02 09:00:00"), 100L),
      TV("a", ts("2024-01-01 13:00:00"), 20L))
    q.processAllAvailable()
    // batch 3: far-future sentinel seals day 1 (watermark passes its
    // end), then an over-late day-1 row must be DROPPED, not seed
    // fresh moments
    mem.addData(TV("a", ts("2024-01-05 00:00:00"), 1L))
    q.processAllAvailable()
    mem.addData(TV("a", ts("2024-01-01 14:00:00"), 999L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("zsd_t").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val day1 = rows.filter(_._1 == "2024-01-01").sortBy(_._2)
    // final day-1 moments bit-equal the batch aggregate over the four
    // admitted rows (10, 12, 14 + late 20) — the 999 row sealed out
    assert(day1.last == (("2024-01-01", 4L, 56L, 840L)),
      day1.mkString(","))
    assert(!rows.exists(t => t._1 == "2024-01-01" && t._2 > 4L),
      "over-late row resurrected a sealed day: " + rows.mkString(","))
    val day2 = rows.filter(_._1 == "2024-01-02")
    assert(day2.map(t => (t._2, t._3)).toSeq == Seq((1L, 100L)), day2.mkString(","))
  }

  test("event-time EWMA: day points emit in day order once closed, bit-equal to the batch smoother despite splits and lateness") {
    import graft.streaming.StreamOps.{TimedValue => TV}
    val mem = MemoryStream[TV](spark, 1)
    val out = StreamOps.ewmaStreamByDay(spark, mem.toDS(), lateness = "1 hour")
    val q = out.writeStream.format("memory").queryName("ewd_t")
      .outputMode("append").start()
    // days 1-3 with uneven splits; day 2 receives a LATE value in a
    // later batch (before its close) that must land in day 2's total
    mem.addData(
      TV("k", ts("2024-01-01 10:00:00"), 65536L),
      TV("k", ts("2024-01-02 10:00:00"), 40000L))
    q.processAllAvailable()
    mem.addData(
      TV("k", ts("2024-01-02 11:00:00"), 25536L), // late-ish, day 2 still open
      TV("k", ts("2024-01-03 10:00:00"), 131072L))
    q.processAllAvailable()
    // sentinel far in the future closes days 1-3 (it stays pending)
    mem.addData(TV("k", ts("2024-01-09 00:00:00"), 1L))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ewd_t").orderBy("t")
      .select("day", "value", "ewma")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // batch twin over the completed daily totals (day 2 = 40000+25536)
    val batch = graft.ops.EventAnalytics.ewmaSmooth(
        Seq(("k", 1L, 65536L), ("k", 2L, 65536L), ("k", 3L, 131072L))
          .toDF("key", "seq", "v"),
        Seq(col("key")), Seq(col("seq")), col("v"), as = "ewma")
      .orderBy("seq").select("v", "ewma")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed.map(_._1) == Seq("2024-01-01", "2024-01-02", "2024-01-03"))
    assert(streamed.map(t => (t._2, t._3)) == batch,
      s"stream=$streamed batch=$batch")
  }

  test("event-time count-min: late items count in THEIR day; final day sketch bit-equals the batch sketch; sealed days stay sealed") {
    import spark.implicits._
    import graft.streaming.StreamOps.{TimedItem => TI}
    val mem = MemoryStream[TI](spark, 1)
    val out = StreamOps.countMinStreamByDay(spark, mem.toDS(),
      lateness = "1 hour", depth = 4, width = 256)
    val q = out.writeStream.format("memory").queryName("cmd_t")
      .outputMode("append").start()
    // batch 1: day-1 traffic (a/a/b), plus a null item (not an observation)
    mem.addData(
      TI("g", ts("2024-01-01 10:00:00"), "a"),
      TI("g", ts("2024-01-01 11:00:00"), "a"),
      TI("g", ts("2024-01-01 12:00:00"), "b"),
      TI("junk", ts("2024-01-01 12:00:00"), null))
    q.processAllAvailable()
    // batch 2: day-2 traffic AND a LATE day-1 "a" (watermark 11:00 <
    // day-1 end) — it must raise day 1's count, not day 2's
    mem.addData(
      TI("g", ts("2024-01-02 09:00:00"), "a"),
      TI("g", ts("2024-01-01 13:00:00"), "a"))
    q.processAllAvailable()
    // batch 3: far-future sentinel seals day 1; then an over-late
    // day-1 row must be dropped, not seed a fresh one-row sketch
    mem.addData(TI("g", ts("2024-01-05 00:00:00"), "z"))
    q.processAllAvailable()
    mem.addData(TI("g", ts("2024-01-01 14:00:00"), "a"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("cmd_t").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(!rows.exists(_._1 == "junk"), "null-item group must not emit")
    val day1 = rows.filter(_._2 == "2024-01-01")
    // the day's current estimates = its max-n emission: n = 4 admitted
    // rows (3 on time + 1 late; the over-late 5th sealed out)
    assert(day1.map(_._4).max == 4L, day1.mkString(","))
    val finalDay1 = day1.filter(_._4 == 4L).map(t => t._3 -> t._5).toMap
    // bit-compat law: equals the batch sketch over the admitted rows
    val sk = graft.ops.Sketches.countMinCounters(
      Seq("a", "a", "b", "a").toDF("item"), "item", depth = 4, width = 256)
    val batchEst = graft.ops.Sketches.countMinEstimate(
        Seq("a").toDF("item"), sk, "item")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(finalDay1("a") == batchEst("a"),
      s"stream ${finalDay1("a")} != batch ${batchEst("a")}")
    // day 2 saw exactly one row — the late day-1 row landed elsewhere
    val day2 = rows.filter(_._2 == "2024-01-02")
    assert(day2.map(_._4).max == 1L, day2.mkString(","))
  }

  test("event-time HLL: per-day distinct estimates; late items fold into their day; final estimate bit-equals the batch sketch") {
    import spark.implicits._
    import graft.streaming.StreamOps.{TimedItem => TI}
    val mem = MemoryStream[TI](spark, 1)
    val out = StreamOps.hllDistinctStreamByDay(spark, mem.toDS(),
      lateness = "1 hour", p = 9)
    val q = out.writeStream.format("memory").queryName("hld_t")
      .outputMode("append").start()
    val day1Items = (1 to 300).map(i => s"u${i % 120}")
    mem.addData(day1Items.map(it => TI("g", ts("2024-01-01 10:00:00"), it)) :+
      TI("junk", ts("2024-01-01 10:00:00"), null): _*)
    q.processAllAvailable()
    // a LATE day-1 item (new distinct) + day-2 traffic
    mem.addData(
      TI("g", ts("2024-01-01 13:00:00"), "u-late"),
      TI("g", ts("2024-01-02 09:00:00"), "u1"))
    q.processAllAvailable()
    // seal day 1, then fire an over-late item at it
    mem.addData(TI("g", ts("2024-01-05 00:00:00"), "z"))
    q.processAllAvailable()
    mem.addData(TI("g", ts("2024-01-01 14:00:00"), "u-never"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("hld_t").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(!rows.exists(_._1 == "junk"), "null-item group must not emit")
    val day1 = rows.filter(_._2 == "2024-01-01")
    assert(day1.map(_._3).max == 301L, day1.mkString(",")) // 300 + late, never 302
    val streamEst = day1.find(_._3 == 301L).get._4
    val batchEst = graft.ops.Sketches.hllDistinct(
        (day1Items :+ "u-late").toDF("k"), "k").collect()(0).getDouble(0)
    assert(streamEst == batchEst, s"stream $streamEst != batch $batchEst")
    val day2 = rows.filter(_._2 == "2024-01-02")
    assert(day2.map(_._3).toSeq == Seq(1L), day2.mkString(","))
  }

  test("event-time top-k: per-day leaderboards; late score lands in its day; final board equals batch top-k over admitted maxima") {
    import graft.streaming.StreamOps.{TimedScore => TS}
    val mem = MemoryStream[TS](spark, 1)
    val out = StreamOps.topKStreamByDay(spark, mem.toDS(), k = 2,
      lateness = "1 hour")
    val q = out.writeStream.format("memory").queryName("tkd_t")
      .outputMode("append").start()
    mem.addData(
      TS("g", ts("2024-01-01 10:00:00"), "a", 10L),
      TS("g", ts("2024-01-01 11:00:00"), "b", 30L),
      TS("g", ts("2024-01-01 12:00:00"), "c", 20L))
    q.processAllAvailable()
    // a LATE day-1 score (a re-observes higher → per-item max) plus
    // day-2 traffic; then seal day 1 and fire an over-late row at it
    mem.addData(
      TS("g", ts("2024-01-01 13:00:00"), "a", 40L),
      TS("g", ts("2024-01-02 09:00:00"), "d", 7L))
    q.processAllAvailable()
    mem.addData(TS("g", ts("2024-01-05 00:00:00"), "e", 1L))
    q.processAllAvailable()
    mem.addData(TS("g", ts("2024-01-01 14:00:00"), "x", 999L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tkd_t").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getLong(5)))
    val day1 = rows.filter(_._2 == "2024-01-01")
    // final board = max-n emission; n = 4 admitted scores (over-late x sealed out)
    assert(day1.map(_._3).max == 4L, day1.mkString(","))
    val board = day1.filter(_._3 == 4L).sortBy(_._4)
      .map(t => (t._4, t._5, t._6)).toSeq
    // batch top-2 over admitted per-item maxima {a→40, b→30, c→20}
    assert(board == Seq((1L, "a", 40L), (2L, "b", 30L)), board.mkString(","))
    assert(!day1.exists(_._5 == "x"), "over-late row resurrected a sealed day")
    val day2 = rows.filter(_._2 == "2024-01-02")
    assert(day2.filter(_._3 == 1L).map(t => (t._4, t._5, t._6)).toSeq ==
      Seq((1L, "d", 7L)), day2.mkString(","))
  }

  // The seal-re-arm clamp (StreamOps.armDaySeal): admission filters late
  // rows against the PREVIOUS batch's watermark, but setTimeoutTimestamp
  // validates against the CURRENT eviction watermark. So a late row for a
  // still-open day, sharing a micro-batch with the rows that jump the
  // watermark past that day's end (the backfill scenario), is ADMITTED
  // and folds — and an unclamped setTimeoutTimestamp(dayEndMs) would
  // then throw and kill the query, deterministically again on restart.
  // These two cases drive exactly that window; without the clamp,
  // processAllAvailable throws
  // StreamingQueryException(IllegalArgumentException).

  test("event-time z-score: a late row admitted AFTER the watermark jumps past its day's end folds without crashing the query") {
    import graft.streaming.StreamOps.{TimedValue => TV}
    val mem = MemoryStream[TV](spark, 1)
    val out = StreamOps.zscoreStreamByDay(spark, mem.toDS(),
      lateness = "1 hour", sigmas = 2)
    val q = out.writeStream.format("memory").queryName("zsd_wj")
      .outputMode("append").start()
    // batch 1: day-1 values; watermark after this batch = 11:00 (< day end)
    mem.addData(
      TV("a", ts("2024-01-01 10:00:00"), 10L),
      TV("a", ts("2024-01-01 11:00:00"), 12L),
      TV("a", ts("2024-01-01 12:00:00"), 14L))
    q.processAllAvailable()
    // batch 2: the trap — the far-future sentinel and a late day-1 row
    // in the SAME micro-batch. Admission filters against batch 1's
    // 11:00 watermark (both rows pass) while eviction validation sees
    // the watermark jump past day 1's end — an unclamped
    // setTimeoutTimestamp(dayEnd) re-arm throws here and kills the
    // query. (Two addData calls, one trigger: MemoryStream folds all
    // pending blocks into one batch; a processAllAvailable between
    // them would interpose a watermark-propagation batch that seals
    // day 1 first and files the late row as over-late instead.)
    mem.addData(TV("a", ts("2024-01-05 00:00:00"), 1L))
    mem.addData(TV("a", ts("2024-01-01 13:00:00"), 20L))
    q.processAllAvailable()
    // drain further: the clamped seal fires on the next watermark
    // advance; an over-late row afterwards must stay dropped
    mem.addData(TV("a", ts("2024-01-09 00:00:00"), 2L))
    q.processAllAvailable()
    mem.addData(TV("a", ts("2024-01-01 15:00:00"), 999L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("zsd_wj").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val day1 = rows.filter(_._1 == "2024-01-01")
    // the admitted late 20 folded: final moments over (10, 12, 14, 20)
    assert(day1.map(_._2).max == 4L, day1.mkString(","))
    assert(day1.find(_._2 == 4L).get == (("2024-01-01", 4L, 56L, 840L)),
      day1.mkString(","))
    assert(!day1.exists(_._2 > 4L),
      "over-late row resurrected the sealed day: " + rows.mkString(","))
  }

  test("event-time count-min: watermark-jump late row folds into its still-open day without crashing; seal still lands") {
    import spark.implicits._
    import graft.streaming.StreamOps.{TimedItem => TI}
    val mem = MemoryStream[TI](spark, 1)
    val out = StreamOps.countMinStreamByDay(spark, mem.toDS(),
      lateness = "1 hour", depth = 4, width = 256)
    val q = out.writeStream.format("memory").queryName("cmd_wj")
      .outputMode("append").start()
    mem.addData(
      TI("g", ts("2024-01-01 10:00:00"), "a"),
      TI("g", ts("2024-01-01 11:00:00"), "a"),
      TI("g", ts("2024-01-01 12:00:00"), "b"))
    q.processAllAvailable()
    // sentinel + late day-1 row in ONE micro-batch: admitted against
    // the pre-jump watermark, folded while the eviction watermark is
    // already past day 1's end — the unclamped re-arm would throw here
    mem.addData(TI("g", ts("2024-01-05 00:00:00"), "z"))
    mem.addData(TI("g", ts("2024-01-01 13:00:00"), "a"))
    q.processAllAvailable()
    mem.addData(TI("g", ts("2024-01-09 00:00:00"), "z"))
    q.processAllAvailable()
    mem.addData(TI("g", ts("2024-01-01 15:00:00"), "a"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("cmd_wj").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val day1 = rows.filter(_._1 == "2024-01-01")
    assert(day1.map(_._3).max == 4L, day1.mkString(","))
    val finalA = day1.filter(t => t._3 == 4L && t._2 == "a").map(_._4)
    // bit-compat: the batch sketch over the four admitted rows
    val sk = graft.ops.Sketches.countMinCounters(
      Seq("a", "a", "b", "a").toDF("item"), "item", depth = 4, width = 256)
    val batchEst = graft.ops.Sketches.countMinEstimate(
        Seq("a").toDF("item"), sk, "item")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(finalA.toSeq == Seq(batchEst("a")), day1.mkString(","))
  }

  test("armDaySeal: re-arm is clamped above the eviction watermark — the unclamped call is rejected by Spark itself") {
    // The MemoryStream tests above can't deterministically interleave
    // two data batches without a watermark-propagation batch between
    // them, so they never observe eviction-watermark > day-end with
    // live state. This drives Spark's own TestGroupState (the public
    // unit-test harness for flatMapGroupsWithState callbacks, backed
    // by the real GroupStateImpl validation) straight into that
    // window.
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout => GST, TestGroupState}
    val day1EndMs = 19724L * 86400000L
    // eviction watermark three days past the day's end, state still live
    val wm = day1EndMs + 3L * 86400000L - 3600000L
    val jumped = TestGroupState.create[Long](
      Optional.of(7L), GST.EventTimeTimeout, 1000L, Optional.of(wm), false)
    // the constraint is real in this Spark build: an unclamped re-arm
    // at the day's end throws — in a live query this kills the stream
    intercept[IllegalArgumentException] {
      jumped.setTimeoutTimestamp(day1EndMs)
    }
    StreamOps.armDaySeal(jumped, day1EndMs) // must not throw
    assert(jumped.getTimeoutTimestampMs.get() == wm + 1L)
    // for a still-open day the seal stays at the day's end exactly
    val open = TestGroupState.create[Long](
      Optional.of(7L), GST.EventTimeTimeout, 1000L,
      Optional.of(day1EndMs - 7200000L), false)
    StreamOps.armDaySeal(open, day1EndMs)
    assert(open.getTimeoutTimestampMs.get() == day1EndMs)
  }

  test("funnel stream: a user with no first-step event holds no state row, even with an idle timeout") {
    // a processing-time timeout schedules a no-data batch on every
    // trigger, which keeps processAllAvailable from returning: run data
    // batches only
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      val mem = MemoryStream[StreamOps.TypedEvent](spark, 1)
      val q = StreamOps.funnelStream(spark, mem.toDS(), Seq("view", "click"),
          horizonHours = 72, idleTimeout = Some("1 hour"))
        .writeStream.format("memory").queryName("funnel_nostart")
        .outputMode("append").start()
      // users 1 and 3 never view: no funnel entry, so no state
      mem.addData(StreamOps.TypedEvent(1L, 1L, "click", 0L),
        StreamOps.TypedEvent(2L, 2L, "view", 0L),
        StreamOps.TypedEvent(3L, 3L, "click", 5L))
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
      q.stop()
      assert(stateRows == 1L, s"$stateRows state rows, expected user 2's only")
      assert(spark.table("funnel_nostart").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 0L)))
    } finally spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
  }

  // The two lifecycle drivers, one invocation at a time through Spark's
  // TestGroupState (no clock, no running query). `counting` stands in for
  // an operator's fold: it sums the batch into the state and returns None
  // for an empty batch — the shape a null-only batch takes in every op.

  import org.apache.spark.api.java.Optional
  import org.apache.spark.sql.streaming.{GroupStateTimeout => GST, TestGroupState}

  private def counting[K]: StreamOps.Fold[K, Long, Long, String] =
    (key, rows, prior) => {
      val batch = rows.toList
      if (batch.isEmpty) None
      else {
        val total = prior.getOrElse(0L) + batch.sum
        Some((total, Iterator(s"$key=$total")))
      }
    }

  private val nowMs = 1700000000000L
  private val hourMs = 3600000L
  private def opt(v: Option[Long]): Optional[Long] =
    v.fold(Optional.empty[Long]())(Optional.of(_))
  private def idleState(prior: Option[Long], timedOut: Boolean = false,
      conf: GST = GST.ProcessingTimeTimeout) =
    TestGroupState.create[Long](opt(prior), conf, nowMs, Optional.empty[Long](),
      timedOut)
  private def idleStep(idle: Option[String]) =
    StreamOps.idleFoldStep(idle, counting[String])

  test("idleFold: a timed-out group is removed and emits nothing") {
    val st = idleState(Some(5L), timedOut = true)
    assert(idleStep(Some("1 hour"))("g", Iterator.empty, st).isEmpty)
    assert(st.isRemoved && !st.exists)
  }

  test("idleFold: an observed batch updates the state and arms now + idleTimeout") {
    val st = idleState(Some(5L))
    assert(idleStep(Some("1 hour"))("g", Iterator(2L, 3L), st).toList == List("g=10"))
    assert(st.isUpdated && st.get == 10L)
    assert(st.getTimeoutTimestampMs == Optional.of(nowMs + hourMs))
  }

  test("idleFold: a null-only batch on existing state re-arms the timer") {
    // Spark clears the timeout on every invocation: without the re-arm
    // the timer is cancelled and the state never expires
    val st = idleState(Some(5L))
    assert(idleStep(Some("1 hour"))("g", Iterator.empty, st).isEmpty)
    assert(!st.isUpdated && !st.isRemoved && st.get == 5L)
    assert(st.getTimeoutTimestampMs == Optional.of(nowMs + hourMs))
  }

  test("idleFold: a null-only batch on a new group leaves no state and no timer") {
    val st = idleState(None)
    assert(idleStep(Some("1 hour"))("g", Iterator.empty, st).isEmpty)
    assert(!st.exists && !st.isUpdated)
    assert(!st.getTimeoutTimestampMs.isPresent)
  }

  test("idleFold: no idleTimeout sets no timer") {
    // under NoTimeout Spark rejects setTimeoutDuration, so a stray call throws
    val fresh = idleState(None, conf = GST.NoTimeout)
    assert(idleStep(None)("g", Iterator(4L), fresh).toList == List("g=4"))
    assert(fresh.get == 4L && !fresh.getTimeoutTimestampMs.isPresent)
    val held = idleState(Some(5L), conf = GST.NoTimeout)
    assert(idleStep(None)("g", Iterator.empty, held).isEmpty)
    assert(held.get == 5L && !held.getTimeoutTimestampMs.isPresent)
  }

  private val dayIdx = 19723L // 2024-01-01
  private val dayEndMs = (dayIdx + 1) * 86400000L
  private def dayState(prior: Option[Long], wmMs: Long) =
    TestGroupState.create[Long](opt(prior), GST.EventTimeTimeout, nowMs,
      Optional.of(wmMs), false)
  private val dayStep = StreamOps.dayFoldStep(counting[(String, String)])

  test("dayFold: a sealed day drops its rows") {
    val st = dayState(None, wmMs = dayEndMs)
    assert(dayStep(("g", dayIdx), Iterator(1L), st).isEmpty)
    assert(!st.exists && !st.isUpdated && !st.getTimeoutTimestampMs.isPresent)
  }

  test("dayFold: a null-only batch on an open day re-arms the seal") {
    val st = dayState(Some(5L), wmMs = dayEndMs - 2 * hourMs)
    assert(dayStep(("g", dayIdx), Iterator.empty, st).isEmpty)
    assert(!st.isUpdated && st.get == 5L)
    assert(st.getTimeoutTimestampMs == Optional.of(dayEndMs))
  }

  test("dayFold: an update arms the clamped seal and keys the fold on the ISO day") {
    // the watermark already jumped past the day's end (a late row
    // admitted against the previous batch's watermark)
    val wm = dayEndMs + 3 * 86400000L - hourMs
    val st = dayState(Some(5L), wmMs = wm)
    assert(dayStep(("g", dayIdx), Iterator(1L), st).toList ==
      List("(g,2024-01-01)=6"))
    assert(st.isUpdated && st.get == 6L)
    assert(st.getTimeoutTimestampMs == Optional.of(wm + 1L))
  }

  test("lifecycle calls live only in the drivers: timeouts in idleFold, day seals in dayFold") {
    val f = new java.io.File("src/main/scala/graft/streaming/StreamOps.scala")
    assert(f.isFile, s"StreamOps.scala not found from ${new java.io.File(".").getAbsolutePath}")
    // comments may name the calls; only code counts
    val code = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val defs = "def (\\w+)".r.findAllMatchIn(code).map(m => m.start -> m.group(1)).toSeq
    // the def each occurrence sits in = the nearest def before it
    def owners(token: String): Set[String] =
      token.r.findAllMatchIn(code).map(m => defs.takeWhile(_._1 < m.start).last._2).toSet
    assert(owners("setTimeoutDuration") == Set("idleFoldStep"))
    assert(owners("GroupStateTimeout\\.ProcessingTimeTimeout") == Set("idleFold"))
    assert(owners("(?<!def )armDaySeal\\(") == Set("dayFoldStep"))
  }
}
