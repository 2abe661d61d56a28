package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = new Timestamp(
    java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli + minute * 60000L)

  val sample = Seq(
    Event(1, ts(0), 1, "click", 1.0),
    Event(2, ts(5), 1, "click", 2.0),
    Event(3, ts(90), 1, "view", 3.0),  // 85-min gap -> new session, new window
    Event(4, ts(2), 2, "click", 4.0),
    Event(5, ts(200), 2, "view", 5.0))

  test("tumblingCounts over MemoryStream matches batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(mem.toDF(), "1 hour")
      .writeStream.outputMode("complete").format("memory").queryName("tumble").start()
    mem.addData(sample: _*)
    q.processAllAvailable()
    val streamed = spark.table("tumble")
      .select("window_start", "event_type", "n_events").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    q.stop()
    val batch = EventStreams.tumblingCounts(sample.toDF(), "1 hour")
      .select("window_start", "event_type", "n_events").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("sessionWindows: 30-min gap splits sessions (batch mode)") {
    val got = EventStreams.sessionWindows(sample.toDF(), "30 minutes")
      .select("user_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList.sorted
    // user 1: {e1,e2} then {e3}; user 2: {e4}, {e5}
    assert(got == List((1L, 1L), (1L, 2L), (2L, 1L), (2L, 1L)))
  }

  test("dedupWithinWatermark drops duplicate event_ids in stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupWithinWatermark(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    mem.addData(sample ++ sample: _*) // every event duplicated
    q.processAllAvailable()
    val n = spark.table("dedup").count()
    q.stop()
    assert(n == sample.length)
  }

  test("sessionizeStateful merges one session split across micro-batches, emits once closed") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionizeStateful(mem.toDS(), gapSeconds = 1800)
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    // batch 1: first half of user 1's session — nothing may be emitted
    // (the session is still open; emitting here is what the old
    // re-emit-everything bug did)
    mem.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 1, "click", 2.0))
    q.processAllAvailable()
    assert(spark.table("sess").count() == 0, "open session must not be emitted")
    // batch 2: extends the SAME session (10 min < 30-min gap), plus a
    // far-future event that advances the watermark past its close
    mem.addData(Event(3, ts(10), 1, "click", 4.0), Event(4, ts(600), 2, "view", 8.0))
    q.processAllAvailable()
    val got = spark.table("sess")
      .select("user_id", "n_events", "sum_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    q.stop()
    // exactly one session: the merged 3-event session for user 1
    // (user 2's session is still open when the stream stops)
    assert(got == List((1L, 3L, 7.0)), s"got $got")
  }

  test("sessionizeStateful: quiet user's final session flushes via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionizeStateful(mem.toDS(), gapSeconds = 1800)
      .writeStream.outputMode("append").format("memory").queryName("sessto").start()
    mem.addData(Event(1, ts(0), 1, "click", 1.0))
    q.processAllAvailable()
    // user 1 goes quiet; only OTHER users' events advance the watermark
    mem.addData(Event(2, ts(500), 2, "view", 2.0))
    q.processAllAvailable()
    mem.addData(Event(3, ts(900), 2, "view", 3.0))
    q.processAllAvailable()
    val got = spark.table("sessto")
      .select("user_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList.sorted
    q.stop()
    // user 1's single-event session closed by timeout; user 2's first
    // session (ts 500) closed when ts(900) pushed the watermark past it
    assert(got == List((1L, 1L), (2L, 1L)), s"got $got")
  }

  test("funnelStateful: min-chain over the horizon, exactly-once at seal, late step-1 handled") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val mem = MemoryStream[Event]
    val q = EventStreams.funnelStateful(mem.toDS(), steps,
        horizonSeconds = 3600, watermark = "30 minutes")
      .writeStream.outputMode("append").format("memory").queryName("fun").start()
    // user 1 completes all 3 steps IN ORDER but delivered out of order
    // across batches (the late step-1 stays within the 30-min
    // watermark tolerance — beyond it Spark correctly drops the row
    // before the state function ever sees it); user 2 skips the middle
    // step (click before view must NOT count); user 3 only views.
    mem.addData(Event(1, ts(10), 1, "click", 0), Event(2, ts(20), 1, "purchase", 0))
    q.processAllAvailable()
    assert(spark.table("fun").count() == 0, "nothing sealed yet")
    mem.addData(Event(3, ts(5), 1, "view", 0),          // late start, within watermark
      Event(4, ts(6), 2, "click", 0), Event(5, ts(8), 2, "view", 0),
      Event(6, ts(9), 2, "purchase", 0),                 // purchase >= view but click missing
      Event(7, ts(7), 3, "view", 0))
    q.processAllAvailable()
    // watermark movers: far-future events from an unrelated user
    // (wm = 200-30 = 170 > t1+60 for users 1-3 -> their horizons seal)
    mem.addData(Event(8, ts(200), 99, "view", 0))
    q.processAllAvailable()
    // wm = 400-30 = 370 > 200+60 -> user 99 seals too
    mem.addData(Event(9, ts(400), 99, "click", 0))
    q.processAllAvailable()
    val got = spark.table("fun")
      .select("user_id", "steps_completed").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    q.stop()
    // user 1: view@5 -> click@10 -> purchase@20 = 3 steps
    // user 2: view@8 -> click? click@6 < view@8 -> chain stops = 1
    // user 3: view only = 1
    assert(got.get(1L).contains(3), s"got $got")
    assert(got.get(2L).contains(1), s"got $got")
    assert(got.get(3L).contains(1), s"got $got")
    // agreement with the batch funnel on the sealed users
    val batch = EventStreams.funnel(
      Seq(Event(1, ts(10), 1, "click", 0), Event(2, ts(20), 1, "purchase", 0),
        Event(3, ts(5), 1, "view", 0), Event(4, ts(6), 2, "click", 0),
        Event(5, ts(8), 2, "view", 0), Event(6, ts(9), 2, "purchase", 0),
        Event(7, ts(7), 3, "view", 0)).toDF(), steps)
      .collect().map(r => r.getLong(0) ->
        (1 to 3).count(i => !r.isNullAt(r.fieldIndex(s"t$i")))).toMap
    assert(Seq(1L, 2L, 3L).forall(u => got(u) == batch(u)), s"got=$got batch=$batch")
  }

  test("funnelStateful: a post-horizon burst becomes a SECOND episode, not a lost one") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val mem = MemoryStream[Event]
    val q = EventStreams.funnelStateful(mem.toDS(), steps,
        horizonSeconds = 3600, watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("fun2").start()
    // burst A (min 0..20, completes the funnel) and burst B (min
    // 100..110, view+click) arrive TOGETHER — B is past A's 60-min
    // horizon, so it must survive A's seal as the next episode's buffer
    mem.addData(Event(1, ts(0), 5, "view", 0), Event(2, ts(10), 5, "click", 0),
      Event(3, ts(20), 5, "purchase", 0),
      Event(4, ts(100), 5, "view", 0), Event(5, ts(110), 5, "click", 0))
    q.processAllAvailable()
    mem.addData(Event(6, ts(200), 99, "view", 0)) // wm 190 > 0+60: seal A
    q.processAllAvailable()
    mem.addData(Event(7, ts(400), 99, "view", 0)) // wm 390 > 100+60: seal B
    q.processAllAvailable()
    val got = spark.table("fun2").filter($"user_id" === 5)
      .select("steps_completed", "first_step_ts").collect()
      .map(r => (r.getInt(0), r.getTimestamp(1))).sortBy(_._2.getTime)
    q.stop()
    assert(got.length == 2, s"expected two episodes, got ${got.toSeq}")
    assert(got(0) == ((3, ts(0))), s"episode A: ${got(0)}")
    assert(got(1) == ((2, ts(100))), s"episode B: ${got(1)}")
  }

  test("enrichStatic: stream-static left join enriches, keeps unmatched traffic") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("cust_id", "tier")
    val mem = MemoryStream[Event]
    val q = EventStreams.enrichStatic(mem.toDF(), dim, "user_id", "cust_id")
      .select($"event_id", $"user_id", $"tier")
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich").start()
    mem.addData(Event(1, ts(1), 1, "view", 0), Event(2, ts(2), 2, "view", 0),
      Event(3, ts(3), 7, "view", 0)) // user 7 has no dim row
    q.processAllAvailable()
    val got = spark.table("enrich").collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    q.stop()
    assert(got == Map(1L -> Some("GOLD"), 2L -> Some("SILVER"), 3L -> None),
      s"got $got")
  }

  test("purchaseAttribution stream-stream join matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = Seq(
      Event(10, ts(60), 1, "purchase", 9.99),
      Event(11, ts(300), 2, "purchase", 5.00),
      Event(12, ts(400), 3, "purchase", 1.00)) // user 3 never signed up
    val signups = Seq(
      Event(20, ts(0), 1, "signup", 0.0),
      Event(21, ts(30), 1, "signup", 0.5), // both within 7d of e10
      Event(22, ts(299), 2, "signup", 0.7))
    val memP = MemoryStream[Event]
    val memS = MemoryStream[Event]
    val joined = EventStreams.purchaseAttribution(
      memP.toDF().select($"event_id", $"user_id", $"ts", $"value"),
      memS.toDF())
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin").start()
    // split across micro-batches: signups first, then purchases
    memS.addData(signups: _*)
    q.processAllAvailable()
    memP.addData(purchases: _*)
    q.processAllAvailable()
    val streamed = spark.table("ssjoin")
      .select("event_id", "signup_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    q.stop()
    val batch = EventStreams.purchaseAttribution(
        purchases.toDF().select($"event_id", $"user_id", $"ts", $"value"),
        signups.toDF())
      .select("event_id", "signup_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(streamed == batch)
    assert(batch == Set((10L, 0.0), (10L, 0.5), (11L, 0.7)))
  }

  test("purchaseAttribution leftOuter emits unmatched purchases at watermark expiry") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = Seq(
      Event(10, ts(60), 1, "purchase", 9.99),
      Event(12, ts(400), 3, "purchase", 1.00)) // user 3 never signed up
    val signups = Seq(
      Event(20, ts(0), 1, "signup", 0.0))
    val memP = MemoryStream[Event]
    val memS = MemoryStream[Event]
    // short watermark so the test can push event time past expiry;
    // ts() is in MINUTES, so the 2h window covers signup@0 → purchase@60
    val joined = EventStreams.purchaseAttribution(
      memP.toDF().select($"event_id", $"user_id", $"ts", $"value"),
      memS.toDF(), maxAgeSeconds = 7200, watermark = "10 seconds",
      joinType = "leftOuter")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_outer").start()
    // signups first (their own micro-batch): adding both sides at once
    // can let the purchase batch advance the watermark past ts(0) and
    // drop the signup as late before it is ever seen
    memS.addData(signups: _*)
    q.processAllAvailable()
    memP.addData(purchases: _*)
    q.processAllAvailable()
    // the unmatched purchase (user 3) may NOT emit yet: its window is
    // still open until the signup-side watermark passes ts(400)
    val early = spark.table("ssjoin_outer")
      .filter($"signup_value".isNull).count()
    assert(early == 0L, "NULL-extension must wait for state expiry")
    // advance BOTH watermarks far past every open window, in two
    // batches (the watermark update from batch N gates batch N+1's
    // state eviction)
    memS.addData(Event(98, ts(5000), 99, "signup", 0.0))
    memP.addData(Event(99, ts(5000), 99, "purchase", 0.0))
    q.processAllAvailable()
    memS.addData(Event(96, ts(6000), 99, "signup", 0.0))
    memP.addData(Event(97, ts(6000), 99, "purchase", 0.0))
    q.processAllAvailable()
    val rows = spark.table("ssjoin_outer")
      .select($"event_id",
        when($"signup_value".isNull, lit(-1.0)).otherwise($"signup_value")
          .as("sv"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    q.stop()
    // matched purchase joins; unmatched emits exactly once, NULL signup
    assert(rows.contains((10L, 0.0)), s"matched row missing: $rows")
    assert(rows.contains((12L, -1.0)),
      s"unmatched purchase must NULL-extend at expiry: $rows")
    // batch twin agrees on the same inputs (modulo the flush traffic)
    val batch = EventStreams.purchaseAttribution(
        purchases.toDF().select($"event_id", $"user_id", $"ts", $"value"),
        signups.toDF(), maxAgeSeconds = 7200, joinType = "leftOuter")
      .select($"event_id",
        when($"signup_value".isNull, lit(-1.0)).otherwise($"signup_value"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(batch == Set((10L, 0.0), (12L, -1.0)))
  }

  test("purchaseAttribution fullOuter emits unmatched rows from BOTH sides at expiry") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = Seq(
      Event(10, ts(60), 1, "purchase", 9.99),
      Event(12, ts(400), 3, "purchase", 1.00)) // user 3 never signed up
    val signups = Seq(
      Event(20, ts(0), 1, "signup", 0.0),
      Event(21, ts(30), 7, "signup", 5.0)) // user 7 never purchased
    val memP = MemoryStream[Event]
    val memS = MemoryStream[Event]
    val joined = EventStreams.purchaseAttribution(
      memP.toDF().select($"event_id", $"user_id", $"ts", $"value"),
      memS.toDF(), maxAgeSeconds = 7200, watermark = "10 seconds",
      joinType = "fullOuter")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_full").start()
    memS.addData(signups: _*)
    q.processAllAvailable()
    memP.addData(purchases: _*)
    q.processAllAvailable()
    // advance BOTH watermarks far past every open window, two batches
    memS.addData(Event(98, ts(5000), 99, "signup", 0.0))
    memP.addData(Event(99, ts(5000), 99, "purchase", 0.0))
    q.processAllAvailable()
    memS.addData(Event(96, ts(6000), 99, "signup", 0.0))
    memP.addData(Event(97, ts(6000), 99, "purchase", 0.0))
    q.processAllAvailable()
    val rows = spark.table("ssjoin_full")
      .select(coalesce($"event_id", lit(-1L)).as("pid"), $"user_id",
        when($"signup_value".isNull, lit(-1.0)).otherwise($"signup_value")
          .as("sv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(rows.contains((10L, 1L, 0.0)), s"matched row missing: $rows")
    assert(rows.contains((12L, 3L, -1.0)),
      s"unmatched purchase must NULL-extend: $rows")
    // the full-outer addition: the unconverted signup emits too, with
    // user_id coalesced from the signup side
    assert(rows.contains((-1L, 7L, 5.0)),
      s"unconverted signup must NULL-extend at expiry: $rows")
    // batch twin agrees on the same inputs (modulo the flush traffic)
    val batch = EventStreams.purchaseAttribution(
        purchases.toDF().select($"event_id", $"user_id", $"ts", $"value"),
        signups.toDF(), maxAgeSeconds = 7200, joinType = "fullOuter")
      .select(coalesce($"event_id", lit(-1L)), $"user_id",
        when($"signup_value".isNull, lit(-1.0)).otherwise($"signup_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch == Set((10L, 1L, 0.0), (12L, 3L, -1.0), (-1L, 7L, 5.0)),
      s"batch twin: $batch")
  }

  test("checkpoint recovery: restart resumes exactly-once, no reprocessing") {
    // file source + checkpoint: run, stop, add data, restart with the
    // SAME checkpoint — the second run must process only the new file
    // (offsets recovered), and the sink must hold each event once.
    val src = java.nio.file.Files.createTempDirectory("ckpt_src")
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_state")
    val sink = java.nio.file.Files.createTempDirectory("ckpt_sink")
    def writeBatch(name: String, events: Seq[Event]): Unit = {
      // the file source lists files directly under the path — stage
      // the part file in, not a nested directory
      val tmp = java.nio.file.Files.createTempDirectory("ckpt_tmp")
      events.toDF().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, src.resolve(s"$name.parquet"))
    }
    writeBatch("b0", sample)
    val schema = sample.toDF().schema
    def startQuery() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
      .writeStream.format("parquet")
      .option("path", sink.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    val afterFirst = spark.read.parquet(sink.toString).count()
    assert(afterFirst == sample.length)
    writeBatch("b1", Seq(
      Event(100, ts(500), 9, "click", 1.0),
      Event(101, ts(501), 9, "view", 2.0)))
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(sink.toString)
      .select("event_id").collect().map(_.getLong(0)).toSeq
    // every event exactly once across the restart
    assert(rows.size == sample.length + 2, s"got ${rows.sorted}")
    assert(rows.distinct.size == rows.size)
    assert(rows.contains(100L) && rows.contains(101L))
  }

  test("file sink idempotence: batch replayed after a lost checkpoint commit is not re-written") {
    // The exactly-once edge the plain restart test can't force: a crash
    // BETWEEN the sink's commit and the checkpoint's commit. After a
    // batch completes, delete its commits/<N> marker — exactly the
    // on-disk state a mid-batch kill leaves — and restart. The replayed
    // batch hits a sink that already holds its output; FileStreamSink's
    // _spark_metadata log must recognize the committed batch id and
    // skip the write, while the following batch still processes.
    val src = java.nio.file.Files.createTempDirectory("mbk_src")
    val ckpt = java.nio.file.Files.createTempDirectory("mbk_state")
    val sink = java.nio.file.Files.createTempDirectory("mbk_sink")
    def writeBatch(name: String, events: Seq[Event]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("mbk_tmp")
      events.toDF().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, src.resolve(s"$name.parquet"))
    }
    writeBatch("b0", sample)
    val schema = sample.toDF().schema
    def startQuery() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
      .writeStream.format("parquet")
      .option("path", sink.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(sink.toString).count() == sample.length)

    // forge the crash: sink committed batch N, checkpoint commit lost
    // (drop the CRC sidecar too — a stale .N.crc breaks the checksum
    // filesystem's atomic rename when the replay re-commits N)
    val commitsDir = new java.io.File(ckpt.toFile, "commits")
    val lastCommit = commitsDir.listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    assert(lastCommit.delete(), s"could not delete $lastCommit")
    new java.io.File(commitsDir, s".${lastCommit.getName}.crc").delete()

    writeBatch("b1", Seq(
      Event(200, ts(700), 9, "click", 1.0),
      Event(201, ts(701), 9, "view", 2.0)))
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(sink.toString)
      .select("event_id").collect().map(_.getLong(0)).toSeq
    // replayed batch skipped, new batch processed: every event once
    assert(rows.size == sample.length + 2, s"got ${rows.sorted}")
    assert(rows.distinct.size == rows.size, s"duplicates in ${rows.sorted}")
    assert(rows.contains(200L) && rows.contains(201L))
  }

  test("streaming parquet source: tumbling agg over readStream on events dir") {
    // FileStreamSource needs a directory; stage the single-file table
    val dir = java.nio.file.Files.createTempDirectory("evt_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("part-000.parquet"))
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    // same ts normalization as Tables.events (nanos-long or NTZ testdata)
    val tsFix = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast("timestamp")
    }
    val stream = spark.readStream.schema(raw.schema)
      .parquet(dir.toString)
      .withColumn("ts", tsFix)
    val q = EventStreams.tumblingCounts(stream, "6 hours")
      .writeStream.outputMode("complete").format("memory").queryName("pq").start()
    q.processAllAvailable()
    val streamed = spark.table("pq").agg(sum("n_events")).collect()(0).getLong(0)
    q.stop()
    assert(streamed == Tables.events(spark, sf0001).count())
  }

  test("funnel: min-chain stage times, stalls go NULL, >= admits ties") {
    val events = Seq(
      // user 1 completes all three stages in order
      (1L, ts(0), 1L, "view"), (1L, ts(5), 1L, "click"), (1L, ts(9), 1L, "buy"),
      // user 2: click BEFORE the first view never counts; no click after
      (2L, ts(1), 2L, "click"), (2L, ts(4), 2L, "view"),
      // user 3: view and click simultaneous — >= lets the funnel advance
      (3L, ts(7), 3L, "view"), (3L, ts(7), 3L, "click"),
      // user 4 never views: absent from the result entirely
      (4L, ts(2), 4L, "click"), (4L, ts(3), 4L, "buy"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = EventStreams.funnel(events, Seq("view", "click", "buy"))
      .collect().map(r => r.getLong(0) ->
        (r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == ((ts(0), ts(5), ts(9))))
    assert(got(2L) == ((ts(4), null, null)))
    assert(got(3L) == ((ts(7), ts(7), null)))
  }

  test("audited sink: per-batch WAP with quarantine, exactly-once replay") {
    import org.apache.hadoop.fs.Path
    import graft.streaming.AuditedSink
    import graft.operators.Quality
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_asink").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_asink_ck").toString
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rules = Seq(Quality.Expectation.notNull("user_id"))
    val mem = MemoryStream[(Long, Option[Long], Double)]
    val q = AuditedSink.start(
      mem.toDF().toDF("event_id", "user_id", "value"), base, rules, ckpt)
    // batch 0: clean -> published
    mem.addData((1L, Some(10L), 1.0), (2L, Some(11L), 2.0))
    q.processAllAvailable()
    // batch 1: poisoned (NULL user_id) -> quarantined, stream survives
    mem.addData((3L, None, 3.0), (4L, Some(12L), 4.0))
    q.processAllAvailable()
    // batch 2: clean -> published
    mem.addData((5L, Some(13L), 5.0))
    q.processAllAvailable()
    q.stop()
    assert(fs.exists(new Path(s"$base/v=0/_SUCCESS")))
    assert(fs.exists(new Path(s"$base/_quarantine/v=1")))
    assert(!fs.exists(new Path(s"$base/v=1")))
    assert(fs.exists(new Path(s"$base/v=2/_SUCCESS")))
    // readers see exactly the clean rows; the quarantined batch never
    // surfaces (underscore prefix + _SUCCESS gate)
    val seen = AuditedSink.readCommitted(spark, base)
      .select($"event_id").collect().map(_.getLong(0)).toSet
    assert(seen == Set(1L, 2L, 5L))
    // redelivery of a settled batch (restart with a lost checkpoint
    // commit) is a no-op either way
    val clean = Seq((1L, Option(10L), 1.0), (2L, Option(11L), 2.0))
      .toDF("event_id", "user_id", "value")
    assert(AuditedSink.publishBatch(clean, base, 0L, rules) == "replayed")
    assert(AuditedSink.publishBatch(clean, base, 1L, rules) == "replayed")
    assert(AuditedSink.readCommitted(spark, base).count() == 3)
    // quarantined payload stays on disk for inspection
    assert(spark.read.parquet(s"$base/_quarantine/v=1").count() == 2)
  }

  test("ewmaAnomalies: spike against a steady baseline flags, order is pinned") {
    val t0 = 1700000000000L
    val evs = (1 to 30).map(i =>
      Event(i.toLong, new Timestamp(t0 + i * 60000L), 1L, "click",
        if (i == 25) 100.0 else 10.0 + (i % 3) * 0.5))
    val out = EventStreams.ewmaAnomalies(evs.toDS(),
        minN = 5L, thresholdX100 = 300L)
      .collect().map(o => o.event_id -> o).toMap
    assert(out.size == 30)
    assert(out(25L).is_anomaly, s"spike z=${out(25L).zscore}")
    assert(!out(10L).is_anomaly && !out(24L).is_anomaly)
    // the spike scores against the baseline BEFORE folding in
    assert(math.abs(out(25L).zscore) > 3.0)
  }

  test("ewmaAnomaliesStateful == batch twin; redelivery and stragglers drop") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    val evs = (1 to 40).map(i =>
      Event(i.toLong, new Timestamp(t0 + i * 60000L),
        1L, if (i % 2 == 0) "a" else "b",
        if (i == 30) 50.0 else 5.0 + (i % 4) * 0.25))
    val sentinel = Event(-1L,
      new Timestamp(t0 + 40 * 60000L + 3L * 3600 * 1000), -1L, "__flush", 0.0)
    val mem = MemoryStream[Event]
    val q = EventStreams.ewmaAnomaliesStateful(mem.toDS(),
        minN = 5L, thresholdX100 = 300L)
      .writeStream.outputMode("append").format("memory")
      .queryName("ewma_sink").start()
    try {
      mem.addData(evs)
      q.processAllAvailable()
      mem.addData(Seq(sentinel))
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id % 3 == 0)) // redelivery: sealed past
      q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("ewma_sink")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5))).toSet
    val batch = EventStreams.ewmaAnomalies(evs.toDS(),
        minN = 5L, thresholdX100 = 300L)
      .collect().map(o => (o.event_type, o.event_id, o.value,
        o.zscore, o.is_anomaly)).toSet
    // bit-identical doubles: the same fold ran in the same order
    assert(stream == batch,
      s"stream-only: ${stream -- batch}\nbatch-only: ${batch -- stream}")
    assert(stream.count(_._5) >= 1, "the planted spike must flag")
  }

  test("attribution: first/last/linear micro-credits, lookback cut, tie order, exact remainders") {
    val t0 = 1700000000000L
    def ev(id: Long, minute: Long, user: Long, typ: String) =
      (id, new Timestamp(t0 + minute * 60000L), user, typ, 1.0)
    val events = Seq(
      // u1: view, click -> purchase (k=2); a second purchase far later
      // finds nothing inside the 60-minute lookback
      ev(1, 0, 1, "view"), ev(2, 10, 1, "click"), ev(10, 20, 1, "purchase"),
      ev(11, 500, 1, "purchase"),
      // u2: signup, view, click -> purchase (k=3; linear remainder 1
      // goes to the LAST touch, the click)
      ev(3, 0, 2, "signup"), ev(4, 1, 2, "view"), ev(5, 2, 2, "click"),
      ev(12, 30, 2, "purchase"),
      // u3: two views at the SAME ts — event_id breaks the tie
      ev(6, 5, 3, "view"), ev(7, 5, 3, "view"), ev(13, 15, 3, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStreams.attribution(events,
        Seq("view", "click", "signup"), "purchase", lookbackSeconds = 3600L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("view") == ((4L, 2000000L, 1000000L, 1833333L)), got.toString)
    assert(got("click") == ((2L, 0L, 2000000L, 833334L)))
    assert(got("signup") == ((1L, 1000000L, 0L, 333333L)))
    // every attributed conversion's credit sums to exactly 10^6 per model
    val models = Seq(got.values.map(_._2).sum, got.values.map(_._3).sum,
      got.values.map(_._4).sum)
    assert(models.forall(_ == 3000000L), models.toString) // 3 attributed convs
  }

  test("growthAccounting: new/retained/resurrected/churned closed form; zero-active churn month survives") {
    def ts(month: Int, day: Int) =
      new Timestamp(java.sql.Timestamp.valueOf(
        f"2024-$month%02d-$day%02d 10:00:00").getTime)
    // u1: Jan, Feb, Apr (two events in Jan — months dedupe);
    // u2: Feb only. March has ZERO actives but TWO churners.
    val events = Seq(
      (1L, ts(1, 5), 1L, "view", 1.0), (2L, ts(1, 20), 1L, "click", 1.0),
      (3L, ts(2, 5), 1L, "view", 1.0), (4L, ts(4, 5), 1L, "view", 1.0),
      (5L, ts(2, 10), 2L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStreams.growthAccounting(events)
      .collect().map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      "2024-01-01" -> ((1L, 0L, 0L, 0L)),
      "2024-02-01" -> ((1L, 1L, 0L, 0L)),
      "2024-03-01" -> ((0L, 0L, 0L, 2L)), // the zero-active churn month
      "2024-04-01" -> ((0L, 0L, 1L, 0L))), got.toString)
    // MAU identity: new + retained + resurrected = distinct actives
    assert(got.values.map(v => v._1 + v._2 + v._3).sum == 4L)
  }

  test("cohortRevenue: triangle closed form — rows are lifetime curves, ages are calendar months") {
    def ts(month: Int) = new Timestamp(java.sql.Timestamp.valueOf(
      f"2024-$month%02d-10 09:00:00").getTime)
    // u1 cohort Jan: revenue 100 (Jan), 50 (Mar — age 2);
    // u2 cohort Jan: 30 (Jan); u3 cohort Mar: 70 (Mar)
    val events = Seq(
      (1L, ts(1), 1L, "purchase", 1.00), (2L, ts(3), 1L, "purchase", 0.50),
      (3L, ts(1), 2L, "purchase", 0.30), (4L, ts(3), 3L, "purchase", 0.70))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStreams.cohortRevenue(events, "user_id", "ts",
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.col("value") * 100))
      .collect().map(r => (r.getDate(0).toString, r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      ("2024-01-01", 0) -> ((2L, 130L)),
      ("2024-01-01", 2) -> ((1L, 50L)),
      ("2024-03-01", 0) -> ((1L, 70L))), got.toString)
  }

  test("funnelWindowed: the entry-anchored deadline cuts slow completions the unbounded chain keeps") {
    val t0 = 1700000000000L
    def ev(id: Long, minute: Long, user: Long, typ: String) =
      (id, new Timestamp(t0 + minute * 60000L), user, typ, 1.0)
    val events = Seq(
      // u1 converts fast: all inside 1 hour
      ev(1, 0, 1, "view"), ev(2, 10, 1, "click"), ev(3, 20, 1, "purchase"),
      // u2's purchase lands 3 hours after the first view
      ev(4, 0, 2, "view"), ev(5, 10, 2, "click"), ev(6, 180, 2, "purchase"),
      // u3's CLICK is already past the deadline -> purchase can't chain
      ev(7, 0, 3, "view"), ev(8, 90, 3, "click"), ev(9, 95, 3, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val win = EventStreams.funnelWindowed(events,
        Seq("view", "click", "purchase"), windowSeconds = 3600L)
      .collect().map(r => r.getLong(0) ->
        ((r.isNullAt(2), r.isNullAt(3)))).toMap
    assert(win(1L) == ((false, false)))   // completed inside the hour
    assert(win(2L) == ((false, true)))    // click in, purchase out
    assert(win(3L) == ((true, true)))     // click already late
    // the unbounded funnel keeps all three conversions
    val unbounded = EventStreams.funnel(events,
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(3)).toMap
    assert(unbounded.values.forall(_ == false))
  }

  test("attributionStateful == batch twin; in-window and sealed redeliveries are no-ops") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    def ev(id: Long, minute: Long, user: Long, typ: String) =
      Event(id, new Timestamp(t0 + minute * 60000L), user, typ, 1.0)
    val evs = Seq(
      ev(1, 0, 1, "view"), ev(2, 10, 1, "click"), ev(10, 20, 1, "purchase"),
      ev(3, 0, 2, "signup"), ev(4, 1, 2, "view"), ev(5, 2, 2, "click"),
      ev(12, 30, 2, "purchase"),
      ev(6, 5, 3, "view"), ev(7, 5, 3, "view"), ev(13, 15, 3, "purchase"))
    val sentinel = Event(-1L,
      new Timestamp(t0 + 40 * 60000L + 5L * 3600 * 1000), -1L, "__flush", 0.0)
    val mem = MemoryStream[Event]
    val q = EventStreams.attributionStateful(mem.toDS(),
        Seq("view", "click", "signup"), "purchase", lookbackSeconds = 3600L)
      .writeStream.outputMode("append").format("memory")
      .queryName("attrib_sink").start()
    try {
      mem.addData(evs)
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id <= 5)) // in-window redelivery
      q.processAllAvailable()
      mem.addData(Seq(sentinel))
      q.processAllAvailable()
      mem.addData(evs.filter(_.event_id % 2 == 0)) // sealed redelivery
      q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("attrib_sink")
      .collect().map(r => (r.getLong(1), r.getLong(3)) ->
        ((r.getString(2), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // one credit row per (conversion, touch) — duplicates absorbed
    assert(stream.size == 7, stream.keys.toSeq.sorted.mkString(","))
    // exact equality with the batch twin's per-touch credits: conv 12
    // has k=3, remainder lands on the last touch (the click, id 5)
    assert(stream((12L, 3L)) == (("signup", 1000000L, 0L, 333333L)))
    assert(stream((12L, 5L)) == (("click", 0L, 1000000L, 333334L)))
    // same-ts tie: id 6 is first, id 7 last for conversion 13
    assert(stream((13L, 6L))._2 == 1000000L)
    assert(stream((13L, 7L))._3 == 1000000L)
  }

  test("markovAttribution: hand-solved chain, post-conversion events ignored, shares sum to 1e6") {
    val t0 = 1700000000000L
    def ev(id: Long, minute: Long, user: Long, typ: String) =
      (id, new Timestamp(t0 + minute * 60000L), user, typ, 1.0)
    // u1: A -> CONV (then a post-conversion B that must NOT count);
    // u2: B -> DROP; u3: A -> B -> CONV
    val events = Seq(
      ev(1, 0, 1, "A"), ev(2, 10, 1, "purchase"), ev(3, 20, 1, "B"),
      ev(4, 0, 2, "B"),
      ev(5, 0, 3, "A"), ev(6, 5, 3, "B"), ev(7, 10, 3, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStreams.markovAttribution(events, Seq("A", "B"),
        "purchase")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // chain: START->A 2/3, START->B 1/3; A->CONV 1/2, A->B 1/2;
    // B->CONV 1/2, B->DROP 1/2. pFull = 2/3. Remove A: p = 1/6,
    // RE_A = 3/4; remove B: p = 1/3, RE_B = 1/2. Shares 0.6 / 0.4.
    assert(got("A") == ((2L, 750000L, 600000L)), got.toString)
    assert(got("B") == ((2L, 500000L, 400000L)), got.toString)
    assert(got.values.map(_._3).sum == 1000000L)
    // per-user cap trips loudly
    val e = intercept[IllegalArgumentException] {
      EventStreams.markovAttribution(events, Seq("A", "B"), "purchase",
        maxEventsPerUser = 2L)
    }
    assert(e.getMessage.contains("journey"), e.getMessage)
  }

  test("markovAttribution: zero-removal-effect corpus splits shares uniformly; hostile type names refused") {
    val t0 = 1700000000000L
    // every journey converts with NO touches: removing any channel
    // loses nothing, all effects are 0 — shares must still sum to 1e6
    val events = Seq(
      (1L, new Timestamp(t0), 1L, "purchase", 1.0),
      (2L, new Timestamp(t0 + 60000L), 2L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStreams.markovAttribution(events, Seq("A", "B"),
        "purchase")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("A") == ((0L, 0L, 500000L)), got.toString)
    assert(got("B") == ((0L, 0L, 500000L)), got.toString)
    assert(got.values.map(_._3).sum == 1000000L)
    // a quote in a type name would escape the SQL literal — loud refusal
    val e = intercept[IllegalArgumentException] {
      EventStreams.markovAttribution(events, Seq("A'||'", "B"), "purchase")
    }
    assert(e.getMessage.contains("splice"), e.getMessage)
  }

  test("attributionStateful drains touch-only state by timeout and keeps serving the key") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    def ev(id: Long, minute: Long, user: Long, typ: String) =
      Event(id, new Timestamp(t0 + minute * 60000L), user, typ, 1.0)
    def flush(id: Long, minute: Long) = Event(id,
      new Timestamp(t0 + minute * 60000L + 5L * 3600 * 1000), -1L, "__flush", 0.0)
    val mem = MemoryStream[Event]
    val q = EventStreams.attributionStateful(mem.toDS(),
        Seq("view", "click"), "purchase", lookbackSeconds = 3600L)
      .writeStream.outputMode("append").format("memory")
      .queryName("attrib_ttl_sink").start()
    try {
      // touch-only buffer for u1: no conversion ever arrives for it
      mem.addData(Seq(ev(1, 0, 1, "view"), ev(2, 5, 1, "click")))
      q.processAllAvailable()
      // watermark passes maxTs + lookback -> the touch-only timeout
      // fires, the keep-filter drains the buffer, state removes itself
      mem.addData(Seq(flush(-1, 120)))
      q.processAllAvailable()
      // the SAME key must still be served from scratch afterwards: a
      // fresh touch + conversion pair credits normally
      mem.addData(Seq(ev(3, 400, 1, "view"), ev(4, 410, 1, "purchase")))
      q.processAllAvailable()
      mem.addData(Seq(flush(-2, 600)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("attrib_ttl_sink")
      .collect().map(r => (r.getLong(1), r.getLong(3)) ->
        ((r.getString(2), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // the expired touches (ids 1, 2) credit nothing; the fresh pair does
    assert(out.size == 1, out.keys.toSeq.sorted.mkString(","))
    assert(out((4L, 3L)) == (("view", 1000000L, 1000000L, 1000000L)))
  }

  test("cusumStateful == cusumEvents exactly; in-window duplicates absorbed; O(1) state alarms") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    // a flat stretch then a sustained +shift: the accumulator must
    // build across the seal boundary (state persists between folds)
    val vals = Seq(5.0, 5.2, 4.9, 5.1, 5.0, 8.0, 8.2, 8.1, 8.3, 8.0, 8.2)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Event(i + 1L, new Timestamp(t0 + i * 60000L), 1L, "m", v) }
    // a sentinel that advances the watermark to EXACTLY minute `seal`
    // (watermark delay is 2h): later events stay above it
    def flush(id: Long, seal: Long) = Event(id,
      new Timestamp(t0 + seal * 60000L + 2L * 3600 * 1000), -1L, "__flush", 0.0)
    val (target, slack, thr) = (5000000L, 200000L, 6000000L)
    val mem = MemoryStream[Event]
    val q = EventStreams.cusumStateful(mem.toDS(), target, slack, thr)
      .writeStream.outputMode("append").format("memory")
      .queryName("cusum_replay_sink").start()
    try {
      mem.addData(evs.take(6))
      q.processAllAvailable()
      mem.addData(evs.take(3)) // in-window duplicates — must absorb
      q.processAllAvailable()
      mem.addData(Seq(flush(-1, 5))) // seals minutes 0-5 (first six)
      q.processAllAvailable()
      mem.addData(evs.drop(6)) // state must CONTINUE, not reset
      q.processAllAvailable()
      mem.addData(Seq(flush(-2, 20)))
      q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("cusum_replay_sink")
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    val batch = EventStreams.cusumEvents(evs.toDS(), target, slack, thr)
      .collect().map(r => r.event_id ->
        ((r.value_micros, r.cusum_pos_micros, r.cusum_neg_micros, r.alarm)))
      .toMap
    assert(stream.size == vals.size, stream.keys.toSeq.sorted.mkString(","))
    assert(stream == batch)
    // the sustained shift (+3 over target) alarms within a few events
    assert(stream(9L)._4, stream.toString)
    // the flat stretch does not
    assert(!stream(5L)._4, stream.toString)
  }

  test("holtStateful == holtResiduals exactly; state continues across seals; first event seeds") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    val vals = Seq(10.0, 12.0, 14.0, 16.0, 18.0, 20.0, 22.0, 24.0)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Event(i + 1L, new Timestamp(t0 + i * 60000L), 1L, "m", v) }
    def flush(id: Long, seal: Long) = Event(id,
      new Timestamp(t0 + seal * 60000L + 2L * 3600 * 1000), -1L, "__flush", 0.0)
    val mem = MemoryStream[Event]
    val q = EventStreams.holtStateful(mem.toDS(),
        alphaPpm = 500000L, betaPpm = 500000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("holt_replay_sink").start()
    try {
      mem.addData(evs.take(4))
      q.processAllAvailable()
      mem.addData(evs.take(2)) // in-window duplicates — must absorb
      q.processAllAvailable()
      mem.addData(Seq(flush(-1, 3))) // seals the first four
      q.processAllAvailable()
      mem.addData(evs.drop(4)) // level/trend must CONTINUE
      q.processAllAvailable()
      mem.addData(Seq(flush(-2, 20)))
      q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("holt_replay_sink")
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val batch = EventStreams.holtResiduals(evs.toDS(),
        alphaPpm = 500000L, betaPpm = 500000L)
      .collect().map(r => r.event_id ->
        ((r.value_micros, r.forecast_micros, r.residual_micros))).toMap
    assert(stream.size == vals.size)
    assert(stream == batch)
    // first event seeds: forecast == value, residual 0
    assert(stream(1L) == ((10000000L, 10000000L, 0L)))
    // on a clean linear ramp the trend locks in and residuals shrink
    assert(math.abs(stream(8L)._3) < math.abs(stream(2L)._3))
  }

  test("ewmVolStateful == ewmVolResiduals exactly; hand-folded variance at lambda=0.5") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    // values 10, 13, 7: ret 0/3/-6, v = 0, 4.5e6, 20.25e6 micro (the
    // TimeSeriesSpec hand fold — same recurrence, shared step)
    val vals = Seq(10.0, 13.0, 7.0)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Event(i + 1L, new Timestamp(t0 + i * 60000L), 1L, "m", v) }
    def flush(id: Long) = Event(id,
      new Timestamp(t0 + 100 * 60000L + 2L * 3600 * 1000), -1L,
      "__flush", 0.0)
    val mem = MemoryStream[Event]
    val q = EventStreams.ewmVolStateful(mem.toDS(), lambdaPpm = 500000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("ewm_vol_sink").start()
    try {
      mem.addData(evs)
      q.processAllAvailable()
      mem.addData(evs.take(1)) // in-window duplicate — must absorb
      q.processAllAvailable()
      mem.addData(Seq(flush(-1)))
      q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("ewm_vol_sink")
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val batch = EventStreams.ewmVolResiduals(evs.toDS(),
        lambdaPpm = 500000L)
      .collect().map(r => r.event_id ->
        ((r.x, r.ret, r.var_micros, r.sigma_micros))).toMap
    assert(stream.size == vals.size)
    assert(stream == batch)
    assert(stream(1L) == ((10L, 0L, 0L, 0L)))
    assert(stream(2L) == ((13L, 3L, 4500000L, 2121320L)))
    assert(stream(3L) == ((7L, -6L, 20250000L, 4500000L)))
  }

  test("kalmanStateful == kalmanResiduals exactly; hand-folded gain/level at Q=R=1e6") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    // values 0, 10000, 10000 dollars -> cents 0, 1e6, 1e6: the
    // TimeSeriesSpec kalman hand fold — same recurrence, shared step:
    // gains 0/666666/625000, levels 0/666666/874999
    val vals = Seq(0.0, 10000.0, 10000.0)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Event(i + 1L, new Timestamp(t0 + i * 60000L), 1L, "m", v) }
    def flush(id: Long) = Event(id,
      new Timestamp(t0 + 100 * 60000L + 2L * 3600 * 1000), -1L,
      "__flush", 0.0)
    val mem = MemoryStream[Event]
    val q = EventStreams.kalmanStateful(mem.toDS(),
        qVar = 1000000L, rVar = 1000000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("kalman_sink").start()
    try {
      mem.addData(evs)
      q.processAllAvailable()
      mem.addData(evs.take(1)) // in-window duplicate — must absorb
      q.processAllAvailable()
      mem.addData(Seq(flush(-1)))
      q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("kalman_sink")
      .collect().map(r => r.getLong(1) -> ((r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    val batch = EventStreams.kalmanResiduals(evs.toDS(),
        qVar = 1000000L, rVar = 1000000L)
      .collect().map(r => r.event_id ->
        ((r.x, r.innovation, r.gain_ppm, r.level, r.p_var))).toMap
    assert(stream.size == vals.size)
    assert(stream == batch)
    assert(stream(1L) == ((0L, 0L, 0L, 0L, 1000000L)))
    assert(stream(2L) == ((1000000L, 1000000L, 666666L, 666666L, 666668L)))
    assert(stream(3L) == ((1000000L, 333334L, 625000L, 874999L, 625000L)))
  }

  test("TimeSeries folds agree with the EventStreams twins row for row: kalman, ewm volatility, holt") {
    // one shared step object serves both modules; this pins the
    // cross-module contract on a noisy two-key series
    import graft.operators.TimeSeries
    val t0 = 1700000000000L
    val rnd = new scala.util.Random(7)
    val evs = for {
      ((k, base), ki) <- Seq("a" -> 50.0, "b" -> 900.0).zipWithIndex
      i <- 0 until 40
    } yield Event(ki * 100L + i, new Timestamp(t0 + i * 60000L), 1L, k,
      math.round((base + i * 1.5 + rnd.nextGaussian() * 20) * 100) / 100.0)
    // the twins' own quantizations, so both sides fold identical longs
    val series = evs.map(e => (e.event_type, e.ts.getTime,
      math.round(e.value * 100), math.round(e.value),
      math.round(e.value * 1e6))).toDF("k", "o", "cents", "whole", "micros")

    val kTs = TimeSeries.kalmanLocalLevel(series, "k", "o", "cents",
        qMicros = 10000L, rMicros = 250000L).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val kEs = EventStreams.kalmanResiduals(evs.toDS(), qVar = 10000L,
        rVar = 250000L).collect()
      .map(r => (r.event_type, r.ts.getTime) ->
        ((r.x, r.innovation, r.gain_ppm, r.level, r.p_var))).toMap
    assert(kTs.size == evs.size)
    assert(kTs == kEs)

    val vTs = TimeSeries.ewmVolatility(series, "k", "o", "whole",
        lambdaPpm = 940000L).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val vEs = EventStreams.ewmVolResiduals(evs.toDS(), lambdaPpm = 940000L)
      .collect().map(r => (r.event_type, r.ts.getTime) ->
        ((r.x, r.ret, r.var_micros, r.sigma_micros))).toMap
    assert(vTs.size == evs.size)
    assert(vTs == vEs)
    assert(vTs.values.exists(_._3 > 0L))

    // holtForecast's step 1 on the first n-1 points == holtResiduals'
    // one-step forecast for point n: every prefix is its own key
    val prefixes = series.as[(String, Long, Long, Long, Long)].collect()
      .groupBy(_._1).toSeq.flatMap { case (k, rows) =>
        val sorted = rows.sortBy(_._2)
        (2 to sorted.length).flatMap(n => sorted.take(n - 1)
          .map(r => (s"$k/${sorted(n - 1)._2}", r._2, r._5)))
      }.toDF("kn", "o", "micros")
    val hTs = TimeSeries.holtForecast(prefixes, "kn", "o", "micros",
        alphaPpm = 300000L, betaPpm = 100000L, horizon = 1).collect()
      .map(r => r.getString(0) -> r.getLong(5)).toMap
    val hEs = EventStreams.holtResiduals(evs.toDS(), alphaPpm = 300000L,
        betaPpm = 100000L).collect()
      .filter(_.event_id % 100 != 0) // first points have no prefix
      .map(r => s"${r.event_type}/${r.ts.getTime}" -> r.forecast_micros).toMap
    assert(hTs.size == evs.size - 2)
    assert(hTs == hEs)
  }

  test("kalmanGapsStateful == kalmanGapsResiduals; timeouts emit predict-only rows online; guards") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    val H = 3600000L
    def ev(id: Long, h: Long, v: Double) =
      Event(id, new Timestamp(t0 + h * H), 1L, "m", v)
    // observations at hours 0, 2, 3 (hour 1 is a gap), Q = R = 1e6
    // cents: seed (l=0, p=1e6); gap h1 (l=0, p=2e6); h2 pp=3e6 ->
    // gain 750000, l=750000, p=750000; h3 pp=1750000 -> gain 636363,
    // e=250000, l=909090, p=636364 (the TimeSeriesSpec gaps algebra)
    val evs = Seq(ev(1, 0, 0.0), ev(2, 2, 10000.0), ev(3, 3, 10000.0))
    val flush = Event(-1L, new Timestamp(t0 + 102 * H), -1L, "__flush", 0.0)
    val mem = MemoryStream[Event]
    val q = EventStreams.kalmanGapsStateful(mem.toDS(), stepMs = H,
        qVar = 1000000L, rVar = 1000000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("kgaps_sink").start()
    try {
      mem.addData(Seq(evs(0), evs(1)))
      q.processAllAvailable()
      mem.addData(Seq(evs(2)))
      q.processAllAvailable()
      mem.addData(Seq(evs(1))) // in-window duplicate — must absorb
      q.processAllAvailable()
      mem.addData(Seq(flush)) // watermark to t0 + 100h
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("kgaps_sink").collect()
      .map(r => r.getTimestamp(1).getTime -> ((r.getBoolean(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Long]),
        Option(r.get(6)).map(_.asInstanceOf[Long]),
        r.getLong(7), r.getLong(8)))).toMap
    // observed rows exactly the hand fold
    assert(rows(t0) ==
      ((true, 1L, Some(0L), Some(0L), Some(0L), 0L, 1000000L)))
    assert(rows(t0 + 2 * H) == ((true, 2L, Some(1000000L),
      Some(1000000L), Some(750000L), 750000L, 750000L)))
    assert(rows(t0 + 3 * H) == ((true, 3L, Some(1000000L),
      Some(250000L), Some(636363L), 909090L, 636364L)))
    // the in-between gap is a predict-only row
    assert(rows(t0 + H) == ((false, -1L, None, None, None, 0L, 2000000L)))
    // ONLINE gap emission: after the flush the watermark sits at
    // t0+100h, so hours 4..100 must have been emitted by event-time
    // TIMEOUT — 97 predict-only rows, level carried, variance growing
    // by Q per silent hour
    assert(rows.size == 101, s"got ${rows.size} rows")
    val gaps = rows.filter(!_._2._1)
    assert(gaps.size == 98)
    assert(rows(t0 + 100 * H) ==
      ((false, -1L, None, None, None, 909090L, 97636364L)))
    // sealed rows through the last observation == the batch twin
    val batch = EventStreams.kalmanGapsResiduals(evs.toDS(), stepMs = H,
        qVar = 1000000L, rVar = 1000000L)
      .collect().map(o => o.ts.getTime -> ((o.observed, o.event_id,
        o.x, o.innovation, o.gain_ppm, o.level, o.p_var))).toMap
    assert(batch.size == 4)
    assert(batch.forall { case (k, v) => rows(k) == v })
    // guards: off-grid observation; duplicate grid point; entry bound
    val off = Seq(ev(1, 0, 0.0),
      Event(9, new Timestamp(t0 + 90 * 60000L), 1L, "m", 1.0))
    val e1 = intercept[org.apache.spark.SparkException] {
      EventStreams.kalmanGapsResiduals(off.toDS(), stepMs = H).collect()
    }
    assert(e1.getMessage.contains("off the"), e1.getMessage)
    val dup = Seq(ev(1, 0, 0.0), ev(2, 0, 1.0))
    val e2 = intercept[org.apache.spark.SparkException] {
      EventStreams.kalmanGapsResiduals(dup.toDS(), stepMs = H).collect()
    }
    assert(e2.getMessage.contains("duplicate observation"), e2.getMessage)
    intercept[IllegalArgumentException] {
      EventStreams.kalmanGapsResiduals(dup.toDS(), stepMs = 0L)
    }
  }

  test("kalmanGapsStateful: maxSilentPoints expires a silent key; a later observation re-seeds") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    val H = 3600000L
    def ev(id: Long, h: Long, v: Double) =
      Event(id, new Timestamp(t0 + h * H), 1L, "m", v)
    def flush(id: Long, h: Long) =
      Event(id, new Timestamp(t0 + h * H), -1L, "__flush", 0.0)
    val mem = MemoryStream[Event]
    val q = EventStreams.kalmanGapsStateful(mem.toDS(), stepMs = H,
        qVar = 1000000L, rVar = 1000000L, maxSilentPoints = 3L)
      .writeStream.outputMode("append").format("memory")
      .queryName("kgaps_exp_sink").start()
    try {
      // one observation at h0, then silence; the flush at h10 moves
      // the watermark to h8 — WITHOUT the budget that would emit 8
      // predict rows and re-arm forever
      mem.addData(Seq(ev(1, 0, 0.0), flush(-1, 10)))
      q.processAllAvailable()
      // more silence — watermark to h58; an expired key must emit
      // NOTHING more
      mem.addData(Seq(flush(-2, 60)))
      q.processAllAvailable()
      // an above-watermark observation re-seeds a FRESH grid at h70
      // (innovation 0, variance back to the seed), then expires again
      mem.addData(Seq(ev(2, 70, 5.0), flush(-3, 80)))
      q.processAllAvailable()
    } finally q.stop()
    val m = spark.table("kgaps_exp_sink")
      .filter(org.apache.spark.sql.functions.col("event_type") === "m")
      .collect()
      .map(r => r.getTimestamp(1).getTime -> ((r.getBoolean(2),
        r.getLong(3), r.getLong(7), r.getLong(8)))).toMap
    // h0 observed + exactly 3 trailing predict rows (h1..h3), then the
    // re-seed at h70 + its own 3 trailing predict rows (h71..h73)
    assert(m.keySet == Set(0L, 1L, 2L, 3L, 70L, 71L, 72L, 73L)
      .map(t0 + _ * H), m.keys.map(k => (k - t0) / H).toSeq.sorted.toString)
    assert(m(t0) == ((true, 1L, 0L, 1000000L)), m(t0).toString)
    assert(m(t0 + 3 * H) == ((false, -1L, 0L, 4000000L)))
    // the re-seed is a fresh filter: level = 500 cents, p back to the
    // seed variance (no 70-hour variance carry)
    assert(m(t0 + 70 * H) == ((true, 2L, 500L, 1000000L)),
      m(t0 + 70 * H).toString)
    assert(m(t0 + 73 * H) == ((false, -1L, 500L, 4000000L)))
  }

  test("kalmanGapsStateful: below-watermark-only keys leave no zombie state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    val H = 3600000L
    val mem = MemoryStream[Event]
    val q = EventStreams.kalmanGapsStateful(mem.toDS(), stepMs = H,
        qVar = 1000000L, rVar = 1000000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("kgaps_zombie_sink").start()
    try {
      mem.addData(Seq(
        Event(1L, new Timestamp(t0), 1L, "m", 0.0),
        Event(-1L, new Timestamp(t0 + 10 * H), -1L, "__flush", 0.0)))
      q.processAllAvailable() // watermark -> t0 + 8h
      // a key whose ONLY delivery is already below the watermark must
      // not leave an empty, timeout-less state entry behind
      mem.addData(Seq(
        Event(99L, new Timestamp(t0 + 5 * H), 1L, "zombie", 1.0)))
      q.processAllAvailable()
      mem.addData(Seq(
        Event(-2L, new Timestamp(t0 + 20 * H), -1L, "__flush", 0.0)))
      q.processAllAvailable()
      val live = q.lastProgress.stateOperators(0).numRowsTotal
      assert(live == 2L, s"expected 2 live keys (m + __flush), got $live")
    } finally q.stop()
  }

  test("ewmaAnomaliesStateful absorbs an IN-WINDOW redelivery: one output row per event_id") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    val evs = (1 to 30).map(i =>
      Event(i.toLong, new Timestamp(t0 + i * 60000L), 1L, "c",
        6.0 + (i % 3) * 0.5))
    val sentinel = Event(-1L,
      new Timestamp(t0 + 30 * 60000L + 3L * 3600 * 1000), -1L, "__flush", 0.0)
    val mem = MemoryStream[Event]
    val q = EventStreams.ewmaAnomaliesStateful(mem.toDS(),
        minN = 5L, thresholdX100 = 300L)
      .writeStream.outputMode("append").format("memory")
      .queryName("ewma_inwin_sink").start()
    try {
      mem.addData(evs)
      q.processAllAvailable()
      // redeliver a slice while every event is still ABOVE the
      // watermark (no sentinel yet) — the duplicates pass the
      // straggler filter and must dedupe inside the buffer, not fold
      // twice once the seal arrives
      mem.addData(evs.filter(_.event_id % 4 == 1))
      q.processAllAvailable()
      mem.addData(Seq(sentinel))
      q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("ewma_inwin_sink")
      .collect().map(r => (r.getLong(1), r.getDouble(4))).toSeq
    assert(stream.map(_._1).distinct.length == stream.length,
      "an in-window duplicate produced a second output row")
    assert(stream.length == 30)
    val batch = EventStreams.ewmaAnomalies(evs.toDS(),
        minN = 5L, thresholdX100 = 300L)
      .collect().map(o => (o.event_id, o.zscore)).toSeq
    // duplicates must not perturb the baseline: z-scores bit-identical
    assert(stream.toSet == batch.toSet,
      s"diff: ${stream.toSet -- batch.toSet}")
  }

  test("incidentHours: cooldown merges, gaps split, sealed threshold gates, unknown type silent") {
    def ev(id: Long, hourOffset: Long, typ: String, x: Double) =
      Event(id, new Timestamp(hourOffset * 3600 * 1000), 0L, typ, x)
    // median map seals threshold at 10 -> alarm iff x > 20
    val med = Map("a" -> 10L)
    // hours 0,1 alarm (consecutive, <=2h cooldown -> one incident);
    // hour 5 alarms after a gap -> second incident; hour 2 is quiet
    val hours = Seq(ev(0, 0, "a", 25), ev(1, 1, "a", 30),
      ev(2, 2, "a", 15), ev(5, 5, "a", 99),
      ev(100, 0, "zzz", 1000)) // type with no sealed median: silent
    val got = EventStreams.incidentHours(hours.toDS(), med, 7200L)
      .collect().map(o => (o.event_type, o.hour.getTime / 3600000L,
        o.x, o.incident_id)).sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(("a", 0L, 25L, 1L), ("a", 1L, 30L, 1L),
      ("a", 5L, 99L, 2L)), got.mkString(";"))
    // exactly the boundary: gap == cooldown stays in the incident
    val edge = Seq(ev(0, 0, "a", 25), ev(2, 2, "a", 25))
    val g2 = EventStreams.incidentHours(edge.toDS(), med, 7200L)
      .collect().map(_.incident_id).distinct
    assert(g2.length == 1)
  }

  test("applyKsBatch: folded snapshot == batch ksBattery; redelivery is a no-op") {
    import graft.streaming.DriftStreams
    import graft.operators.{OrderedStats, Quality}
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_ksfdr_spec"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    // two metrics, deterministic values, a real location shift on m1
    val rows = (1 to 120).map { i =>
      val t = i % 2 == 0
      val m = if (i % 3 == 0) "m1" else "m2"
      val v = if (m == "m1" && !t) (i % 10) + 5L else (i % 10).toLong
      (m, v, t, i.toLong)
    }.toDF("metric", "v", "t", "id")
    def slice(k: Int) = rows.filter($"id" % 3 === k)
      .select($"metric", $"v", $"t")
    for (k <- 0 until 3)
      DriftStreams.applyKsBatch(base, k.toLong, slice(k))
    DriftStreams.applyKsBatch(base, 1L, slice(1)) // redelivery no-op
    val stream = DriftStreams.ksFdrAgainstSealed(spark, base)
      .collect().map(_.toSeq).toSet
    val batch = Quality.bhFdr(
      OrderedStats.ksBattery(rows, $"metric", $"v", $"t")
        .select($"metric", $"p_micros"), "metric", $"p_micros")
      .collect().map(_.toSeq).toSet
    assert(stream == batch, s"stream $stream != batch $batch")
    assert(stream.nonEmpty)
  }
}
