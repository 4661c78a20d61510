package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{abs, col, count, expr, lit, sqrt, sum, timestamp_micros, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.embed.HashingEmbedder
import graft.store.ParquetVectorStore

/** Structured Streaming tests over MemoryStream sources: incremental
  * windowed aggregation with watermark eviction, session windows, and
  * the foreachBatch document-ingest sink.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("hourlyRollup emits finalized windows once the watermark passes") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String, Double)]
    val agg = EventStreams.hourlyRollup(
      in.toDF.toDF("ts", "user_id", "event_type", "value"), "1 hour")
    val q = agg.writeStream.format("memory").queryName("hourly")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      in.addData(
        (ts("2024-01-01 10:05:00"), 1L, "click", 1.5),
        (ts("2024-01-01 10:40:00"), 2L, "click", 2.0),
        (ts("2024-01-01 10:50:00"), 1L, "view", 3.0))
      q.processAllAvailable()
      // watermark = max(ts) - 1h = 09:50 → the 10:00 window is still open
      assert(spark.table("hourly").count() == 0)
      // advance event time beyond 12:00 → 10:00 window finalizes
      in.addData((ts("2024-01-01 12:30:00"), 3L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("hourly")
        .orderBy("hour", "event_type").collect()
      assert(rows.map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSeq == Seq(
        ("2024-01-01 10:00:00.0", "click", 2L, 3.5),
        ("2024-01-01 10:00:00.0", "view", 1L, 3.0)))
    } finally q.stop()
  }

  test("hourlyDistinctUsers: stream equals batch exactly on closed windows") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String, Double)]
    // 6 events, 5 distinct users inside hour 10 — ABOVE k=4, so the
    // estimator path (k-th smallest hash), not below-k exactness, is
    // what the parity assertion exercises; arrival is split across two
    // micro-batches so the sketch state actually merges incrementally.
    val hour10 = Seq(
      (ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
      (ts("2024-01-01 10:10:00"), 2L, "click", 1.0),
      (ts("2024-01-01 10:15:00"), 3L, "view", 1.0),
      (ts("2024-01-01 10:20:00"), 4L, "view", 1.0),
      (ts("2024-01-01 10:25:00"), 5L, "click", 1.0),
      (ts("2024-01-01 10:30:00"), 3L, "click", 1.0))
    val agg = EventStreams.hourlyDistinctUsers(
      in.toDF.toDF("ts", "user_id", "event_type", "value"),
      k = 4, watermark = "1 hour")
    val q = agg.writeStream.format("memory").queryName("hourly_users")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      in.addData(hour10.take(3): _*)
      q.processAllAvailable()
      in.addData(hour10.drop(3): _*)
      q.processAllAvailable()
      in.addData((ts("2024-01-01 12:30:00"), 9L, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("hourly_users").orderBy("hour").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
      // KMV state is a function of the input SET: the closed window
      // must match the SAME aggregate run in one batch pass,
      // micro-batch boundaries and all.
      val expected = EventStreams.hourlyDistinctUsers(
          hour10.toDF("ts", "user_id", "event_type", "value"), k = 4)
        .orderBy("hour").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
      assert(got.toSeq == expected.toSeq)
      assert(got.head._2 == 6L) // all six events counted
      assert(got.head._3 > 0.0) // estimator engaged (k=4 < 5 users)
    } finally q.stop()
  }

  test("slidingRollup: each event lands in window/slide overlapping windows") {
    val df = Seq(
      (ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
      (ts("2024-01-01 10:50:00"), 2L, "view", 2.0))
      .toDF("ts", "user_id", "event_type", "value")
    val got = EventStreams.slidingRollup(df)
      .orderBy("event_type", "win_start").collect()
      .map(r => (r.getString(2), r.getTimestamp(0).toString, r.getLong(3)))
    // 1h window, 15m slide → every event belongs to exactly 4 windows.
    assert(got.count(_._1 == "click") == 4)
    assert(got.count(_._1 == "view") == 4)
    // The 10:05 click's earliest covering window starts 09:15; the
    // latest starts 10:00.
    val clickStarts = got.filter(_._1 == "click").map(_._2).sorted
    assert(clickStarts.head == "2024-01-01 09:15:00.0" &&
      clickStarts.last == "2024-01-01 10:00:00.0", clickStarts.toSeq)
    // Both events share the [10:00, 11:00) window.
    assert(got.exists(g => g._1 == "click" && g._2 == "2024-01-01 10:00:00.0")
      && got.exists(g => g._1 == "view" && g._2 == "2024-01-01 10:00:00.0"))
  }

  test("hourlyLeaderboard: cross-batch spend sums rank exactly on closed hours") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String, Double)]
    // User 2 leads after batch 1 (5.0 vs 4.0); user 1's SECOND purchase
    // arrives a batch later and flips the board (7.0 vs 5.0) — the
    // interaction a per-batch top-k folded later would get wrong
    // (it would rank the partial sums 4.0/5.0 and crown user 2).
    val hour10 = Seq(
      (ts("2024-01-01 10:05:00"), 1L, "purchase", 4.0),
      (ts("2024-01-01 10:10:00"), 2L, "purchase", 5.0),
      (ts("2024-01-01 10:15:00"), 3L, "purchase", 1.0),
      (ts("2024-01-01 10:40:00"), 1L, "purchase", 3.0), // the flip
      (ts("2024-01-01 10:50:00"), 4L, "purchase", 0.5))
    val q = EventStreams.hourlyLeaderboard(
        in.toDF.toDF("ts", "user_id", "event_type", "value"),
        k = 2, watermark = "1 hour")
      .writeStream.format("memory").queryName("leaderboard")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      in.addData(hour10.take(3): _*); q.processAllAvailable()
      in.addData(hour10.drop(3): _*); q.processAllAvailable()
      assert(spark.table("leaderboard").count() == 0,
        "the board must not emit before the hour closes")
      in.addData((ts("2024-01-01 13:00:00"), 9L, "purchase", 1.0))
      q.processAllAvailable()
      q.processAllAvailable() // the chained stage needs the next trigger
      val got = spark.table("leaderboard").orderBy("hour", "rank").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(got == Seq(
        ("2024-01-01 10:00:00.0", 1L, 1L, 7.0), // user 1 after the flip
        ("2024-01-01 10:00:00.0", 2L, 2L, 5.0)), got.toString)
    } finally q.stop()
  }

  test("profileSink: folded micro-batch partials equal the one-pass batch profile") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Double, Double)]
    val cols = Seq("x", "y")
    val ledger = new EventStreams.ProfileLedger(cols, k = 8)
    val q = ledger.sink(
      in.toDF.toDF("id", "x", "y"))
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    // 30 rows across three micro-batches; 15 distinct cent-values per
    // column — ABOVE k=8, so the fold exercises the estimator path,
    // not below-k exactness.
    val rows = Seq.tabulate(30)(i =>
      (i.toLong, (i % 15) * 1.25, 100.0 - (i % 15) * 2.5))
    try {
      in.addData(rows.take(10): _*); q.processAllAvailable()
      in.addData(rows.slice(10, 20): _*); q.processAllAvailable()
      in.addData(rows.drop(20): _*); q.processAllAvailable()
      def strip(df: org.apache.spark.sql.DataFrame) =
        df.drop("n_shards").collect().map(_.toSeq).toSeq
      val streamed = strip(ledger.current(spark))
      val direct = strip(graft.operators.TableProfile.fold(
        graft.operators.TableProfile.partial(
          rows.toDF("id", "x", "y"), cols, 8), cols, 8))
      assert(streamed == direct,
        s"incremental profile drifted from the one-pass profile:\n" +
          s"stream: $streamed\ndirect: $direct")
      assert(ledger.state.size == 3, "one partial row per micro-batch")
    } finally q.stop()
  }

  test("profileSink ledger: a replayed batchId is folded exactly once") {
    // foreachBatch is at-least-once: a failed/retried micro-batch
    // re-presents the SAME batchId. The ledger must not double-count it.
    val cols = Seq("x")
    val ledger = new EventStreams.ProfileLedger(cols, k = 8)
    val b0 = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x")
    val b1 = Seq((3L, 3.0)).toDF("id", "x")
    ledger.ingest(b0, 0L)
    ledger.ingest(b0, 0L) // retry of an already-committed batch: no-op
    ledger.ingest(b1, 1L)
    ledger.ingest(b0, 0L) // late replay after progress: still a no-op
    assert(ledger.state.size == 2, "one partial per DISTINCT batchId")
    val prof = ledger.current(spark).collect().head
    assert(prof.getAs[Long]("n_rows") == 3L,
      s"rows double-counted: $prof")
    assert(prof.getAs[Double]("sum_v") == 6.0)
  }

  test("sessionize groups by 30-minute gaps (batch mode sanity)") {
    // session_window works identically on batch frames — pin the
    // gap-merge semantics without a streaming harness.
    val df = Seq(
      (ts("2024-01-01 10:00:00"), 7L, "click", 1.0),
      (ts("2024-01-01 10:20:00"), 7L, "click", 1.0), // same session
      (ts("2024-01-01 11:30:00"), 7L, "click", 1.0), // >30 min later: new
      (ts("2024-01-01 10:00:00"), 8L, "view", 2.0))
      .toDF("ts", "user_id", "event_type", "value")
    val got = EventStreams.sessionize(df)
      .orderBy("user_id", "session_start")
      .select("user_id", "n_events", "total_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((7L, 2L, 2.0), (7L, 1L, 1.0), (8L, 1L, 2.0)))
  }

  test("session_window agrees with the batch lag/cumsum sessionization") {
    // Two independent formulations of the same semantics over the real
    // events table: e02's window-function approach vs session_window.
    // (Boundary note: they differ only on gaps of EXACTLY 30 minutes,
    // which microsecond-resolution data never hits.)
    val sfDir = TestSession.sf
    val e02 = graft.queries.EventQueries
      .queries("e02_sessionization")(spark, sfDir)
    val viaSessionWindow = EventStreams.sessionize(
      graft.Tables.events(spark, sfDir)
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts_ns div 1000"))))
    assert(viaSessionWindow.count() == e02.count())
    // per-user session counts must agree, not just the global total
    val a = e02.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = viaSessionWindow.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("intervalJoin matches clicks to views in the trailing window") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)] // (user, ts, click_id)
    val views = MemoryStream[(Long, Timestamp, Long)] // (user, ts, view_id)
    val joined = EventStreams.intervalJoin(
      clicks.toDF.toDF("user_id", "ts", "click_id"),
      views.toDF.toDF("user_id", "ts", "view_id"),
      key = "user_id", rightPayload = Seq("view_id"), lag = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      views.addData(
        (1L, ts("2024-01-01 10:00:00"), 100L),
        (1L, ts("2024-01-01 10:20:00"), 101L),
        (1L, ts("2024-01-01 09:00:00"), 102L), // too old for the click
        (2L, ts("2024-01-01 10:25:00"), 103L)) // other user
      clicks.addData((1L, ts("2024-01-01 10:30:00"), 900L))
      q.processAllAvailable()
      val got = spark.table("ij")
        .select("click_id", "r_view_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // views 100 (30 min before, inclusive) and 101 match; 102/103 don't
      assert(got == Set((900L, 100L), (900L, 101L)), s"got $got")
    } finally q.stop()
  }

  test("left_outer intervalJoin emits unconverted rows only after the watermark proves them") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val views = MemoryStream[(Long, Timestamp, Long)]
    val joined = EventStreams.intervalJoin(
      clicks.toDF.toDF("user_id", "ts", "click_id"),
      views.toDF.toDF("user_id", "ts", "view_id"),
      key = "user_id", rightPayload = Seq("view_id"), lag = "30 minutes",
      watermark = "10 minutes", joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ij_outer")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      views.addData((1L, ts("2024-01-01 10:20:00"), 101L))
      clicks.addData(
        (1L, ts("2024-01-01 10:30:00"), 900L), // converts via view 101
        (2L, ts("2024-01-01 10:30:00"), 901L)) // no view: unconverted
      q.processAllAvailable()
      def rows() = spark.table("ij_outer")
        .select("click_id", "r_view_id").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      // the match emits immediately; the null row must NOT — a partner
      // for click 901 could still arrive within watermark + lag
      assert(rows() == Set((900L, Some(101L))), s"premature null row: ${rows()}")
      // advance both watermarks far past 901's horizon: the unmatched
      // click now emits exactly once, with a null view
      views.addData((9L, ts("2024-01-01 13:00:00"), 999L))
      clicks.addData((9L, ts("2024-01-01 13:00:00"), 998L))
      q.processAllAvailable()
      q.processAllAvailable() // outer-null emission needs the next trigger
      assert(rows().contains((901L, None)),
        s"unconverted click must surface after the watermark: ${rows()}")
    } finally q.stop()
  }

  test("statefulAsOfEnrich equals the batch as-of join on closed event times") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String)] // (event_id, user_id, ts_us, type)
    def us(s: String) = ts(s).getTime * 1000L
    val tolUs = 30L * 60 * 1000 * 1000 // 30 min, e15's staleness bound
    val q = EventStreams.statefulAsOfEnrich(in.toDS(),
        toleranceUs = tolUs, watermark = "30 minutes")
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    // Event log, deliberately shuffled across micro-batches: view 3
    // (10:04) arrives AFTER click 2 (10:05) already streamed in; user
    // 2's click has no view at all; click 5's nearest view is 56 min
    // back — beyond tolerance. "other" events must be ignored.
    val batch1 = Seq((1L, 1L, us("2024-01-01 10:00:00"), "view"),
      (2L, 1L, us("2024-01-01 10:05:00"), "click"),
      (6L, 1L, us("2024-01-01 10:01:00"), "other"))
    val batch2 = Seq((3L, 1L, us("2024-01-01 10:04:00"), "view"), // late, out of order
      (4L, 2L, us("2024-01-01 10:40:00"), "click"),
      (5L, 1L, us("2024-01-01 11:00:00"), "click"))
    val batch3 = Seq((9L, 9L, us("2024-01-01 11:40:00"), "view")) // watermark push only
    try {
      in.addData(batch1: _*); q.processAllAvailable()
      assert(spark.table("asof_stream").count() == 0,
        "nothing may finalize before the watermark passes it")
      in.addData(batch2: _*); q.processAllAvailable()
      in.addData(batch3: _*); q.processAllAvailable()
      q.processAllAvailable() // timeout emissions need the next trigger
      val got = spark.table("asof_stream").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]))).sortBy(_._1).toSeq
      // Batch truth: the SAME events through the batch as-of join with
      // the same tolerance, restricted to closed clicks (ts <= final
      // watermark 11:10) — stream must agree exactly.
      val all = (batch1 ++ batch2 ++ batch3)
        .toDF("event_id", "user_id", "ts_us", "event_type")
      val clicks = all.filter(col("event_type") === "click")
        .drop("event_type")
      val views = all.filter(col("event_type") === "view")
        .drop("event_type")
      val wmUs = us("2024-01-01 11:40:00") - 30L * 60 * 1000 * 1000
      val want = graft.operators.AsOfJoin.asofJoin(
          clicks, views, keys = Seq("user_id"), timeCol = "ts_us",
          rightPayload = Seq("event_id", "ts_us"), prefix = "view_",
          tieBreak = Seq(col("view_event_id")), tolerance = tolUs)
        .filter(col("ts_us") <= wmUs)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2),
            Option(r.get(3)).map(_.asInstanceOf[Long]),
            Option(r.get(4)).map(_.asInstanceOf[Long])
              .map(r.getLong(2) - _))).sortBy(_._1).toSeq
      assert(got == want, s"stream drifted from batch:\n got: $got\nwant: $want")
      // The fixture exercises all three paths: matched-within-bound
      // (click 2 → the out-of-order view 3), no-view nulls (click 4),
      // beyond-tolerance nulls (click 5).
      assert(got.map(g => g._1 -> g._4).toMap ==
        Map(2L -> Some(3L), 4L -> None, 5L -> None), got.toString)
    } finally q.stop()
  }

  test("statefulAsOfEnrich fuzz: randomized reordered stream equals batch") {
    // 400 random events over 4 hours, delivered in 15-minute event-time
    // buckets with arrival order SHUFFLED inside each bucket — maximal
    // reordering that still honors the 30-minute watermark contract
    // (when bucket k streams in, the watermark trails its start, so
    // nothing is late-dropped and stream ≡ batch must hold exactly).
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(43)
    val minUs = 60L * 1000 * 1000
    val events = Seq.tabulate(400) { i =>
      ((i + 1).toLong, rnd.nextInt(12).toLong,
        math.abs(rnd.nextLong() % (240 * minUs)),
        if (rnd.nextBoolean()) "view" else "click")
    }
    val tolUs = 45 * minUs
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = EventStreams.statefulAsOfEnrich(in.toDS(),
        toleranceUs = tolUs, watermark = "30 minutes")
      .writeStream.format("memory").queryName("asof_fuzz")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      events.groupBy(_._3 / (15 * minUs)).toSeq.sortBy(_._1).foreach {
        case (_, bucket) =>
          in.addData(rnd.shuffle(bucket): _*); q.processAllAvailable()
      }
      in.addData((9999L, 999L, 480 * minUs, "view"))
      q.processAllAvailable(); q.processAllAvailable()
      val got = spark.table("asof_fuzz").collect().map(r =>
        (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]))).sortBy(_._1).toSeq
      val all = events.toDF("event_id", "user_id", "ts_us", "event_type")
      val wmUs = 480 * minUs - 30 * minUs
      val want = graft.operators.AsOfJoin.asofJoin(
          all.filter(col("event_type") === "click").drop("event_type"),
          all.filter(col("event_type") === "view").drop("event_type"),
          keys = Seq("user_id"), timeCol = "ts_us",
          rightPayload = Seq("event_id", "ts_us"), prefix = "v_",
          tieBreak = Seq(col("v_event_id")), tolerance = tolUs)
        .filter(col("ts_us") <= wmUs)
        .collect().map(r =>
          (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]),
            Option(r.get(4)).map(_.asInstanceOf[Long])
              .map(r.getLong(2) - _))).sortBy(_._1).toSeq
      assert(got.size == want.size, s"row counts: ${got.size} vs ${want.size}")
      assert(got == want)
      // the fixture must exercise both match outcomes
      assert(got.exists(_._2.isDefined) && got.exists(_._2.isEmpty))
    } finally q.stop()
  }

  test("statefulAsOfEnrichForward fuzz: randomized reordered stream equals batch") {
    // The backward fuzz's discipline applied to the forward machine
    // (and its two-pointer candidate scan): 15-minute event-time
    // buckets, shuffled within, 30-minute watermark. The final push
    // leaves every fixture left closed (max left ts + tolerance ≪
    // final watermark), so stream must equal the UNfiltered batch
    // join exactly.
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(47)
    val minUs = 60L * 1000 * 1000
    val events = Seq.tabulate(400) { i =>
      ((i + 1).toLong, rnd.nextInt(12).toLong,
        math.abs(rnd.nextLong() % (240 * minUs)),
        if (rnd.nextBoolean()) "view" else "click")
    }
    val tolUs = 20 * minUs
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = EventStreams.statefulAsOfEnrichForward(in.toDS(),
        leftType = "view", rightType = "click",
        toleranceUs = tolUs, watermark = "30 minutes")
      .writeStream.format("memory").queryName("asof_fwd_fuzz")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      events.groupBy(_._3 / (15 * minUs)).toSeq.sortBy(_._1).foreach {
        case (_, bucket) =>
          in.addData(rnd.shuffle(bucket): _*); q.processAllAvailable()
      }
      in.addData((9999L, 999L, 480 * minUs, "click"))
      q.processAllAvailable(); q.processAllAvailable()
      val got = spark.table("asof_fwd_fuzz").collect().map(r =>
        (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]))).sortBy(_._1).toSeq
      val all = events.toDF("event_id", "user_id", "ts_us", "event_type")
      val want = graft.operators.AsOfJoin.asofJoin(
          all.filter(col("event_type") === "view").drop("event_type"),
          all.filter(col("event_type") === "click").drop("event_type"),
          keys = Seq("user_id"), timeCol = "ts_us",
          rightPayload = Seq("event_id", "ts_us"), prefix = "c_",
          tieBreak = Seq(col("c_event_id")), direction = "forward",
          tolerance = tolUs)
        .collect().map(r =>
          (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]),
            Option(r.get(4)).map(_.asInstanceOf[Long])
              .map(_ - r.getLong(2)))).sortBy(_._1).toSeq
      assert(got.size == want.size, s"row counts: ${got.size} vs ${want.size}")
      assert(got == want)
      assert(got.exists(_._2.isDefined) && got.exists(_._2.isEmpty))
    } finally q.stop()
  }

  test("statefulAsOfEnrichForward equals the batch forward as-of join on closed lefts") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String)]
    def us(s: String) = ts(s).getTime * 1000L
    val tolUs = 10L * 60 * 1000 * 1000 // 10 min
    val q = EventStreams.statefulAsOfEnrichForward(in.toDS(),
        leftType = "view", rightType = "click",
        toleranceUs = tolUs, watermark = "30 minutes")
      .writeStream.format("memory").queryName("asof_fwd")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    // Clicks stream in BEFORE the views they answer; u3 pins the
    // equal-time rule (click at the same instant is visible, smallest
    // id among equal-time clicks wins); u2's only click is beyond the
    // tolerance; view 3 never gets a click.
    val batch1 = Seq((2L, 1L, us("2024-01-01 10:04:00"), "click"),
      (5L, 2L, us("2024-01-01 10:20:00"), "click"))
    val batch2 = Seq((1L, 1L, us("2024-01-01 10:00:00"), "view"),
      (4L, 2L, us("2024-01-01 10:06:00"), "view"),
      (6L, 3L, us("2024-01-01 10:10:00"), "view"),
      (8L, 3L, us("2024-01-01 10:10:00"), "click"),
      (7L, 3L, us("2024-01-01 10:10:00"), "click"),
      (3L, 1L, us("2024-01-01 10:30:00"), "view"))
    val batch3 = Seq((9L, 9L, us("2024-01-01 11:40:00"), "view"))
    try {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
      in.addData(batch3: _*); q.processAllAvailable()
      q.processAllAvailable() // timeout emissions need the next trigger
      val got = spark.table("asof_fwd").collect().map(r =>
        (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]))).sortBy(_._1).toSeq
      val all = (batch1 ++ batch2 ++ batch3)
        .toDF("event_id", "user_id", "ts_us", "event_type")
      val views = all.filter(col("event_type") === "view").drop("event_type")
      val clicks = all.filter(col("event_type") === "click").drop("event_type")
      val wmUs = us("2024-01-01 11:40:00") - 30L * 60 * 1000 * 1000
      val want = graft.operators.AsOfJoin.asofJoin(
          views, clicks, keys = Seq("user_id"), timeCol = "ts_us",
          rightPayload = Seq("event_id", "ts_us"), prefix = "click_",
          tieBreak = Seq(col("click_event_id")), direction = "forward",
          tolerance = tolUs)
        .filter(col("ts_us") + tolUs <= wmUs) // closed lefts only
        .collect().map(r =>
          (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]),
            Option(r.get(4)).map(_.asInstanceOf[Long])
              .map(_ - r.getLong(2)))).sortBy(_._1).toSeq
      assert(got == want, s"stream drifted from batch:\n got: $got\nwant: $want")
      assert(got.map(g => g._1 -> g._2).toMap ==
        Map(1L -> Some(2L), 3L -> None, 4L -> None, 6L -> Some(7L)),
        got.toString)
    } finally q.stop()
  }

  test("retentionIncrements aggregate to the batch cohort matrix (e08 shape)") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long)] // (user_id, ts_us)
    def us(s: String) = ts(s).getTime * 1000L
    val dayUs = 24L * 3600 * 1000 * 1000
    // 3-day lateness horizon: the fixture reorders arrivals across
    // days, and an event below the watermark is (correctly)
    // late-dropped before the state function ever sees it.
    val q = EventStreams.retentionIncrements(in.toDS(), watermark = "3 days")
      .writeStream.format("memory").queryName("retention")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    // Users 1–3 across three days, arrivals shuffled across batches:
    // user 1's day-1 event lands BEFORE its cohort-defining day-0 event
    // (same batch, later position), a buffered second day-0 event for
    // user 1 must not re-emit when the buffer flushes, and user 2's
    // day-3 activity arrives two batches after its cohort day.
    val evts = Seq(
      (1L, us("2024-01-10 12:00:00")), // u1 day1 (arrives first in-batch)
      (1L, us("2024-01-09 09:00:00")), // u1 day0 — the true cohort day
      (1L, us("2024-01-09 15:00:00")), // u1 day0 repeat: no new increment
      (2L, us("2024-01-10 08:00:00")), // u2 cohort day1
      (3L, us("2024-01-11 10:00:00")), // u3 cohort day2
      (2L, us("2024-01-12 23:00:00"))) // u2 day3 → offset 2
    try {
      in.addData(evts.take(3): _*); q.processAllAvailable()
      in.addData(evts.slice(3, 4): _*); q.processAllAvailable()
      in.addData(evts.drop(4): _*); q.processAllAvailable()
      // push the watermark past every fixture event so all buffers
      // flush; the pushing user itself stays above the final watermark
      // and must emit nothing.
      in.addData((9L, us("2024-01-20 00:00:00"))); q.processAllAvailable()
      q.processAllAvailable() // timeout emissions need the next trigger
      val agg = spark.table("retention")
        .groupBy(col("cohort_day"), col("day_offset"))
        .count().collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      // Batch truth, e08's exact shape on the CLOSED events (u9's
      // watermark-push event is above the final watermark: excluded).
      val all = evts
        .toDF("user_id", "ts_us")
        .selectExpr("user_id", s"ts_us div $dayUs AS day")
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      val cohortOf = all.groupBy(_._1).map { case (u, ds) => u -> ds.map(_._2).min }
      val want = all.groupBy { case (u, d) => (cohortOf(u), d - cohortOf(u)) }
        .map { case (k, vs) => k -> vs.length.toLong }
      assert(agg == want, s"stream matrix drifted:\n got: $agg\nwant: $want")
      // exactly-once per (user, day): increments == distinct pairs
      assert(spark.table("retention").count() == all.length)
    } finally q.stop()
  }

  test("hourlyUserEngagement increments fold to batch e46's decayed scores bit for bit") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)] // (ts, user_id, value)
    val hourUs = 3600L * 1000 * 1000
    // 35-day lateness horizon: the fixture's arrivals jump weeks
    // backwards across batches (the decay needs week-apart ages).
    val q = EventStreams.hourlyUserEngagement(
        in.toDF.toDF("ts", "user_id", "value"), watermark = "35 days")
      .writeStream.format("memory").queryName("engage")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    // weeks-apart fixture so the decay staircase BITES (ages 0, 1 and
    // 4 weeks), two events sharing one hour window, scrambled arrival
    val evts = Seq(
      (ts("2024-02-01 10:05:00"), 1L, 10.0),
      (ts("2024-01-25 09:00:00"), 1L, 20.0), // 1 week back
      (ts("2024-01-04 12:00:00"), 2L, 40.0), // 4 weeks back
      (ts("2024-02-01 10:55:00"), 2L, 5.5),
      (ts("2024-01-25 09:30:00"), 1L, 2.25), // same hour as the 2nd
      (ts("2024-02-01 11:20:00"), 3L, 7.0))
    try {
      in.addData(evts(2), evts(0)); q.processAllAvailable()
      in.addData(evts(4), evts(1), evts(3)); q.processAllAvailable()
      in.addData(evts(5)); q.processAllAvailable()
      // close every fixture window; the pusher's own window stays open
      in.addData((ts("2024-03-15 00:00:00"), 99L, 0.0))
      q.processAllAvailable()
      val inc = spark.table("engage").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // exactly one increment per closed (hour, user)
      val usOf = evts.map { case (t, u, v) => (t.getTime * 1000L, u, v) }
      assert(inc.length ==
        usOf.map { case (us, u, _) => (us / hourUs, u) }.distinct.length)
      // store-side fold: weeks from the hour index vs the max closed
      // hour, the same integer staircase — vs a driver replay of
      // batch e46 over the closed events.
      val anchorHourIdx = usOf.map(_._1 / hourUs).max
      def w(weeks: Long): Long = if (weeks >= 20) 0L else 1000000L >> weeks
      val got = inc.groupBy(_._2).map { case (u, rows) =>
        u -> (rows.map(_._3).sum,
          rows.map(r => r._3 * w((anchorHourIdx - r._1) / 168)).sum,
          rows.map(r => r._4 * w((anchorHourIdx - r._1) / 168)).sum)
      }
      val want = usOf.groupBy(_._2).map { case (u, rows) =>
        u -> (rows.length.toLong,
          rows.map(r => w((anchorHourIdx - r._1 / hourUs) / 168)).sum,
          rows.map(r => math.round(r._3 * 100) *
            w((anchorHourIdx - r._1 / hourUs) / 168)).sum)
      }
      assert(got == want, s"decayed fold drifted:\n got: $got\nwant: $want")
    } finally q.stop()
  }

  test("termHeavyHitterSink: the MG bound holds over the whole stream; replay cannot double-count") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[String]
    val ledger = new EventStreams.HeavyHitterLedger(4)
    val q = ledger.sink(
        in.toDF.toDF("item"))
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    // skewed vocabulary scrambled across batches: two dominant items,
    // a mid item, and singleton noise that forces decrements
    val items = scala.util.Random.javaRandomToRandom(
      new java.util.Random(7)).shuffle(
      (Seq.fill(30)("alpha") ++ Seq.fill(18)("beta") ++
        Seq.fill(7)("gamma") ++ (0 until 25).map(i => s"noise$i")).toList)
    try {
      val (b1, rest) = items.splitAt(20)
      val (b2, b3) = rest.splitAt(30)
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(b3: _*); q.processAllAvailable()
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong)
      val bound = items.length.toLong / (ledger.k + 1)
      val got = ledger.top().map { case (t, c, b) => t -> (c, b) }.toMap
      // every item above the guarantee threshold survives
      for ((t, c) <- truth if c > bound)
        assert(got.contains(t), s"$t (true $c > bound $bound) must survive")
      // every reported count sits inside [true - bound, true]
      for ((t, (c, b)) <- got) {
        assert(b == bound)
        assert(c <= truth(t) && c >= truth(t) - bound,
          s"$t reported $c outside [${truth(t) - bound}, ${truth(t)}]")
      }
      // a replayed batchId must not re-fold (foreachBatch redelivery)
      val before = (ledger.top(), ledger.state._2)
      ledger.ingest(Seq("alpha", "alpha").toDF("item"), batchId = 0L)
      assert((ledger.top(), ledger.state._2) == before,
        "stale batchId replay must be a no-op")
    } finally q.stop()
  }

  test("anomalySink: ledger z-scores equal the batch e23 chain on closed hours") {
    implicit val sq = spark.sqlContext
    val hourUs = 3600L * 1000 * 1000
    val in = MemoryStream[(Long, Long, String)] // (event_id, ts_us, event_type)
    // hours 0..25 of 'view' traffic at 3 + h%5 events/hour, hour 25
    // spiking to 40 — the anomaly the trailing window must flag
    val evts = (for (h <- 0L to 25L; i <- 0L until (if (h == 25) 40L else 3 + h % 5))
      yield (h * 100 + i, h * hourUs + i * 1000L, "view")).toVector
    val ledger = new EventStreams.AnomalyLedger
    val stream = in.toDS().toDF("event_id", "ts_us", "event_type")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withColumn("value", lit(1.0))
    val q = ledger.sink(
        EventStreams.hourlyRollup(stream, watermark = "2 hours"))
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      val (a, b) = evts.splitAt(evts.length / 2)
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      // close every 'view' hour; the pusher's own hour stays open and
      // its type never reaches minWindow, so it cannot emit a row
      in.addData((9999L, 40L * hourUs, "other")); q.processAllAvailable()
      q.processAllAvailable()
      val got = ledger.anomalies()
      // batch truth: e23's exact expression chain over the same rows
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("hour_idx"))
        .rangeBetween(-24, -1)
      val want = evts.toDF("event_id", "ts_us", "event_type")
        .groupBy(col("event_type"),
          expr(s"ts_us div $hourUs").as("hour_idx"))
        .agg(count(lit(1)).as("n"))
        .withColumn("n2", col("n") * col("n"))
        .withColumn("cnt24", count(col("n")).over(w))
        .withColumn("sum24", sum(col("n")).over(w))
        .withColumn("sumsq24", sum(col("n2")).over(w))
        .filter(col("cnt24") >= 12)
        .withColumn("mean24",
          col("sum24").cast("double") / col("cnt24").cast("double"))
        .withColumn("vnum",
          (col("cnt24") * col("sumsq24") - col("sum24") * col("sum24"))
            .cast("double"))
        .withColumn("z", when(col("vnum") <= 0, lit(0.0))
          .otherwise((col("n").cast("double") - col("mean24")) /
            sqrt(col("vnum") / (col("cnt24") * col("cnt24")).cast("double"))))
        .select(col("event_type"), col("hour_idx"), col("n"),
          col("mean24"), col("z"), (abs(col("z")) > 2.0).as("is_anomaly"))
        .orderBy(col("event_type"), col("hour_idx"))
        .collect()
        .map(r => EventStreams.AnomalyRow(r.getString(0), r.getLong(1),
          r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
        .toSeq
      assert(got == want, s"ledger drifted from the batch chain:\n got: " +
        s"${got.take(3)}...\nwant: ${want.take(3)}...")
      assert(got.exists(r => r.hour_idx == 25L && r.is_anomaly),
        "the hour-25 spike must flag")
      // idempotence: replaying an already-folded batchId is a no-op
      val before = ledger.state
      ledger.ingest(
        Seq(("view", new java.sql.Timestamp(0L), 999L))
          .toDF("event_type", "hour", "n"),
        ledger.lastBatchId)
      assert(ledger.state == before)
    } finally q.stop()
  }

  test("AnomalyLedger: prefix-sum windows ≡ per-hour rescan across types; evictBefore bounds state") {
    // The O(n log n) anomalies() must be bit-identical to the naive
    // O(n²) per-hour rescan it replaced — gappy hours, interleaved
    // types, colliding hour indexes all at once.
    val rnd = new scala.util.Random(15)
    val ledger = new EventStreams.AnomalyLedger
    ledger.state = (for {
      t <- Seq("view", "click", "purchase")
      h <- 0L to 120L if rnd.nextDouble() < 0.8 // ~20% missing hours
    } yield (t, h) -> (1L + rnd.nextInt(50)).toLong).toMap
    def naive(minWindow: Int, flagAt: Double) =
      ledger.state.toSeq.sortBy { case ((t, h), _) => (t, h) }.flatMap {
        case ((t, h), n) =>
          val trail = ledger.state.collect {
            case ((`t`, hh), nn) if hh >= h - 24 && hh <= h - 1 => nn
          }.toSeq
          val cnt = trail.size.toLong
          if (cnt < minWindow) None
          else {
            val sum = trail.sum
            val sumsq = trail.map(x => x * x).sum
            val mean = sum.toDouble / cnt.toDouble
            val vnum = (cnt * sumsq - sum * sum).toDouble
            val z = if (vnum <= 0) 0.0
              else (n.toDouble - mean) / math.sqrt(vnum / (cnt * cnt).toDouble)
            Some(EventStreams.AnomalyRow(t, h, n, mean, z, math.abs(z) > flagAt))
          }
      }
    for ((mw, fa) <- Seq((12, 2.0), (1, 0.5), (24, 3.0)))
      assert(ledger.anomalies(mw, fa) == naive(mw, fa),
        s"minWindow=$mw flagAt=$fa drifted from the rescan form")
    // eviction drops only pre-horizon state; post-horizon scores whose
    // trailing windows never reach below the horizon are unchanged
    val before = ledger.anomalies()
    ledger.evictBefore(40L)
    assert(ledger.state.keys.forall(_._2 >= 40L), "evicted hours survive")
    val after = ledger.anomalies()
    assert(after.filter(_.hour_idx >= 40L + 24L) ==
      before.filter(_.hour_idx >= 40L + 24L),
      "scores with un-truncated windows must be unchanged by eviction")
    // hours inside the horizon's 24-hour shadow see truncated trails —
    // the documented caller contract (evict 24h before what you score)
    assert(after.forall(_.hour_idx >= 40L))
  }

  test("transitionIncrements aggregate to the batch e22 transition counts") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String)] // (event_id, user_id, ts_us, event_type)
    def us(s: String) = ts(s).getTime * 1000L
    val q = EventStreams.transitionIncrements(in.toDS(), watermark = "2 hours")
      .writeStream.format("memory").queryName("transitions")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    // u1's chain view → click → purchase arrives SCRAMBLED (the
    // purchase lands first, the view a batch later, the click last),
    // with click and purchase at the SAME time so the (ts, id) sort —
    // the batch window's exact order — is what sequences them; u2 is
    // a single event, pinning the '_start' entry transition.
    val evts = Seq(
      (1L, 1L, us("2024-01-09 09:00:00"), "view"),
      (2L, 1L, us("2024-01-09 09:30:00"), "click"),
      (3L, 1L, us("2024-01-09 09:30:00"), "purchase"),
      (4L, 2L, us("2024-01-09 10:00:00"), "signup"))
    try {
      in.addData(evts(2)); q.processAllAvailable()
      in.addData(evts(0), evts(3)); q.processAllAvailable()
      in.addData(evts(1)); q.processAllAvailable()
      // push the watermark past the fixture so all buffers flush
      in.addData((9L, 9L, us("2024-01-10 00:00:00"), "view"))
      q.processAllAvailable()
      q.processAllAvailable() // timeout emissions need the next trigger
      val got = spark.table("transitions")
        .groupBy(col("from_type"), col("to_type")).count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      // batch truth: per user, sort by (ts, id), lag with '_start'
      val want = evts.groupBy(_._2).toSeq.flatMap { case (_, es) =>
        val ordered = es.sortBy(e => (e._3, e._1))
        ("_start" +: ordered.map(_._4).init).zip(ordered.map(_._4))
      }.groupBy(identity).map { case (k, vs) => k -> vs.length.toLong }
      assert(got == want, s"stream transitions drifted:\n got: $got\nwant: $want")
    } finally q.stop()
  }

  test("statefulSessionize closes sessions on gap and on watermark timeout") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)] // (user_id, ts_us, type)
    def us(s: String) = ts(s).getTime * 1000L
    val q = EventStreams.statefulSessionize(in.toDS(), gapMinutes = 30,
      watermark = "1 hour")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      in.addData(
        (7L, us("2024-01-01 10:00:00"), "view"),
        (7L, us("2024-01-01 10:10:00"), "click"),
        (7L, us("2024-01-01 11:30:00"), "buy")) // >30 min: closes s1
      q.processAllAvailable()
      val afterGap = spark.table("sessions").collect()
      assert(afterGap.length == 1)
      assert(afterGap.head.getAs[Long]("n_events") == 2)
      assert(afterGap.head.getAs[String]("path") == "view>click")

      // advance the watermark far past the open session's horizon
      in.addData((8L, us("2024-01-01 15:00:00"), "view"))
      q.processAllAvailable()
      in.addData((8L, us("2024-01-01 15:00:01"), "view")) // extra tick
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
        .map(r => (r.getLong(0), r.getAs[Long]("n_events"),
          r.getAs[String]("path"))).toSet
      assert(rows.contains((7L, 1L, "buy")), s"timed-out session missing: $rows")
    } finally q.stop()
  }

  test("entryPathIncrements aggregate to the batch e26 path counts on closed sessions") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)] // (user_id, ts_us, type)
    def us(s: String) = ts(s).getTime * 1000L
    val q = EventStreams.entryPathIncrements(in.toDS(), gapMinutes = 30,
      watermark = "1 hour", depth = 3)
      .writeStream.format("memory").queryName("entrypaths")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      // 3 users, sessions longer than depth (slice bites), identical
      // entry paths across users (counts > 1), a length-1 session, and
      // cross-batch out-of-order arrival within the watermark.
      val evts = Seq(
        (1L, us("2024-01-01 10:00:00"), "view"),
        (1L, us("2024-01-01 10:05:00"), "click"),
        (1L, us("2024-01-01 10:10:00"), "cart"),
        (1L, us("2024-01-01 10:15:00"), "purchase"), // >3: sliced off
        (2L, us("2024-01-01 10:01:00"), "view"),
        (2L, us("2024-01-01 10:06:00"), "click"),
        (2L, us("2024-01-01 10:07:00"), "cart"),
        (3L, us("2024-01-01 10:02:00"), "error"), // 1-event session
        (1L, us("2024-01-01 12:00:00"), "view"), // user 1, session 2
        (1L, us("2024-01-01 12:03:00"), "view"))
      val (a, b) = evts.splitAt(5)
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      // push the watermark past every session's horizon
      in.addData((9L, us("2024-01-02 00:00:00"), "view"))
      q.processAllAvailable()
      q.processAllAvailable() // timeout emissions need the next trigger
      val got = spark.table("entrypaths").groupBy(col("path")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // batch truth: sessionize the closed events in plain Scala (all
      // ts are distinct per user, so no tie-break ambiguity)
      val gapUs = 30L * 60 * 1000 * 1000
      val want = evts.groupBy(_._1).toSeq.flatMap { case (_, es) =>
        val sorted = es.map(e => (e._2, e._3)).sortBy(_._1)
        val sessions = sorted.foldLeft(List.empty[List[(Long, String)]]) {
          case (acc, e) => acc match {
            case cur :: rest if e._1 - cur.head._1 <= gapUs =>
              (e :: cur) :: rest
            case _ => List(e) :: acc
          }
        }
        sessions.map(_.reverse.map(_._2).take(3).mkString(">"))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == want, s"stream paths drifted:\n got: $got\nwant: $want")
      // exactly one increment per closed session
      assert(spark.table("entrypaths").count() == want.values.sum)
    } finally q.stop()
  }

  test("streamingFunnel: ordered stage machine, completion clears state") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    val us = 1000L * 1000 // seconds → micros
    val q = EventStreams.streamingFunnel(in.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      in.addData(
        (1L, 10 * us, "view"), (1L, 20 * us, "click"), (1L, 30 * us, "purchase"),
        (2L, 10 * us, "click"), // click before any view: no progress
        (2L, 20 * us, "view"), (2L, 30 * us, "purchase"), // no click after view
        (3L, 10 * us, "view"), (3L, 15 * us, "click"))
      q.processAllAvailable()
      val rows = spark.table("funnel").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == Seq((1L, 10 * us, 20 * us, 30 * us)))

      // User 3 completes across batches (state carried); the purchase
      // must be strictly after the stored click.
      in.addData((3L, 40 * us, "purchase"))
      q.processAllAvailable()
      val rows2 = spark.table("funnel").collect().map(_.getLong(0)).sorted
      assert(rows2.toSeq == Seq(1L, 3L))

      // User 1's state was cleared on completion: a lone purchase with
      // no fresh view/click starts nothing.
      in.addData((1L, 50 * us, "purchase"))
      q.processAllAvailable()
      assert(spark.table("funnel").count() == 2)
    } finally q.stop()
  }

  test("streamingFunnel evicts state past the timeout horizon; a later view starts fresh") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    val us = 1000L * 1000
    val hour = 3600L
    val q = EventStreams.streamingFunnel(in.toDS())
      .writeStream.format("memory").queryName("funnel_evict")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      in.addData((1L, 10 * us, "view")) // t1 = 10s
      q.processAllAvailable()
      // Watermark → 4h, which is past t1 + 120 min: user 1's incomplete
      // funnel is expired per the documented eviction contract — whether
      // Spark's timer batch or the next data batch's expiry check drops
      // it, the outcome is the same.
      in.addData((9L, 6 * hour * us, "view"))
      q.processAllAvailable()
      // This view therefore starts a FRESH funnel at t1 = 5h (it does
      // not resurrect the evicted 10s state).
      in.addData((1L, 5 * hour * us, "view"))
      q.processAllAvailable()
      assert(spark.table("funnel_evict").count() == 0)
      in.addData((1L, 11 * hour * us, "click"),
        (1L, (11 * hour + 60) * us, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("funnel_evict").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq ==
        Seq((1L, 5 * hour * us, 11 * hour * us, (11 * hour + 60) * us)))
    } finally q.stop()
  }

  test("streamingFunnel drops a late view already past its own horizon") {
    // An event so late that ts + timeout <= current watermark would arm a
    // timer BEHIND the watermark (setTimeoutTimestamp throws) or, stored,
    // resurrect already-expired state. The operator must instead discard
    // it — exercising the post-fold expiry branch in a DATA batch, which
    // the timer-batch ordering of the previous test never reaches.
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    val us = 1000L * 1000
    val hour = 3600L
    val q = EventStreams.streamingFunnel(in.toDS())
      .writeStream.format("memory").queryName("funnel_late")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      in.addData((9L, 6 * hour * us, "view")) // watermark → 4h
      q.processAllAvailable()
      // ts=10s, horizon 10s+120min ≈ 2h <= 4h watermark: already expired
      // at birth — must not be stored (un-guarded, setTimeoutTimestamp
      // would throw and kill the query right here).
      in.addData((1L, 10 * us, "view"))
      q.processAllAvailable()
      // No stored t1: a lone click finds no funnel to advance.
      in.addData((1L, 11 * hour * us, "click"))
      q.processAllAvailable()
      assert(spark.table("funnel_late").count() == 0)
      // A fresh in-horizon funnel for the same user completes normally,
      // proving the late view left no residue.
      in.addData((1L, 12 * hour * us, "view"),
        (1L, (12 * hour + 30) * us, "click"),
        (1L, (12 * hour + 60) * us, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("funnel_late").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq ==
        Seq((1L, 12 * hour * us, (12 * hour + 30) * us, (12 * hour + 60) * us)))
    } finally q.stop()
  }

  test("streamingFunnel runs on the RocksDB state store provider") {
    // At 100-TB scale the in-memory (HDFS-backed) state store caps state
    // at executor heap; RocksDB spills per-key state to local disk. Pin
    // that the stateful funnel is provider-agnostic: same answer, and the
    // progress metrics prove RocksDB actually served the state.
    val s2 = spark.newSession() // own SQLConf: no leak into parallel suites
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sq = s2.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    val us = 1000L * 1000
    val q = EventStreams.streamingFunnel(in.toDS())
      .writeStream.format("memory").queryName("funnel_rocksdb")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      in.addData((1L, 10 * us, "view"), (3L, 10 * us, "view"))
      q.processAllAvailable()
      in.addData((1L, 20 * us, "click"), (1L, 30 * us, "purchase"))
      q.processAllAvailable()
      val rows = s2.table("funnel_rocksdb").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == Seq((1L, 10 * us, 20 * us, 30 * us)))
      val custom = q.lastProgress.stateOperators.head.customMetrics
      assert(custom.keySet.asScala.exists(_.startsWith("rocksdb")),
        s"state not served by RocksDB: ${custom.keySet}")
    } finally q.stop()
  }

  test("streamingExactDedup drops within-horizon duplicates, bounded state") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val out = EventStreams.streamingExactDedup(
      in.toDF.toDF("ts", "doc_id", "text"), "text", "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      in.addData(
        (ts("2024-01-01 10:00:00"), 1L, "alpha doc"),
        (ts("2024-01-01 10:05:00"), 2L, "alpha doc"), // dup within horizon
        (ts("2024-01-01 10:10:00"), 3L, "beta doc"))
      q.processAllAvailable()
      val first = spark.table("dedup").collect()
        .map(r => (r.getLong(1), r.getString(2))).toSet
      assert(first == Set((1L, "alpha doc"), (3L, "beta doc")),
        s"got $first")
      // Event time advances far past the watermark: the "alpha doc"
      // fingerprint's state entry is evicted, so a NEW arrival of the
      // same text is kept again (the documented re-dedup contract).
      in.addData((ts("2024-01-01 13:00:00"), 4L, "advance watermark"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 13:05:00"), 5L, "alpha doc"))
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getLong(1)).toSet
      assert(ids == Set(1L, 3L, 4L, 5L), s"got $ids")
    } finally q.stop()
  }

  test("documentIngestSink streams chunks into the store") {
    implicit val sq = spark.sqlContext
    val store = new ParquetVectorStore(spark,
      Files.createTempDirectory("graft-store").toString)
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.documentIngestSink(
      in.toDF.toDF("doc_id", "text"), HashingEmbedder(64), store, "stream_idx")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      in.addData((1L, "short doc"), (2L, ("word " * 600).trim))
      q.processAllAvailable()
      val n1 = store.count("stream_idx")
      assert(n1 > 2, s"expected >2 chunks (doc 2 must split), got $n1")
      in.addData((3L, "another doc"))
      q.processAllAvailable()
      assert(store.count("stream_idx") == n1 + 1)
      val rows = store.read("stream_idx").collect()
      assert(rows.forall(_.getSeq[Float](3).length == 64))
    } finally q.stop()
  }

  test("mergeable sketches aggregate incrementally in streaming (KMV + top-k)") {
    // The sketches' set-function state is exactly what lets them live in
    // a streaming state store: each micro-batch partial-merges into the
    // stored buffer, and the final estimate must equal the batch
    // computation over everything seen — one more merge shape on top of
    // SketchesSpec's layout fuzz.
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.{col, udaf}
    val kmv = udaf(new graft.operators.Sketches.KmvDistinct(64),
      org.apache.spark.sql.Encoders.scalaLong)
    val topk = udaf(new graft.operators.Sketches.TopKByScore(3),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(java.lang.Double, java.lang.Long)]())
    val in = MemoryStream[(String, Long, Double)]
    val q = in.toDF.toDF("g", "h", "v")
      .groupBy(col("g"))
      .agg(kmv(col("h")).as("nd"), topk(col("v"), col("h")).as("top"))
      .writeStream.format("memory").queryName("sketches")
      .outputMode("complete")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      def batch(lo: Int, hi: Int) =
        (lo until hi).map(i => ("g1", ((i % 40) * 7919L) % 4294967296L, (i % 25).toDouble))
      in.addData(batch(0, 100): _*)
      q.processAllAvailable()
      in.addData(batch(100, 300): _*) // overlaps batch 1's values
      q.processAllAvailable()
      val row = spark.table("sketches").head()
      assert(row.getDouble(1) == 40.0, "below-k KMV must be exact across batches")
      val top = row.getSeq[org.apache.spark.sql.Row](2)
        .map(r => (r.getDouble(0), r.getLong(1)))
      // top-3 of the union: score 24.0 appears with several ids; the
      // distinct (score, id) order fixes the winners deterministically.
      val want = (0 until 300).map(i => ((i % 25).toDouble, ((i % 40) * 7919L) % 4294967296L))
        .distinct.sortBy(p => (-p._1, p._2)).take(3)
      assert(top == want, s"streaming top-k drifted: $top vs $want")
    } finally q.stop()
  }

  test("documentIngestSink near-dup gate: edited re-crawls drop, fresh content ingests") {
    implicit val sq = spark.sqlContext
    val store = new ParquetVectorStore(spark,
      Files.createTempDirectory("graft-store").toString)
    val in = MemoryStream[(Long, String)]
    val base = "spark table scan query join filter agg window sort merge"
    val q = EventStreams.documentIngestSink(
      in.toDF.toDF("doc_id", "text"), HashingEmbedder(64), store, "nd_idx",
      nearDupGate = true, nearDupThreshold = 0.5)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      in.addData((1L, base))
      q.processAllAvailable()
      assert(store.count("nd_idx") == 1)
      // batch 2: an EDITED re-crawl of doc 1 (different md5 — the exact
      // gate would admit it) plus genuinely fresh content
      in.addData((2L, base + " extra"),
        (3L, "entirely different words about streaming state stores"))
      q.processAllAvailable()
      val contents = store.read("nd_idx").collect().map(_.getString(0)).toSet
      assert(contents.size == 2, s"edited re-crawl must drop: $contents")
      assert(contents.contains(base))
      assert(contents.exists(_.contains("streaming state stores")))
    } finally q.stop()
  }

  test("ingest gates read the store once per rebuild window, gating across batches intact") {
    // The caching contract: BOTH gates' corpus sides derive from one
    // snapshot per rebuild window — a per-batch store read would be an
    // O(corpus) scan (and under the near-dup gate an O(corpus)
    // shingle+minhash pass) for a batch-sized probe.
    implicit val sq = spark.sqlContext
    val store = new ParquetVectorStore(spark,
      Files.createTempDirectory("graft-store").toString)
    val in = MemoryStream[(Long, String)]
    val base = "spark table scan query join filter agg window sort merge"
    // Pre-seed so the batch-1 snapshot exercises a REAL corpus read (an
    // absent index snapshots for free — exists() is not a read).
    store.append("cadence_idx",
      Seq((base, Map("doc_id" -> "0", "chunk" -> "0"),
        Map.empty[String, String], Array.fill(64)(0f)))
        .toDF("page_content", "metadata", "headers", "embedding"))
    val q = EventStreams.documentIngestSink(
      in.toDF.toDF("doc_id", "text"), HashingEmbedder(64), store, "cadence_idx",
      noveltyGate = true, noveltyRebuildEvery = 3,
      nearDupGate = true, nearDupThreshold = 0.5)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      val reads0 = store.readCount.get()
      // 6 batches over rebuildEvery=3: snapshots at batch 1 and batch 4.
      // Mixed novelty so every gate path runs in between.
      val batches = Seq(
        Seq(1L -> "entirely different words about state stores"),
        Seq(2L -> base), // exact dup of the SEEDED corpus (bloom path)
        Seq(3L -> (base + " extra")), // near dup (edited re-crawl)
        Seq(4L -> "fresh content about columnar shuffle readers"),
        Seq(5L -> "fresh content about adaptive query execution"),
        Seq(6L -> "entirely different words about state stores")) // recent dup
      batches.foreach { b =>
        in.addData(b: _*)
        q.processAllAvailable()
      }
      val sinkReads = store.readCount.get() - reads0
      assert(sinkReads == 2,
        s"6 batches at rebuildEvery=3 must read the store exactly twice " +
          s"(one snapshot per window), got $sinkReads")
      // Gating behavior unchanged by the caching: dups and near-dups
      // dropped (batches 2, 3, 6), everything novel admitted.
      val contents = store.read("cadence_idx").collect()
        .map(_.getString(0)).toSet
      assert(contents == Set(base,
        "entirely different words about state stores",
        "fresh content about columnar shuffle readers",
        "fresh content about adaptive query execution"), s"got $contents")
    } finally q.stop()
  }

  test("ingest gate driver state stays bounded by the rebuild window") {
    // recentFps and the near-dup deltas are the only per-batch driver
    // growth; both must reset at the snapshot so a stream running for
    // months holds O(window admissions), never O(corpus), on the driver.
    implicit val sq = spark.sqlContext
    val store = new ParquetVectorStore(spark,
      Files.createTempDirectory("graft-store").toString)
    val in = MemoryStream[(Long, String)]
    val state = new IngestGateState
    val q = EventStreams.documentIngestSink(
      in.toDF.toDF("doc_id", "text"), HashingEmbedder(64), store, "bound_idx",
      chunkSize = 2048, overlap = 256,
      noveltyGate = true, noveltyFpp = 0.01, noveltyRebuildEvery = 3,
      nearDupGate = true, nearDupThreshold = 0.9, state = state,
      noveltySeedPath = None)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      for (i <- 1 to 7) { // batches 1-3 window one, 4-6 window two, 7 third
        in.addData((i.toLong, s"unique document number $i about topic $i"))
        q.processAllAvailable()
        val inWindow = (i - 1) % 3 + 1 // batches since the last snapshot
        assert(state.recentFps.size == inWindow,
          s"batch $i: recentFps must hold exactly the window's admissions " +
            s"($inWindow), got ${state.recentFps.size}")
        assert(state.ndDeltaSig.length == inWindow &&
          state.ndDeltaSets.length == inWindow,
          s"batch $i: expected $inWindow delta frames, " +
            s"got ${state.ndDeltaSig.length}/${state.ndDeltaSets.length}")
        assert(state.sinceRebuild == inWindow)
      }
    } finally q.stop()
  }

  test("novelty gate seeded from a stored bloom row: reused when the corpus hasn't grown") {
    // The q27 stored-state pattern on the gate: each rebuild persists
    // the declarative Bloom row; a later run whose snapshot count
    // matches the stored one reuses it (append-only store: equal count
    // ⇒ identical fingerprint set) instead of re-folding the corpus —
    // the nightly-restart shape. Gating behavior must be identical to
    // the driver-sketch path throughout.
    implicit val sq = spark.sqlContext
    val store = new ParquetVectorStore(spark,
      Files.createTempDirectory("graft-store").toString)
    val seed = Files.createTempDirectory("graft-bloomseed").toString + "/row"
    def run(state: IngestGateState, data: Seq[(Long, String)]): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = EventStreams.documentIngestSink(
        in.toDF.toDF("doc_id", "text"), HashingEmbedder(64), store,
        "seed_idx", chunkSize = 2048, overlap = 256,
        noveltyGate = true, noveltyFpp = 0.01, noveltyRebuildEvery = 16,
        nearDupGate = false, nearDupThreshold = 0.9, state = state,
        noveltySeedPath = Some(seed))
        .option("checkpointLocation",
          Files.createTempDirectory("graft-ck").toString)
        .start()
      try { in.addData(data: _*); q.processAllAvailable() }
      finally q.stop()
    }
    // run 1: empty store — folds (trivially), writes the row, ingests
    val s1 = new IngestGateState
    run(s1, Seq((1L, "alpha doc"), (2L, "beta doc")))
    assert(!s1.seedReused, "an empty-store start has nothing to reuse")
    assert(store.count("seed_idx") == 2)
    // run 2: corpus grew since the stored row (nKeys 0 vs 2) — must
    // re-fold, and the fresh filter must gate the duplicates
    val s2 = new IngestGateState
    run(s2, Seq((3L, "alpha doc"), (4L, "beta doc")))
    assert(!s2.seedReused, "a grown corpus must invalidate the stored row")
    assert(store.count("seed_idx") == 2, "duplicate batch added rows")
    // run 3: nothing appended since run 2's rebuild wrote nKeys=2 —
    // the stored row is current and must be REUSED, and it still
    // gates duplicates while admitting novel content
    val s3 = new IngestGateState
    run(s3, Seq((5L, "alpha doc"), (6L, "gamma doc")))
    assert(s3.seedReused, "an unchanged corpus must reuse the stored row")
    val contents = store.read("seed_idx").collect().map(_.getString(0)).toSet
    assert(contents == Set("alpha doc", "beta doc", "gamma doc"),
      s"got $contents")
  }

  test("documentIngestSink novelty gate: duplicate batches add no rows, novel rows ingest") {
    implicit val sq = spark.sqlContext
    val store = new ParquetVectorStore(spark,
      Files.createTempDirectory("graft-store").toString)
    val in = MemoryStream[(Long, String)]
    // rebuildEvery=2 so the run exercises BOTH the incremental-put path
    // (duplicate arriving right after its original, filter stale) and
    // the rebuild-from-store path.
    val q = EventStreams.documentIngestSink(
      in.toDF.toDF("doc_id", "text"), HashingEmbedder(64), store, "novel_idx",
      noveltyGate = true, noveltyRebuildEvery = 2)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      // batch 1: two docs, one in-batch duplicate text (doc 3 == doc 1)
      in.addData((1L, "alpha doc"), (2L, "beta doc"), (3L, "alpha doc"))
      q.processAllAvailable()
      val n1 = store.count("novel_idx")
      assert(n1 == 2, s"in-batch duplicate must collapse: $n1")
      // batch 2: a full duplicate of batch 1 BEFORE any rebuild — the
      // incremental bloom update must already know these fingerprints.
      in.addData((4L, "alpha doc"), (5L, "beta doc"))
      q.processAllAvailable()
      assert(store.count("novel_idx") == n1, "duplicate batch added rows")
      // batch 3 (rebuild batch): novel + duplicate mixed.
      in.addData((6L, "gamma doc"), (7L, "alpha doc"))
      q.processAllAvailable()
      val rows = store.read("novel_idx").collect()
      assert(rows.length == 3, s"expected exactly 3 distinct chunks: ${rows.length}")
      val contents = rows.map(_.getString(0)).toSet
      assert(contents == Set("alpha doc", "beta doc", "gamma doc"))
      // the kept alpha/beta rows are the FIRST arrivals (smallest doc_id)
      val byContent = rows.map(r => r.getString(0) ->
        r.getMap[String, String](1)("doc_id")).toMap
      assert(byContent("alpha doc") == "1" && byContent("beta doc") == "2",
        s"keeper must be the first arrival: $byContent")
    } finally q.stop()
  }

  test("driftSink: ledger PSI equals the batch e28 arithmetic on closed days") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.{coalesce, element_at, floor, least, log, min => fmin, max => fmax, sum => fsum, typedLit}
    val dayUs = 24L * 3600 * 1000 * 1000
    // type 'a': 18 days, values 0..9 — day 16 shifts to 90..99 (the
    // drift); type 'b': steady. Baseline = days 0..14. The monitor
    // freezes BASELINE-window bounds (batch e28 uses corpus-global
    // bounds by design — the arithmetic under test is the shared
    // smoothing/quantization chain, fed the same bounds either way).
    val evts = (for (d <- 0L to 17L; i <- 0L until 20L) yield {
      val v = if (d == 16) 90.0 + (i % 10) else (i % 10).toDouble
      (d * 1000 + i, d * dayUs + i * 1000000L, "a", v)
    }) ++ (for (d <- 0L to 17L; i <- 0L until 10L) yield
      (100000L + d * 1000 + i, d * dayUs + i * 1000000L, "b",
        (i % 5).toDouble))
    val batchDf = evts.toDF("event_id", "ts_us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val bounds = batchDf.filter(col("ts_us") < lit(15L * dayUs))
      .groupBy(col("event_type"))
      .agg(fmin(col("value")).as("lo"), fmax(col("value")).as("hi"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    // Batch truth: dailyValueBuckets in batch mode + e28's grid/term
    // tail with the same frozen bounds and baseline.
    val cellsB = EventStreams.dailyValueBuckets(batchDf, bounds)
    val baseCells = cellsB
      .filter(col("day") < timestamp_micros(lit(15L * dayUs)))
      .groupBy(col("event_type"), col("bucket"))
      .agg(fsum(col("n")).as("cb"))
    val baseline = baseCells.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val nb = baseCells.groupBy(col("event_type"))
      .agg(fsum(col("cb")).as("nb"))
    val nd = cellsB.groupBy(col("event_type"), col("day"))
      .agg(fsum(col("n")).as("nd"))
    def shareOf(c: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      (c + lit(1)).cast("double") / (n + lit(8)).cast("double")
    val want = nd.select(col("event_type"), col("day"))
      .join(baseCells, "event_type")
      .join(cellsB.withColumnRenamed("n", "cd"),
        Seq("event_type", "day", "bucket"), "full_outer")
      .select(col("event_type"), col("day"),
        coalesce(col("cb"), lit(0L)).as("cb"),
        coalesce(col("cd"), lit(0L)).as("cd"))
      .join(nb, "event_type").join(nd, Seq("event_type", "day"))
      .select(col("event_type"), col("day"), col("nd"),
        floor((shareOf(col("cb"), col("nb")) - shareOf(col("cd"), col("nd")))
          * log(shareOf(col("cb"), col("nb")) / shareOf(col("cd"), col("nd")))
          * lit(1000000.0)).cast("long").as("term"))
      .groupBy(col("event_type"), col("day"), col("nd"))
      .agg(fsum(col("term")).as("psi_micro"))
      .collect()
      .map(r => EventStreams.DriftRow(r.getString(0),
        r.getTimestamp(1).getTime * 1000L / dayUs, r.getLong(2),
        r.getLong(3)))
      .sortBy(r => (r.event_type, r.day_idx)).toSeq

    val in = MemoryStream[(Long, Long, String, Double)]
    val ledger = new EventStreams.DriftLedger(baseline)
    val stream = in.toDS().toDF("event_id", "ts_us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = ledger.sink(
        EventStreams.dailyValueBuckets(stream, bounds, "1 day"))
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      // feed in event-time order: a batch split that straddles the
      // watermark would legitimately drop the older type's days as
      // late data — a harness artifact, not the contract under test
      val ordered = evts.sortBy(_._2)
      val (a, b) = ordered.splitAt(ordered.length / 2)
      in.addData(a: _*); q.processAllAvailable()
      in.addData(b: _*); q.processAllAvailable()
      // close every fixture day with far-future scoreable pushers (an
      // out-of-bounds type would be filtered before the watermark node
      // and never advance it); their own day-40 window stays open, so
      // the pushers themselves never reach the ledger. The second tick
      // triggers the batch that emits the last closed windows.
      in.addData((999999L, 40L * dayUs, "a", 1.0))
      q.processAllAvailable()
      in.addData((999998L, 40L * dayUs + 1L, "a", 1.0))
      q.processAllAvailable()
      val got = ledger.drifts()
      assert(got == want,
        s"ledger drifted from the batch chain:\n got: ${got.take(4)}\nwant: ${want.take(4)}")
      val aRows = got.filter(_.event_type == "a")
      val drifted = aRows.find(_.day_idx == 16L).get
      assert(drifted.psi_micro == aRows.map(_.psi_micro).max &&
        drifted.psi_micro > 10 * aRows.filter(_.day_idx < 15L)
          .map(_.psi_micro).max,
        s"the shifted day must dominate the calibration floor: $aRows")
      // idempotence: replaying an already-folded batchId is a no-op
      val before = ledger.state
      ledger.ingest(
        Seq(("a", new java.sql.Timestamp(0L), 0L, 999L))
          .toDF("event_type", "day", "bucket", "n"),
        ledger.lastBatchId)
      assert(ledger.state == before)
      // eviction: a day's PSI reads only its own cells + the frozen
      // baseline, so dropping old days is invisible to survivors
      val keptBefore = got.filter(_.day_idx >= 10L)
      ledger.evictBefore(10L)
      assert(ledger.drifts() == keptBefore,
        "eviction must not change surviving days' scores")
    } finally q.stop()
  }

  test("activesSink: ledger DAU/WAU/MAU equal the batch e29 chain on closed days") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.{countDistinct, expr => fexpr, udaf}
    val dayUs = 24L * 3600 * 1000 * 1000
    val K = 8 // below most days' DAU so the (k−1)·2³²/h(k) path bites
    // 12 days, overlapping user sets (users repeat across days, so WAU
    // is never a DAU sum), several events per (day, user) so the
    // streaming dedup stage has real work, scrambled within each feed.
    val evts = for {
      d <- 0L to 11L
      u <- 0 until (6 + (d % 5)).toInt
      rep <- 0 to (u % 2)
    } yield (d * 10000 + u * 10 + rep,
      d * dayUs + u * 60000000L + rep * 1000L, (d * 7 + u * 3) % 23)
    val batchDf = evts.toDF("event_id", "ts_us", "user_id")
    // Batch truth: e29's exact expression chain on the same rows.
    val st = udaf(new graft.operators.Sketches.KmvState(K),
      org.apache.spark.sql.Encoders.scalaLong)
    val mg = udaf(new graft.operators.Sketches.KmvMerge(K),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[java.lang.Long]]())
    val dauB = batchDf.withColumn("day_idx", fexpr(s"ts_us div $dayUs"))
      .groupBy(col("day_idx"))
      .agg(countDistinct(col("user_id")).as("dau"),
        st(graft.operators.Sketches.kmvInput(
          graft.text.TextFunctions.hash32(col("user_id").cast("string"))))
          .as("state"))
    def rollB(w: Int, name: String) =
      dauB.select(col("day_idx").as("a_day"))
        .join(dauB.select(col("day_idx").as("b_day"), col("state")),
          col("b_day") > col("a_day") - w && col("b_day") <= col("a_day"))
        .groupBy(col("a_day").as("day_idx")).agg(mg(col("state")).as(name))
    val want = dauB.select(col("day_idx"), col("dau"))
      .join(rollB(7, "wau_est"), "day_idx")
      .join(rollB(30, "mau_est"), "day_idx")
      .collect().map(r => EventStreams.ActiveRow(r.getLong(0),
        r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_.day_idx).toSeq
    assert(want.exists(_.dau > K),
      s"fixture must exercise the estimator path: $want")

    val in = MemoryStream[(Long, Long, Long)]
    val ledger = new EventStreams.ActivesLedger(K)
    val stream = in.toDS().toDF("event_id", "ts_us", "user_id")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = ledger.sink(
        EventStreams.dailyUserStates(stream, K, "1 day"))
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      // event-time-ordered ACROSS feeds (late data would drop at the
      // watermark — a harness artifact), scrambled WITHIN each feed:
      // micro-batch boundaries must be invisible to the ledger.
      val rnd = new scala.util.Random(7)
      val ordered = evts.sortBy(_._2)
      ordered.grouped(ordered.length / 3 + 1).foreach { g =>
        in.addData(rnd.shuffle(g): _*); q.processAllAvailable()
      }
      // far-future pushers close every fixture day; the second tick
      // flushes the CHAINED second stage (delayed watermark propagation)
      in.addData((999999L, 50L * dayUs, 9999L)); q.processAllAvailable()
      in.addData((999998L, 50L * dayUs + 1L, 9999L)); q.processAllAvailable()
      val got = ledger.actives()
      assert(got == want,
        s"ledger diverged from batch e29:\n got: ${got.take(4)}\nwant: ${want.take(4)}")
      // idempotence: replaying an already-folded batchId is a no-op
      val before = ledger.state
      ledger.ingest(
        Seq((new java.sql.Timestamp(0L), 999L,
          Seq(1L, 2L, 3L))).toDF("day", "dau", "state"),
        ledger.lastBatchId)
      assert(ledger.state == before)
      // eviction: surviving days whose trailing windows stay intact
      // keep their scores bit for bit (the caller-keeps-the-margin
      // contract); evicted days disappear.
      val kept = got.filter(_.day_idx >= 8L)
      ledger.evictBefore(2L)
      val after = ledger.actives()
      assert(after.map(_.day_idx) == (2L to 11L),
        s"days before the horizon must drop: ${after.map(_.day_idx)}")
      assert(after.filter(_.day_idx >= 8L).map(r => (r.day_idx, r.wau_est))
        == kept.map(r => (r.day_idx, r.wau_est)),
        "eviction must not change a surviving day whose 7-day window is intact")
    } finally q.stop()
  }

  test("cusumSink: ledger alarms equal the batch e32 fold on closed hours") {
    implicit val sq = spark.sqlContext
    val hourUs = 3600L * 1000 * 1000
    // type 'a': level 10/hour for 30 hours, then a +40% sustained
    // shift (never a single-hour spike a z-score would catch);
    // type 'b': flat. Reference mu frozen from the first 30 hours.
    val evts = (for (hr <- 0L until 60L; i <- 0L until
      (if (hr >= 30) 14L else 10L)) yield
      (hr * 100 + i, hr * hourUs + i * 1000000L, "a", 1.0)) ++
      (for (hr <- 0L until 60L; i <- 0L until 10L) yield
        (10000 + hr * 100 + i, hr * hourUs + i * 1000000L, "b", 1.0))
    val mu = Map("a" -> 10000000L, "b" -> 10000000L) // 10/hour in micro
    // driver replay of e32's exact transitions = the batch truth
    def replay(t: String): EventStreams.CusumRow = {
      val hours = evts.filter(_._3 == t).groupBy(_._2 / hourUs)
        .view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      val (m, k, h) = (mu(t), mu(t) / 10, mu(t) * 2)
      var s = 0L; var n = 0L; var first: Option[Long] = None; var mx = 0L
      hours.foreach { case (hr, x) =>
        val sNew = math.max(0L, s + x * 1000000L - m - k)
        if (sNew > mx) mx = sNew
        if (sNew > h) { n += 1; if (first.isEmpty) first = Some(hr); s = 0L }
        else s = sNew
      }
      EventStreams.CusumRow(t, hours.size.toLong, n, first, mx)
    }
    val want = Seq(replay("a"), replay("b"))
    assert(want.head.n_alarms > 0 && want(1).n_alarms == 0,
      s"fixture must shift 'a' and keep 'b' quiet: $want")

    val in = MemoryStream[(Long, Long, String, Double)]
    val ledger = new EventStreams.CusumLedger(mu)
    val stream = in.toDS().toDF("event_id", "ts_us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = ledger.sink(
        EventStreams.hourlyRollup(stream, "1 hour"))
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      val ordered = evts.sortBy(_._2)
      ordered.grouped(ordered.length / 3 + 1).foreach { g =>
        in.addData(g: _*); q.processAllAvailable()
      }
      in.addData((999999L, 100L * hourUs, "a", 1.0)); q.processAllAvailable()
      in.addData((999998L, 100L * hourUs + 1L, "a", 1.0)); q.processAllAvailable()
      val got = ledger.alarms()
      assert(got == want,
        s"cusum ledger diverged from the batch fold:\n got: $got\nwant: $want")
      // replayed batchId is a no-op
      val before = ledger.state
      ledger.ingest(Seq(("a", new java.sql.Timestamp(0L), 999L))
        .toDF("event_type", "hour", "n"), ledger.lastBatchId)
      assert(ledger.state == before)
      // eviction restarts accumulation at the horizon: placing it at
      // an alarm boundary leaves later alarm counts intact
      val firstAlarm = got.head.first_alarm_hour.get
      ledger.evictBefore(firstAlarm + 1)
      val after = ledger.alarms().find(_.event_type == "a").get
      assert(after.n_alarms == want.head.n_alarms - 1 &&
        after.first_alarm_hour.get > firstAlarm,
        s"post-horizon alarms must survive an alarm-boundary cut: $after")
    } finally q.stop()
  }

  test("leaderboardSink: ledger rankings equal the batch e19 top-k on closed hours") {
    implicit val sq = spark.sqlContext
    val hourUs = 3600L * 1000 * 1000
    // users 0-5 spend distinct amounts per hour, with ties on value
    // (users 3 and 4 — rank must break to the smaller id) and hourly
    // rotation so the podium changes.
    val evts = for {
      hr <- 0L until 6L
      u <- 0L until 6L
      rep <- 0L until (1L + (u + hr) % 3)
    } yield (hr * 100 + u * 10 + rep, hr * hourUs + u * 60000000L +
        rep * 1000000L, u, if (u == 3 || u == 4) 50.0 else (u + hr) % 5 * 25.0)
    def replay(): Seq[EventStreams.LeaderboardRow] = {
      val totals = evts.groupBy(e => (e._2 / hourUs, e._3))
        .view.mapValues(_.map(_._4).sum).toMap
      totals.groupBy(_._1._1).toSeq.sortBy(_._1).flatMap { case (h, m) =>
        m.toSeq.map { case ((_, u), v) => (u, v) }
          .sortBy { case (u, v) => (-v, u) }
          .take(3).zipWithIndex
          .map { case ((u, v), i) =>
            EventStreams.LeaderboardRow(h, i + 1L, u, v) }
      }
    }
    val want = replay()
    assert(want.exists(r => r.user_id == 3L) &&
      want.filter(_.rank == 1L).map(_.user_id).distinct.length > 1,
      s"fixture must exercise ties and podium rotation: $want")

    val in = MemoryStream[(Long, Long, Long, Double)]
    val ledger = new EventStreams.LeaderboardLedger(3)
    val stream = in.toDS().toDF("event_id", "ts_us", "user_id", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = ledger.sink(
        EventStreams.hourlyUserValue(stream, "1 hour"))
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      val ordered = evts.sortBy(_._2)
      ordered.grouped(ordered.length / 3 + 1).foreach { g =>
        in.addData(g: _*); q.processAllAvailable()
      }
      in.addData((999999L, 100L * hourUs, 0L, 1.0)); q.processAllAvailable()
      in.addData((999998L, 100L * hourUs + 1L, 0L, 1.0)); q.processAllAvailable()
      val got = ledger.top()
      assert(got == want,
        s"leaderboard ledger diverged from batch:\n got: $got\nwant: $want")
      // THE STATE BOUND: the fixture closes hours with 6 distinct
      // users (> k = 3), yet no heap may ever hold more than k entries
      // — driver state is k×horizon, never hourly-actives×horizon.
      assert(want.groupBy(_.hour_idx).values.exists(_.size == 3),
        "fixture must close hours with more users than k")
      assert(ledger.state.nonEmpty &&
        ledger.state.values.forall(_.length <= 3),
        s"per-hour state must stay ≤ k: ${ledger.state.view.mapValues(_.length).toMap}")
      // replayed batchId is a no-op (the bounded fold is not
      // re-entrant per row, so the gate carries the idempotence)
      val before = ledger.state
      ledger.ingest(Seq((new java.sql.Timestamp(0L), 0L, 999.0))
        .toDF("hour", "user_id", "total_value"), ledger.lastBatchId)
      assert(ledger.state == before)
      // hours are independent: eviction leaves surviving ranks intact
      ledger.evictBefore(2L)
      assert(ledger.top() == want.filter(_.hour_idx >= 2L),
        "post-eviction rankings must equal the surviving hours' batch rows")
    } finally q.stop()
  }

  test("holtSink: ledger forecasts equal the batch e36 recurrence on closed hours") {
    implicit val sq = spark.sqlContext
    val hourUs = 3600L * 1000 * 1000
    // type 'a' ramps 5 → 34 events/hour (a real trend the level-only
    // monitors miss); type 'b' stays flat at 8.
    val evts = (for (hr <- 0L until 30L; i <- 0L until (5L + hr)) yield
      (hr * 1000 + i, hr * hourUs + i * 1000000L, "a", 1.0)) ++
      (for (hr <- 0L until 30L; i <- 0L until 8L) yield
        (50000 + hr * 1000 + i, hr * hourUs + i * 1000000L, "b", 1.0))
    // driver replay of e36's exact recurrence = the batch truth
    def replay(t: String, minHr: Long = 0L): EventStreams.HoltRow = {
      val hours = evts.filter(e => e._3 == t && e._2 / hourUs >= minHr)
        .groupBy(_._2 / hourUs).view.mapValues(_.size.toLong)
        .toSeq.sortBy(_._1)
      var l = 0L; var b = 0L; var sae = 0L; var mx = 0L; var i = 0L
      hours.foreach { case (_, n) =>
        val y = n * 1000000L
        if (i == 0L) { l = y; b = 0L }
        else {
          val pred = l + b
          val ae = math.abs(y - pred)
          sae += ae; if (ae > mx) mx = ae
          val lNew = (y + 4L * pred) / 5L
          b = (lNew - l + 9L * b) / 10L
          l = lNew
        }
        i += 1
      }
      val nh = hours.size.toLong
      EventStreams.HoltRow(t, nh, l, b, l + b,
        if (nh > 1) sae / (nh - 1) else 0L, mx)
    }
    val want = Seq(replay("a"), replay("b"))
    assert(want.head.trend_micro > 500000L && want(1).trend_micro == 0L,
      s"fixture must give 'a' a real trend and 'b' none: $want")

    val in = MemoryStream[(Long, Long, String, Double)]
    val ledger = new EventStreams.HoltLedger
    val stream = in.toDS().toDF("event_id", "ts_us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = ledger.sink(
        EventStreams.hourlyRollup(stream, "1 hour"))
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      val ordered = evts.sortBy(_._2)
      ordered.grouped(ordered.length / 4 + 1).foreach { g =>
        in.addData(g: _*); q.processAllAvailable()
      }
      // watermark pushers so the final real hours close
      in.addData((999999L, 100L * hourUs, "a", 1.0)); q.processAllAvailable()
      in.addData((999998L, 100L * hourUs + 1L, "a", 1.0)); q.processAllAvailable()
      val got = ledger.forecast()
      assert(got == want,
        s"holt ledger diverged from the batch recurrence:\n got: $got\nwant: $want")
      // replayed batchId is a no-op
      val before = ledger.state
      ledger.ingest(Seq(("a", new java.sql.Timestamp(0L), 999L))
        .toDF("event_type", "hour", "n"), ledger.lastBatchId)
      assert(ledger.state == before)
      // eviction restarts the recurrence at the horizon: the surviving
      // suffix forecasts exactly as a fresh fold over that suffix
      ledger.evictBefore(10L)
      val after = ledger.forecast().find(_.event_type == "a").get
      assert(after == replay("a", minHr = 10L),
        s"post-eviction fold must equal the suffix recurrence: $after")
    } finally q.stop()
  }

  test("holtWintersSink: ledger equals the batch e39 recurrence; seasonality bites") {
    implicit val sq = spark.sqlContext
    val hourUs = 3600L * 1000 * 1000
    // 60 hours = 2.5 daily cycles: type 'a' carries a real hour-of-day
    // pattern (nights 6/hour, days 14/hour) plus a slow ramp, so the
    // seasonal vector materially changes the forecast; 'b' is flat.
    def aCount(hr: Long): Long = 4L + (if (hr % 24 < 8) 14L else 0L) + hr / 10
    val evts = (for (hr <- 0L until 60L; i <- 0L until aCount(hr)) yield
      (hr * 1000 + i, hr * hourUs + i * 1000000L, "a", 1.0)) ++
      (for (hr <- 0L until 60L; i <- 0L until 7L) yield
        (90000 + hr * 1000 + i, hr * hourUs + i * 1000000L, "b", 1.0))
    def replay(t: String, minHr: Long = 0L): EventStreams.HoltWintersRow = {
      val hours = evts.filter(e => e._3 == t && e._2 / hourUs >= minHr)
        .groupBy(_._2 / hourUs).view.mapValues(_.size.toLong)
        .toSeq.sortBy(_._1)
      val s = Array.fill(24)(0L)
      var l = 0L; var b = 0L; var sae = 0L; var lasth = 0L; var i = 0L
      hours.foreach { case (hr, n) =>
        val y = n * 1000000L
        val idx = (hr % 24).toInt
        if (i == 0L) { l = y; b = 0L }
        else {
          val so = s(idx)
          sae += math.abs(y - l - b - so)
          val lNew = (y - so + 4L * (l + b)) / 5L
          b = (lNew - l + 9L * b) / 10L
          s(idx) = (y - lNew + 9L * so) / 10L
          l = lNew
        }
        lasth = hr; i += 1
      }
      val nh = hours.size.toLong
      EventStreams.HoltWintersRow(t, nh, l, b,
        l + b + s(((lasth + 1) % 24).toInt),
        if (nh > 1) sae / (nh - 1) else 0L)
    }
    val want = Seq(replay("a"), replay("b"))
    // the seasonal component must actually move the forecast off l + b
    assert(math.abs(want.head.forecast_micro
        - want.head.level_micro - want.head.trend_micro) > 500000L,
      s"fixture's seasonality too weak to pin anything: $want")

    val in = MemoryStream[(Long, Long, String, Double)]
    val ledger = new EventStreams.HoltWintersLedger
    val stream = in.toDS().toDF("event_id", "ts_us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = ledger.sink(
        EventStreams.hourlyRollup(stream, "1 hour"))
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      val ordered = evts.sortBy(_._2)
      ordered.grouped(ordered.length / 5 + 1).foreach { g =>
        in.addData(g: _*); q.processAllAvailable()
      }
      in.addData((999999L, 200L * hourUs, "a", 1.0)); q.processAllAvailable()
      in.addData((999998L, 200L * hourUs + 1L, "a", 1.0)); q.processAllAvailable()
      val got = ledger.forecast()
      assert(got == want,
        s"HW ledger diverged from the batch recurrence:\n got: $got\nwant: $want")
      // replayed batchId is a no-op
      val before = ledger.state
      ledger.ingest(Seq(("a", new java.sql.Timestamp(0L), 999L))
        .toDF("event_type", "hour", "n"), ledger.lastBatchId)
      assert(ledger.state == before)
      // eviction re-initializes level, trend AND seasonals at the horizon
      ledger.evictBefore(24L)
      val after = ledger.forecast().find(_.event_type == "a").get
      assert(after == replay("a", minHr = 24L),
        s"post-eviction fold must equal the suffix recurrence: $after")
    } finally q.stop()
  }

  test("bitmapSink: ledger exact actives equal COUNT DISTINCT on closed days") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.{countDistinct, expr => fexpr}
    val dayUs = 24L * 3600 * 1000 * 1000
    val evts = for {
      d <- 0L to 11L
      u <- 0 until (6 + (d % 5)).toInt
      rep <- 0 to (u % 2)
    } yield (d * 10000 + u * 10 + rep,
      d * dayUs + u * 60000000L + rep * 1000L, (d * 7 + u * 3) % 90)
    val capacity = 128 // two words — exercises multi-word OR/popcount
    val batchDf = evts.toDF("event_id", "ts_us", "user_id")
      .withColumn("day_idx", fexpr(s"ts_us div $dayUs"))
    def winExact(w: Int, name: String) =
      batchDf.select(col("day_idx").as("a_day")).distinct()
        .join(batchDf.select(col("day_idx").as("b_day"), col("user_id")),
          col("b_day") > col("a_day") - w && col("b_day") <= col("a_day"))
        .groupBy(col("a_day").as("day_idx"))
        .agg(countDistinct(col("user_id")).as(name))
    val want = batchDf.groupBy(col("day_idx"))
      .agg(countDistinct(col("user_id")).as("dau"))
      .join(winExact(7, "wau"), "day_idx")
      .join(winExact(30, "mau"), "day_idx")
      .collect().map(r => EventStreams.ActiveExactRow(r.getLong(0),
        r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_.day_idx).toSeq

    val in = MemoryStream[(Long, Long, Long)]
    val ledger = new EventStreams.BitmapActivesLedger(capacity)
    val stream = in.toDS().toDF("event_id", "ts_us", "user_id")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = ledger.sink(
        EventStreams.dailyUserBitmaps(stream, capacity, "1 day"))
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      val rnd = new scala.util.Random(11)
      val ordered = evts.sortBy(_._2)
      ordered.grouped(ordered.length / 3 + 1).foreach { g =>
        in.addData(rnd.shuffle(g): _*); q.processAllAvailable()
      }
      in.addData((999999L, 50L * dayUs, 7L)); q.processAllAvailable()
      in.addData((999998L, 50L * dayUs + 1L, 7L)); q.processAllAvailable()
      val got = ledger.actives()
      assert(got == want,
        s"bitmap ledger diverged from COUNT DISTINCT:\n got: ${got.take(4)}\nwant: ${want.take(4)}")
      // replayed batchId is a no-op
      val before = ledger.state
      ledger.ingest(Seq((new java.sql.Timestamp(0L),
        Seq.fill(2)(java.lang.Long.valueOf(-1L)).toSeq))
        .toDF("day", "bm"), ledger.lastBatchId)
      assert(ledger.state == before)
      // a wrong-width state fails loudly, never silently ORs
      val e = intercept[IllegalArgumentException] {
        ledger.ingest(Seq((new java.sql.Timestamp(0L),
          Seq(java.lang.Long.valueOf(1L)))).toDF("day", "bm"),
          ledger.lastBatchId + 1)
      }
      assert(e.getMessage.contains("width"))
      // eviction keeps intact-window survivors bit-identical
      val kept = got.filter(_.day_idx >= 8L)
      ledger.evictBefore(2L)
      assert(ledger.actives().filter(_.day_idx >= 8L)
        .map(r => (r.day_idx, r.wau_exact))
        == kept.map(r => (r.day_idx, r.wau_exact)))
    } finally q.stop()
  }

  test("BitmapActivesLedger: a batch that throws part-way leaves state and lastBatchId unchanged") {
    // A valid day followed by a wrong-width day: the batch fails on
    // its second row, and neither its first row nor its batchId may
    // land, so a redelivery of the batch meets the ledger as it was.
    val dayMs = 24L * 3600 * 1000
    val ledger = new EventStreams.BitmapActivesLedger(128)
    ledger.ingest(Seq((new java.sql.Timestamp(0L), Seq(1L, 0L)))
      .toDF("day", "bm"), 0L)
    val before = ledger.state
    val mixed = Seq(
      (new java.sql.Timestamp(dayMs), Seq(3L, 0L)),
      (new java.sql.Timestamp(2 * dayMs), Seq(1L))).toDF("day", "bm")
    val e = intercept[IllegalArgumentException] { ledger.ingest(mixed, 1L) }
    assert(e.getMessage.contains("width"))
    assert(ledger.state == before && ledger.state.keySet == Set(0L),
      s"a failed batch left rows behind: ${ledger.state.keySet}")
    assert(ledger.lastBatchId == 0L)
  }

  test("welfordSink: ledger Welch row equals the batch e40 arithmetic on closed days") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.{floor => ffloor, sum => fsum, when => fwhen, expr => fexpr}
    val dayUs = 24L * 3600 * 1000 * 1000
    // Two arms with different spreads + a non-arm type that must be
    // filtered before any state; values exercise the floor quantizer.
    val evts = for (d <- 0L to 9L; i <- 0L until 30L; t <- Seq("a", "b", "x"))
      yield (d * 1000 + i, d * dayUs + i * 1000000L, t,
        (if (t == "a") 50.0 else 40.0) + ((d * 31 + i * 7) % 23) * 0.77)
    val batchDf = evts.toDF("event_id", "ts_us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    // Batch truth: the e40 expression chain, stated identically.
    def wantOver(df: org.apache.spark.sql.DataFrame) = {
      val isA = col("event_type") === "a"
      val m = df.filter(col("event_type") === "a" || col("event_type") === "b")
        .withColumn("m", ffloor(col("value") * 1000000).cast("long"))
      val r = m.agg(
        fsum(fwhen(isA, 1L)).as("na"),
        fsum(fwhen(isA, col("m")).cast("decimal(38,0)")).as("sa"),
        fsum(fwhen(isA, col("m") * col("m")).cast("decimal(38,0)")).as("qa"),
        fsum(fwhen(!isA, 1L)).as("nb"),
        fsum(fwhen(!isA, col("m")).cast("decimal(38,0)")).as("sb"),
        fsum(fwhen(!isA, col("m") * col("m")).cast("decimal(38,0)")).as("qb"))
        .withColumn("va", fexpr("(CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE)" +
          " * CAST(sa AS DOUBLE) / na) / (na - 1)"))
        .withColumn("vb", fexpr("(CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE)" +
          " * CAST(sb AS DOUBLE) / nb) / (nb - 1)"))
        .select(col("na").cast("long"), col("nb").cast("long"),
          fexpr("CAST(sa DIV na AS BIGINT)"), fexpr("CAST(sb DIV nb AS BIGINT)"),
          fexpr("(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)" +
            " / SQRT(va / na + vb / nb)"),
          fexpr("((va / na + vb / nb) * (va / na + vb / nb))" +
            " / ((va / na) * (va / na) / (na - 1)" +
            " + (vb / nb) * (vb / nb) / (nb - 1))"))
        .head()
      EventStreams.WelchRow(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))
    }
    val want = wantOver(batchDf)

    val in = MemoryStream[(Long, Long, String, Double)]
    val ledger = new EventStreams.WelfordLedger("a", "b")
    val stream = in.toDS().toDF("event_id", "ts_us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = ledger.sink(
        EventStreams.dailyValueMoments(stream, "a", "b", "1 day"))
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      val ordered = evts.sortBy(_._2)
      val (h1, h2) = ordered.splitAt(ordered.length / 2)
      in.addData(h1: _*); q.processAllAvailable()
      in.addData(h2: _*); q.processAllAvailable()
      // close every fixture day; the pushers' own day-40 stays open
      in.addData((999999L, 40L * dayUs, "a", 1.0))
      q.processAllAvailable()
      in.addData((999998L, 40L * dayUs + 1L, "a", 1.0))
      q.processAllAvailable()
      assert(ledger.welch().contains(want),
        s"ledger drifted from the batch chain: ${ledger.welch()} vs $want")
      // idempotence: replaying an already-folded batchId is a no-op
      val before = ledger.state
      ledger.ingest(
        Seq(("a", new java.sql.Timestamp(0L), 5L,
          new java.math.BigDecimal(999), new java.math.BigDecimal(999)))
          .toDF("event_type", "day", "n", "s", "q"),
        ledger.lastBatchId)
      assert(ledger.state == before)
      // eviction = the trailing-window test: survivors re-fold exactly
      ledger.evictBefore(5L)
      val wantTail = wantOver(batchDf.filter(col("ts_us") >= 5L * dayUs))
      assert(ledger.welch().contains(wantTail),
        s"post-eviction row must equal batch over surviving days")
      // degenerate arm: everything evicted -> no row, not a NaN row
      ledger.evictBefore(1000L)
      assert(ledger.welch().isEmpty)
    } finally q.stop()
  }

  test("overlapSink: ledger audience matrix equals the batch e41 arithmetic on closed days") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.{array_sort, array_union, element_at, greatest, size => fsize, slice, udaf, when => fwhen}
    val dayUs = 24L * 3600 * 1000 * 1000
    val K = 8 // below every audience (30/26/22 users) so the estimator bites
    // type 'a': users 0..29; 'b': 4..29; 'c': 8..29 — nested audiences
    // with distinct overlaps; sub-threshold rows must not count.
    val evts = for (d <- 0L to 9L; u <- 0L until 30L;
        (t, lo) <- Seq(("a", 0L), ("b", 4L), ("c", 8L)) if u >= lo)
      yield (d * 1000 + u, d * dayUs + u * 1000000L, t, u,
        if (u % 5 == 4) 10.0 else 200.0) // every 5th row fails the gate
    val batchDf = evts.toDF("event_id", "ts_us", "event_type", "user_id", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    def wantOver(df: org.apache.spark.sql.DataFrame) = {
      val st = udaf(new graft.operators.Sketches.KmvState(K),
        org.apache.spark.sql.Encoders.scalaLong)
      val states = df.filter(col("value") >= 150)
        .select(col("event_type"),
          graft.operators.Sketches.kmvInput(
            graft.text.TextFunctions.hash32(col("user_id").cast("string")))
            .as("h"))
        .groupBy(col("event_type")).agg(st(col("h")).as("st"))
      def est(arr: org.apache.spark.sql.Column) =
        fwhen(fsize(arr) < K, fsize(arr).cast("double"))
          .otherwise(lit((K - 1).toDouble * 4294967296.0) /
            element_at(arr, K))
      val a = states.select(col("event_type").as("type_a"), col("st").as("sa"))
      val b = states.select(col("event_type").as("type_b"), col("st").as("sb"))
      a.join(b, col("type_a") < col("type_b"))
        .withColumn("su", slice(array_sort(array_union(col("sa"), col("sb"))), 1, K))
        .select(col("type_a"), col("type_b"),
          est(col("sa")).as("ea"), est(col("sb")).as("eb"),
          est(col("su")).as("eu"))
        .withColumn("inter", greatest(lit(0.0), col("ea") + col("eb") - col("eu")))
        .collect()
        .map(r => EventStreams.OverlapRow(r.getString(0), r.getString(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          if (r.getDouble(4) > 0.0) r.getDouble(5) / r.getDouble(4) else 0.0))
        .sortBy(r => (r.type_a, r.type_b)).toSeq
    }
    val want = wantOver(batchDf)

    val in = MemoryStream[(Long, Long, String, Long, Double)]
    val ledger = new EventStreams.OverlapLedger(K)
    val stream = in.toDS()
      .toDF("event_id", "ts_us", "event_type", "user_id", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = ledger.sink(
        EventStreams.dailyTypeUserStates(stream, K, "1 day"))
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      val ordered = evts.sortBy(_._2)
      val (h1, h2) = ordered.splitAt(ordered.length / 2)
      in.addData(h1: _*); q.processAllAvailable()
      in.addData(h2: _*); q.processAllAvailable()
      in.addData((999999L, 40L * dayUs, "a", 1L, 200.0))
      q.processAllAvailable()
      in.addData((999998L, 40L * dayUs + 1L, "a", 1L, 200.0))
      q.processAllAvailable()
      assert(ledger.overlaps() == want,
        s"ledger drifted from the batch chain:\n got: ${ledger.overlaps()}\nwant: $want")
      // the nesting must be visible: a∩c audience ⊂ a∩b audience
      val cells = ledger.overlaps().map(r => (r.type_a, r.type_b) -> r).toMap
      assert(cells(("b", "c")).jaccard >= cells(("a", "c")).jaccard,
        s"nested audiences must order the jaccards: $cells")
      // idempotence: replaying an already-folded batchId is a no-op
      val before = ledger.state
      ledger.ingest(
        Seq(("a", new java.sql.Timestamp(0L), Seq(1L, 2L)))
          .toDF("event_type", "day", "state"),
        ledger.lastBatchId)
      assert(ledger.state == before)
      // eviction = the trailing-window matrix, exact for survivors
      ledger.evictBefore(5L)
      assert(ledger.overlaps() ==
        wantOver(batchDf.filter(col("ts_us") >= 5L * dayUs)),
        "post-eviction matrix must equal batch over surviving days")
    } finally q.stop()
  }

  test("textIndexSink: streamed index equals the one-shot build; replayed docs can't double-count") {
    implicit val sq = spark.sqlContext
    val docsAll = graft.Tables.documents(spark, TestSession.sf)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
      .take(120)
    val p = Files.createTempDirectory("graft-ti-stream").toString
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.textIndexSink(
        in.toDS().toDF("doc_id", "text"), "doc_id", "text", p,
        nBuckets = 16)
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      val Seq(b1, b2, b3) = docsAll.grouped(40).toSeq
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      // replay: a re-delivered overlap (all of b2 again + b3) must not
      // double-count any posting into df
      in.addData((b2 ++ b3): _*); q.processAllAvailable()
      val pRef = Files.createTempDirectory("graft-ti-ref").toString
      graft.store.TextIndex.build(
        graft.Tables.documents(spark, TestSession.sf)
          .filter(col("doc_id") < 120), "doc_id", "text", pRef,
        nBuckets = 16)
      val query = Seq("table", "scan", "query")
      def top(path: String) = graft.store.TextIndex
        .search(spark, path, query, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(top(p) == top(pRef),
        "the streamed index must equal the one-shot build bit for bit")
    } finally q.stop()
  }

  test("textIndexSink(withPositions): stream-built phrase index ≡ batch-built, replays can't double-append") {
    implicit val sq = spark.sqlContext
    val docsAll = graft.Tables.documents(spark, TestSession.sf)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
      .take(120)
    val p = Files.createTempDirectory("graft-ti-posstream").toString
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.textIndexSink(
        in.toDS().toDF("doc_id", "text"), "doc_id", "text", p,
        nBuckets = 16, withPositions = true)
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      val Seq(b1, b2, b3) = docsAll.grouped(40).toSeq
      in.addData(b1: _*); q.processAllAvailable()
      // re-delivered overlap: the dup docs must be skipped in BOTH
      // tiers — a positional double-append would give phraseSearch
      // duplicate map keys (throws under mapKeyDedupPolicy=EXCEPTION).
      in.addData(b2: _*); q.processAllAvailable()
      in.addData((b2 ++ b3): _*); q.processAllAvailable()
      val pRef = Files.createTempDirectory("graft-ti-posref").toString
      val ref = graft.Tables.documents(spark, TestSession.sf)
        .filter(col("doc_id") < 120)
      graft.store.TextIndex.build(ref, "doc_id", "text", pRef,
        nBuckets = 16)
      graft.store.TextIndex.buildPositions(ref, "doc_id", "text", pRef)
      assert(spark.read.parquet(s"$p/postings_pos")
        .groupBy(col("term"), col("doc_id")).count()
        .filter(col("count") > 1).count() == 0L,
        "a replayed batch must not double-append positional rows")
      def phr(path: String, ph: Seq[String]) = graft.store.TextIndex
        .phraseSearch(spark, path, ph)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      Seq(Seq("hash", "join"), Seq("table"), Seq("query", "plan"))
        .foreach { ph =>
          assert(phr(p, ph) == phr(pRef, ph),
            s"stream-built phrase index must equal the batch build: $ph")
        }
    } finally q.stop()
  }

  test("dupLabelsSink: on-disk labels ≡ batch dupComponents over the pair history; replays and crashes fold clean") {
    implicit val sq = spark.sqlContext
    val p = Files.createTempDirectory("graft-cc-stream").toString
    val in = MemoryStream[(Long, Long)]
    val q = EventStreams.dupLabelsSink(
        in.toDS().toDF("a_id", "b_id"), p)
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    val history = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def check(tag: String): Unit = {
      val got = graft.text.Dedup.labelStore(spark, p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val want = graft.text.Dedup.dupComponents(
          history.toSeq.toDF("a_id", "b_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got == want,
        s"$tag:\n got: $got\nwant: $want")
    }
    try {
      // batch 1: two separate chains + a singleton self-pair.
      val b1 = Seq((1L, 2L), (3L, 4L), (9L, 9L))
      history ++= b1; in.addData(b1: _*); q.processAllAvailable()
      check("after batch 1")
      // batch 2 MERGES the two chains through a bridge pair and adds a
      // new component — the quotient fold must relabel 3 and 4 down to
      // component 1 without ever seeing batch 1's edges again.
      val b2 = Seq((2L, 3L), (7L, 8L))
      history ++= b2; in.addData(b2: _*); q.processAllAvailable()
      check("after the merging batch")
      // batch 3: edges entirely inside known components (absorbed).
      val b3 = Seq((1L, 4L), (7L, 7L))
      history ++= b3; in.addData(b3: _*); q.processAllAvailable()
      check("after an absorbed batch")
    } finally q.stop()
    // replay idempotence without the marker: re-folding an absorbed
    // delta is a quotient no-op, so even a crash AFTER the label swap
    // but BEFORE the marker replays exact.
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/batch_markers/l2"), false)
    graft.text.Dedup.labelStoreBatch(
      Seq((1L, 4L), (7L, 7L)).toDF("a_id", "b_id"), p, batchId = 2L)
    check("after an unmarked replay")
    // marker present: wholesale skip.
    graft.text.Dedup.labelStoreBatch(
      Seq((100L, 200L)).toDF("a_id", "b_id"), p, batchId = 2L)
    check("a marked batch id must be skipped wholesale")
    // crashed swap: labels moved aside, next entry (and readers) heal.
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$p/labels"),
      new org.apache.hadoop.fs.Path(s"$p/labels_old")))
    check("labelStore must heal a half-done swap")
    // empty FIRST batch must not create a store.
    val p2 = Files.createTempDirectory("graft-cc-empty").toString
    graft.text.Dedup.labelStoreBatch(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"), p2, batchId = 0L)
    val fs2 = new org.apache.hadoop.fs.Path(p2)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs2.exists(new org.apache.hadoop.fs.Path(s"$p2/labels")),
      "an empty first batch must not create an empty label store")
    assert(fs2.exists(new org.apache.hadoop.fs.Path(s"$p2/batch_markers/l0")),
      "…but the batch must still be marked processed")
  }

  test("textIndexDeleteSink: stream-deleted docs score like batch deletes; compact reclaims") {
    implicit val sq = spark.sqlContext
    val docs = graft.Tables.documents(spark, TestSession.sf)
      .filter(col("doc_id") < 120)
    val p = Files.createTempDirectory("graft-ti-delstream").toString
    graft.store.TextIndex.build(docs, "doc_id", "text", p, nBuckets = 16)
    val query = Seq("table", "scan", "query")
    def top(path: String) = graft.store.TextIndex
      .search(spark, path, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val dead = top(p).take(3).map(_._1)
    val in = MemoryStream[Long]
    val q = EventStreams.textIndexDeleteSink(
        in.toDS().toDF("doc_id"), "doc_id", p)
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      in.addData(dead(0), dead(1)); q.processAllAvailable()
      // second batch re-deletes dead(0): the cross-batch double must
      // not double-subtract the stats correction.
      in.addData(dead(0), dead(2)); q.processAllAvailable()
      val pRef = Files.createTempDirectory("graft-ti-delref").toString
      graft.store.TextIndex.build(docs, "doc_id", "text", pRef,
        nBuckets = 16)
      graft.store.TextIndex.delete(spark, pRef, dead)
      assert(top(p) == top(pRef),
        "stream-deleted docs must score exactly like a batch delete")
      graft.store.TextIndex.compact(spark, p)
      assert(spark.read.parquet(s"$p/postings")
        .filter(col("doc_id").isin(dead: _*)).count() == 0L,
        "compact must reclaim stream-written tombstones")
      assert(top(p) == top(pRef),
        "post-compact scores must be unchanged")
    } finally q.stop()
  }

  test("statefulQuotaGate: budgets enforce across batches in (ts, id) order") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)] // (key, doc_id, ts_us)
    val q = EventStreams.statefulQuotaGate(in.toDS(), budget = 2)
      .writeStream.format("memory").queryName("quota")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      // batch 1: srcA sends 3 (out of ts order — the in-batch sort
      // must admit by event time, not arrival), srcB sends 1
      in.addData(("srcA", 11L, 3000L), ("srcA", 10L, 1000L),
        ("srcA", 12L, 2000L), ("srcB", 20L, 1000L))
      q.processAllAvailable()
      // batch 2: srcA's budget is SPENT; srcB admits one more
      in.addData(("srcA", 13L, 4000L), ("srcB", 21L, 2000L),
        ("srcB", 22L, 3000L))
      q.processAllAvailable()
      val out = spark.table("quota").collect()
        .map(r => r.getLong(1) -> (r.getLong(3), r.getBoolean(4))).toMap
      // srcA in-batch order by ts: 10 (seq 1), 12 (seq 2), 11 (seq 3)
      assert(out(10L) == (1L, true) && out(12L) == (2L, true))
      assert(out(11L) == (3L, false), "the third arrival must be over budget")
      assert(out(13L) == (4L, false), "the counter must persist across batches")
      assert(out(20L) == (1L, true) && out(21L) == (2L, true))
      assert(out(22L) == (3L, false))
    } finally q.stop()
  }

  test("statefulQuotaGate state survives a query restart from its checkpoint") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)]
    val ck = Files.createTempDirectory("graft-ck").toString
    val outDir = Files.createTempDirectory("graft-quota-out").toString
    // parquet sink: the fault-tolerant sink restart recovery needs
    // (the memory sink drops its table on restart)
    def start() = EventStreams.statefulQuotaGate(in.toDS(), budget = 2)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ck).outputMode("append").start()
    val q1 = start()
    try {
      in.addData(("src", 1L, 1000L), ("src", 2L, 2000L))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      in.addData(("src", 3L, 3000L))
      q2.processAllAvailable()
      val rows = spark.read.parquet(outDir).collect()
        .map(r => r.getLong(1) -> (r.getLong(3), r.getBoolean(4))).toMap
      assert(rows.size == 3, s"exactly-once across the restart: $rows")
      assert(rows(1L) == (1L, true) && rows(2L) == (2L, true))
      // seq 3 proves the per-key counter was RESTORED from the
      // checkpointed state store, not restarted at zero
      assert(rows(3L) == (3L, false),
        s"the restored counter must carry the spent budget: $rows")
    } finally q2.stop()
  }

  test("statefulLshNoveltyGate: bucket claims survive a query restart") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    val ck = Files.createTempDirectory("graft-ck").toString
    val outDir = Files.createTempDirectory("graft-lsh-out").toString
    val textA = "spark table scan query join filter agg window sort merge"
    val textB = "completely different content about streams and state stores"
    def start() = EventStreams.statefulLshNoveltyGate(in.toDS(),
        shingleN = 3, nBands = 4, watermark = "1 hour")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ck).outputMode("append").start()
    val q1 = start()
    try {
      in.addData((1L, 1000000L, textA))
      q1.processAllAvailable(); q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      // doc 2 duplicates doc 1 ACROSS the restart: its buckets must
      // already be claimed by the recovered state; doc 3 is novel
      in.addData((2L, 2000000L, textA), (3L, 3000000L, textB))
      q2.processAllAvailable(); q2.processAllAvailable()
      val rows = spark.read.parquet(outDir).collect()
        .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
      assert(rows == Map(1L -> true, 2L -> false, 3L -> true),
        s"recovered bucket claims must reject the post-restart dup: $rows")
    } finally q2.stop()
  }

  test("statefulLshNoveltyGate: stream verdicts equal the greedy claim-on-sight reference") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.{posexplode, size => fsize, split}
    // 12 docs in three dup clusters + singletons, fed across 3 batches
    // in (ts, id) order; doc 11 is too short to shingle (no identity).
    val texts = Map(
      1L -> "spark table scan query join filter agg window sort merge",
      2L -> "spark table scan query join filter agg window sort merge", // = 1
      3L -> "completely different content about streams and state stores",
      4L -> "spark table scan query join filter agg window sort merged late", // ~ 1
      5L -> "another unrelated corpus document with fresh novel words",
      6L -> "completely different content about streams and state stores", // = 3
      7L -> "spark table scan query join filter agg window sort merge", // = 1, later batch
      8L -> "yet more text that shares nothing with any other entry",
      9L -> "another unrelated corpus document with fresh novel phrasing", // ~ 5
      10L -> "final singleton document closing out the fixture set",
      11L -> "too short",
      12L -> "another unrelated corpus document with fresh novel words") // = 5
    def row(id: Long) = (id, 1700000000000000L + id * 1000000L, texts(id))

    // Reference: same signatures via the batch expression, folded
    // greedily in (ts, id) order with claim-on-sight semantics.
    val sigRows = texts.keys.toSeq.sorted.map(row).toDF("doc_id", "ts_us", "text")
      .withColumn("sig", graft.functions.text.minhashSlices(
        graft.text.TextFunctions.shingles(split(col("text"), " "), 3), 4))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("band", "mh")))
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2))))
    val buckets = sigRows.groupBy(_._1).map { case (id, rs) =>
      id -> rs.map(_._2).toSet }
    val expected = scala.collection.mutable.Map.empty[Long, (Int, Boolean)]
    val claimed = scala.collection.mutable.Set.empty[(Int, Long)]
    for (id <- texts.keys.toSeq.sorted if buckets.contains(id)) {
      val bs = buckets(id)
      val fresh = bs.count(!claimed.contains(_))
      claimed ++= bs
      expected(id) = (fresh, fresh == bs.size && bs.size == 4)
    }

    val in = MemoryStream[(Long, Long, String)]
    val q = EventStreams.statefulLshNoveltyGate(in.toDS(), shingleN = 3,
      nBands = 4, watermark = "1 hour")
      .writeStream.format("memory").queryName("lshgate")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ck").toString)
      .start()
    try {
      in.addData(Seq(1L, 2L, 3L, 4L).map(row): _*)
      q.processAllAvailable()
      q.processAllAvailable() // chained stateful stage: next trigger
      in.addData(Seq(5L, 6L, 7L, 8L).map(row): _*)
      q.processAllAvailable()
      q.processAllAvailable()
      in.addData(Seq(9L, 10L, 11L, 12L).map(row): _*)
      q.processAllAvailable()
      q.processAllAvailable()
      val out = spark.table("lshgate").collect()
        .map(r => r.getLong(0) -> (r.getInt(3), r.getBoolean(4))).toMap
      assert(!out.contains(11L), "a doc with no shingle has no LSH identity")
      assert(out == expected.toMap,
        s"stream verdicts diverge from the greedy reference:\n$out\nvs\n$expected")
      // The fixture exercises both outcomes and the cross-batch claim.
      assert(out(1L)._2 && !out(2L)._2 && !out(7L)._2 && !out(12L)._2)
      assert(out(3L)._2 && out(5L)._2)
    } finally q.stop()
  }
}
