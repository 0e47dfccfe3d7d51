package graft.streaming

import graft.SparkSpec
import graft.TempDirs.withTempDir
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

class EventStreamsSpec extends SparkSpec {

  import EventStreams._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, user: Long = 1L,
      typ: String = "click", v: Double = 1.0): Event =
    Event(id, ts(t), user, typ, v)

  test("windowed counts aggregate into sliding windows and honor the watermark") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = windowedCounts(in.toDF(), window = "1 hour", slide = "30 minutes",
        watermark = "1 hour")
      .writeStream.format("memory").queryName("win").outputMode("append").start()
    in.addData(
      ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:20:00"),
      ev(3, "2024-01-01 10:40:00", typ = "view"))
    q.processAllAvailable()
    // advance watermark far enough to close the 10:00 windows
    in.addData(ev(99, "2024-01-01 13:00:00"))
    q.processAllAvailable()
    val rows = spark.table("win").collect()
    q.stop()
    assert(rows.nonEmpty)
    val clicks = rows.filter(_.getAs[String]("event_type") == "click")
      .map(r => r.getAs[Timestamp]("window_start").toString -> r.getAs[Long]("n")).toMap
    assert(clicks("2024-01-01 10:00:00.0") === 2L) // events 1,2 in [10:00,11:00)
    assert(clicks("2024-01-01 09:30:00.0") === 2L) // sliding window also catches both
  }

  test("stream-static broadcast enrichment joins dimension rows per batch") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[Event]
    val q = enriched(in.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    in.addData(ev(1, "2024-01-01 10:00:00", user = 1L),
      ev(2, "2024-01-01 10:01:00", user = 3L))
    q.processAllAvailable()
    val rows = spark.table("enriched").collect()
    q.stop()
    val tiers = rows.map(r => r.getAs[Long]("user_id") -> r.getAs[String]("tier")).toMap
    assert(tiers(1L) === "gold")
    assert(tiers(3L) === null) // left join keeps unmatched stream rows
  }

  test("stream-stream interval join pairs events within the window, drops the rest") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val q = streamStreamJoin(clicks.toDF(), buys.toDF(), withinMinutes = 30)
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    clicks.addData(
      ev(1, "2024-01-01 10:00:00", user = 1L),
      ev(2, "2024-01-01 10:00:00", user = 2L))
    buys.addData(
      ev(100, "2024-01-01 10:10:00", user = 1L, typ = "buy"), // within 30 min → match
      ev(101, "2024-01-01 11:30:00", user = 2L, typ = "buy"), // 90 min later → no match
      ev(102, "2024-01-01 09:50:00", user = 1L, typ = "buy")) // before the click → no match
    q.processAllAvailable()
    val pairs = spark.table("ssj").collect()
      .map(r => (r.getAs[Long]("l_id"), r.getAs[Long]("r_id")))
    q.stop()
    assert(pairs.toSeq === Seq((1L, 100L)))
  }

  test("left-outer stream-stream join null-emits only on state eviction") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val q = streamStreamJoin(clicks.toDF(), buys.toDF(), withinMinutes = 30,
        joinType = "left_outer")
      .writeStream.format("memory").queryName("ssj_left")
      .outputMode("append").start()
    clicks.addData(
      ev(1, "2024-01-01 10:00:00", user = 1L),
      ev(2, "2024-01-01 10:00:00", user = 2L),
      ev(3, "2024-01-01 10:30:00", user = 3L))
    buys.addData(ev(100, "2024-01-01 10:10:00", user = 1L, typ = "buy"))
    q.processAllAvailable()
    def rows() = spark.table("ssj_left").collect()
      .map(r => (r.getAs[Long]("l_id"),
        Option(r.getAs[java.lang.Long]("r_id")).map(_.toLong))).toSet
    // only the match emits so far: the unmatched clicks might still match
    assert(rows() === Set((1L, Some(100L))))
    // advance the GLOBAL watermark to exactly 11:00 — BOTH sides must
    // move (multipleWatermarkPolicy = min over the two watermark
    // operators), so feed a matching 12:00 pair on user 9. Click 2's
    // match horizon (10:30) is strictly passed → null-emit on eviction;
    // click 3's horizon is 11:00 == wm exactly → NOT emitted (eviction
    // needs wm strictly past the horizon) — this is the boundary the
    // q_stream_left_join oracle encodes
    clicks.addData(ev(4, "2024-01-01 12:00:00", user = 9L))
    buys.addData(ev(101, "2024-01-01 12:00:00", user = 9L, typ = "buy"))
    q.processAllAvailable()
    assert(rows() === Set((1L, Some(100L)), (4L, Some(101L)), (2L, None)))
    // push the watermark past the boundary: click 3 evicts and null-emits
    clicks.addData(ev(5, "2024-01-01 13:00:00", user = 9L))
    buys.addData(ev(102, "2024-01-01 13:00:00", user = 9L, typ = "buy"))
    q.processAllAvailable()
    val fin = rows()
    val n = spark.table("ssj_left").count()
    q.stop()
    assert(fin === Set((1L, Some(100L)), (4L, Some(101L)), (5L, Some(102L)),
      (2L, None), (3L, None)))
    // unmatched RIGHT rows never emit in a LEFT join; matched clicks
    // never ALSO null-emit on eviction — exactly 5 rows
    assert(n === 5L)
  }

  test("streaming dedup drops repeated event_ids") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = dedupStream(in.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    in.addData(ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:00:00"),
      ev(2, "2024-01-01 10:01:00"))
    q.processAllAvailable()
    in.addData(ev(1, "2024-01-01 10:02:00"), ev(3, "2024-01-01 10:03:00"))
    q.processAllAvailable()
    val n = spark.table("dedup").count()
    q.stop()
    assert(n === 3L) // ids 1,2,3 exactly once
  }

  test("windowed aggregation writes durably to a parquet file sink with checkpointing") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    withTempDir("stream") { dir =>
      val in = MemoryStream[Event]
      val q = windowedCounts(in.toDF(), window = "1 hour", slide = "1 hour",
          watermark = "30 minutes")
        .writeStream.format("parquet")
        .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append").start()
      in.addData(ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:20:00"))
      q.processAllAvailable()
      in.addData(ev(3, "2024-01-01 13:00:00")) // advance watermark, close window
      q.processAllAvailable()
      q.stop()
      val out = spark.read.parquet(s"$dir/out")
      val rows = out.collect()
      assert(rows.exists(r => r.getAs[Long]("n") == 2L &&
        r.getAs[String]("event_type") == "click"))
      // checkpoint directory materialized (exactly-once bookkeeping)
      assert(new java.io.File(s"$dir/ckpt").exists())
    }
  }

  test("sessionization closes sessions after the gap and aggregates per session") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = sessionize(in.toDS(), gapMinutes = 30, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    // user 1: two events 5 min apart (one session), then silence
    in.addData(
      ev(1, "2024-01-01 10:00:00", v = 2.0), ev(2, "2024-01-01 10:05:00", v = 3.0),
      ev(3, "2024-01-01 10:00:00", user = 2L, v = 7.0))
    q.processAllAvailable()
    // much later event advances the watermark past both sessions' gap
    in.addData(ev(9, "2024-01-01 12:00:00", user = 3L))
    q.processAllAvailable()
    in.addData(ev(10, "2024-01-01 14:00:00", user = 3L))
    q.processAllAvailable()
    val rows = spark.table("sessions").collect()
    q.stop()
    val byUser = rows.map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(byUser.contains(1L) && byUser.contains(2L))
    assert(byUser(1L).getAs[Long]("n_events") === 2L)
    assert(byUser(1L).getAs[Double]("total_value") === 5.0)
    assert(byUser(1L).getAs[Timestamp]("session_end") === ts("2024-01-01 10:05:00"))
    assert(byUser(2L).getAs[Long]("n_events") === 1L)
  }

  test("a late event far BEFORE the open session becomes its own session, not a merge") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = sessionize(in.toDS(), gapMinutes = 30, watermark = "3 hours")
      .writeStream.format("memory").queryName("late_sessions").outputMode("append").start()
    in.addData(ev(1, "2024-01-01 12:00:00", v = 1.0))
    q.processAllAvailable()
    // 11:05 is inside the 3h watermark but 55 min before the open session's
    // start — merging it would create a session with a 55-min internal gap
    in.addData(ev(2, "2024-01-01 11:05:00", v = 2.0))
    q.processAllAvailable()
    // advance the watermark far enough to close the 12:00 session
    in.addData(ev(9, "2024-01-01 18:00:00", user = 9L))
    q.processAllAvailable()
    in.addData(ev(10, "2024-01-01 23:00:00", user = 9L))
    q.processAllAvailable()
    val rows = spark.table("late_sessions").collect()
      .filter(_.getAs[Long]("user_id") == 1L)
      .map(r => (r.getAs[Timestamp]("session_start"),
        r.getAs[Timestamp]("session_end"), r.getAs[Long]("n_events")))
      .sortBy(_._1.getTime)
    q.stop()
    assert(rows.toSeq === Seq(
      (ts("2024-01-01 11:05:00"), ts("2024-01-01 11:05:00"), 1L),
      (ts("2024-01-01 12:00:00"), ts("2024-01-01 12:00:00"), 1L)))
  }

  test("sessionize sweep handles a dense single batch (the first-batch open-list regime)") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = sessionize(in.toDS(), gapMinutes = 30, watermark = "1 hour")
      .writeStream.format("memory").queryName("dense_sessions").outputMode("append").start()
    // 2,000 events for ONE user in ONE batch, alternating 1-min steps and
    // 2-hour jumps: 1,000 two-event sessions, none closable until the
    // closing anchor arrives. Watermark 0 during the batch ⇒ the whole
    // history stays in the open list — the regime that was quadratic
    val base = ts("2024-01-01 00:00:00").getTime
    val evs = (0 until 2000).map { i =>
      val t = base + (i / 2).toLong * 2 * 3600 * 1000 + (i % 2).toLong * 60 * 1000
      Event(i.toLong, new Timestamp(t), 1L, "click", 1.0)
    }
    in.addData(evs: _*)
    q.processAllAvailable()
    in.addData(Event(99999L, new Timestamp(base + 3000L * 3600 * 1000), 2L, "click", 0.0))
    q.processAllAvailable()
    in.addData(Event(99998L, new Timestamp(base + 4000L * 3600 * 1000), 2L, "click", 0.0))
    q.processAllAvailable()
    val rows = spark.table("dense_sessions").collect()
      .filter(_.getAs[Long]("user_id") == 1L)
    q.stop()
    assert(rows.length === 1000)
    assert(rows.forall(_.getAs[Long]("n_events") == 2L))
  }

  test("late events merge with each other, and a late event bridges two sessions") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = sessionize(in.toDS(), gapMinutes = 30, watermark = "6 hours")
      .writeStream.format("memory").queryName("merge_sessions").outputMode("append").start()
    // user 1: two open sessions 50 min apart; user 2: a 12:00 anchor
    in.addData(
      ev(1, "2024-01-01 10:00:00", v = 1.0), ev(2, "2024-01-01 10:50:00", v = 1.0),
      ev(3, "2024-01-01 12:00:00", user = 2L))
    q.processAllAvailable()
    // user 1: 10:25 bridges the two sessions into one; user 2: two late
    // events 10 min apart must merge with EACH OTHER, not become singletons
    in.addData(
      ev(4, "2024-01-01 10:25:00", v = 1.0),
      ev(5, "2024-01-01 11:00:00", user = 2L), ev(6, "2024-01-01 11:10:00", user = 2L))
    q.processAllAvailable()
    // push the watermark far past everything to close all sessions
    in.addData(ev(9, "2024-01-02 12:00:00", user = 9L))
    q.processAllAvailable()
    in.addData(ev(10, "2024-01-02 23:00:00", user = 9L))
    q.processAllAvailable()
    val rows = spark.table("merge_sessions").collect()
      .filter(r => r.getAs[Long]("user_id") <= 2L)
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start"),
        r.getAs[Timestamp]("session_end"), r.getAs[Long]("n_events")))
      .sortBy(t => (t._1, t._2.getTime))
    q.stop()
    assert(rows.toSeq === Seq(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:50:00"), 3L),
      (2L, ts("2024-01-01 11:00:00"), ts("2024-01-01 11:10:00"), 2L),
      (2L, ts("2024-01-01 12:00:00"), ts("2024-01-01 12:00:00"), 1L)))
  }

  test("thresholdAlerts fires exactly once per user across micro-batches") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.thresholdAlerts(in.toDS(), minEvents = 3L)
      .toDF().writeStream.format("memory").queryName("alerts")
      .outputMode("append").start()
    // batch 1: user 1 reaches 2 (below), user 2 reaches 3 (alert)
    in.addData(
      ev(1, "2024-01-01 10:00:00", user = 1), ev(2, "2024-01-01 10:01:00", user = 1),
      ev(3, "2024-01-01 10:00:00", user = 2), ev(4, "2024-01-01 10:01:00", user = 2),
      ev(5, "2024-01-01 10:02:00", user = 2))
    q.processAllAvailable()
    // batch 2: user 1 crosses (alert); user 2 keeps going (NO second alert)
    in.addData(
      ev(6, "2024-01-01 10:03:00", user = 1),
      ev(7, "2024-01-01 10:03:00", user = 2), ev(8, "2024-01-01 10:04:00", user = 2))
    q.processAllAvailable()
    val rows = spark.table("alerts").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("threshold")))
    q.stop()
    assert(rows.sorted.toSeq === Seq((1L, 3L), (2L, 3L)))
  }

  test("upsertLatest keeps the per-user winner across out-of-order micro-batches") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    withTempDir("upsert") { dir =>
      val in = MemoryStream[Event]
      val q = upsertLatest(in.toDF(), s"$dir/state", s"$dir/ckpt", nBuckets = 4).start()
      // batch 1: first sighting of users 1 and 2
      in.addData(
        ev(1, "2024-01-01 10:00:00", user = 1L, v = 1.0),
        ev(2, "2024-01-01 10:00:00", user = 2L, typ = "view", v = 2.0))
      q.processAllAvailable()
      // batch 2: an OLDER event for user 1 (must NOT regress the key) and a
      // newer one for user 2 (must replace)
      in.addData(
        ev(3, "2024-01-01 09:00:00", user = 1L, typ = "stale", v = 9.0),
        ev(4, "2024-01-01 11:00:00", user = 2L, typ = "buy", v = 5.0))
      q.processAllAvailable()
      // batch 3: a new user, plus a ts TIE for user 1 — higher event_id wins
      in.addData(
        ev(5, "2024-01-01 10:00:00", user = 3L, typ = "view", v = 4.0),
        ev(6, "2024-01-01 10:00:00", user = 1L, typ = "tie", v = 7.0))
      q.processAllAvailable()
      q.stop()
      val state = spark.read.parquet(s"$dir/state").collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Long]("event_id"), r.getAs[String]("event_type"),
            r.getAs[Double]("value")))).toMap
      assert(state === Map(
        1L -> ((6L, "tie", 7.0)),     // ts tie broken by event_id: 6 > 1
        2L -> ((4L, "buy", 5.0)),     // newer ts replaced the view
        3L -> ((5L, "view", 4.0))))
      // the state table is laid out by key bucket (hive partition dirs) so
      // the per-batch dynamic overwrite rewrites touched buckets only
      val buckets = new java.io.File(s"$dir/state").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(buckets.forall(_.startsWith("bucket=")))
      assert(buckets === Set("bucket=1", "bucket=2", "bucket=3"))
      // the per-batch merge's read side must PARTITION-PRUNE to the touched
      // buckets — that is the "per-batch I/O ∝ touched keys" claim: the
      // bucket filter lands in PartitionFilters (directory pruning before
      // any row is read), not in the post-scan Filter
      import org.apache.spark.sql.functions.col
      val pruned = spark.read.parquet(s"$dir/state")
        .filter(col("bucket").isin(1L))
      val scan = pruned.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters") &&
        scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
          .contains("bucket"), scan)
      assert(pruned.count() === 1L) // only user 1 lives in bucket 1
    }
  }

  test("windowedApproxDistinct sketches per-window distinct users within the rsd band") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = windowedApproxDistinct(in.toDF(), window = "1 hour",
        watermark = "1 hour")
      .writeStream.format("memory").queryName("hll_win")
      .outputMode("complete").start()
    // window [10:00, 11:00): users 1,2,3 (user 1 twice — distinct is 3);
    // window [12:00, 13:00): user 7 only
    in.addData(
      ev(1, "2024-01-01 10:05:00", user = 1L),
      ev(2, "2024-01-01 10:10:00", user = 2L),
      ev(3, "2024-01-01 10:20:00", user = 3L),
      ev(4, "2024-01-01 10:40:00", user = 1L),
      ev(5, "2024-01-01 12:30:00", user = 7L))
    q.processAllAvailable()
    val rows = spark.table("hll_win").collect()
      .map(r => r.getAs[Timestamp]("window_start").toString ->
        r.getAs[Long]("approx_users")).toMap
    q.stop()
    assert(rows.keySet === Set("2024-01-01 10:00:00.0", "2024-01-01 12:00:00.0"))
    // HLL++ is an estimate; at these cardinalities the sparse
    // representation is effectively exact, but assert only the audit band
    assert(math.abs(rows("2024-01-01 10:00:00.0") - 3L) <= 1L)
    assert(math.abs(rows("2024-01-01 12:00:00.0") - 1L) <= 1L)
  }

  test("session default: RocksDB state store provider") {
    // the on-heap provider is a measured OOM cliff for native session
    // windows at corpus scale (BENCH_SF10 round-12 addendum 4); pin the
    // default so a silent config regression can't reintroduce it
    val provider = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    assert(provider === graft.GraftSession.RocksDbStateStore)
  }

  test("withStateStore scopes a per-query provider and restores the default") {
    // the per-entry hint for read-heavy watermark-bounded join state
    // (q_stream_stream_join): inside the block the conf carries the hint,
    // after it the session default is back
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.get(key)
    val seen = graft.GraftSession.withStateStore(
      spark, graft.GraftSession.HeapStateStore) { spark.conf.get(key) }
    assert(seen === graft.GraftSession.HeapStateStore)
    assert(spark.conf.get(key) === before)
    // restore also runs on a throwing body
    intercept[RuntimeException] {
      graft.GraftSession.withStateStore(
        spark, graft.GraftSession.HeapStateStore) {
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(key) === before)
  }
}
