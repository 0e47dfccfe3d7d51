package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` schema
  * (event_id, ts, user_id, event_type, value, props).
  *
  * New scope beyond the reference (it is batch-only, SURVEY.md §2i) —
  * the streaming counterparts of its aggregation patterns: windowed
  * aggregates with watermarks, exactly-once-style dedup, and stateful
  * sessionization via flatMapGroupsWithState.
  *
  * Scale notes: all three are keyed-state operators; state is partitioned
  * by group key across executors (HDFS/RocksDB-backed state store on a real
  * cluster), and the watermark bounds state size — without it, windows and
  * dedup keys accumulate forever.
  */
object EventStreams {

  /** Sliding-window event counts/averages per event_type. Late data beyond
    * the watermark is dropped; window state is evicted once the watermark
    * passes window end.
    */
  def windowedCounts(
      events: DataFrame,
      window: String = "1 hour",
      slide: String = "15 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col("ts"), window, slide),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("avg_value"))

  /** Stream-static enrichment: join each event against a broadcast
    * dimension table (the streaming counterpart of the reference's implied
    * zone lookup, SURVEY.md §2c). The static side re-resolves per
    * micro-batch; broadcast keeps it shuffle-free on the stream side.
    */
  def enriched(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Streaming exact dedup on event_id within the watermark horizon —
    * the streaming analogue of Dedup.exact. dropDuplicatesWithinWatermark
    * (not plain dropDuplicates) is what lets the watermark EVICT per-id
    * state; with dropDuplicates("event_id") alone the state store grows
    * one entry per id forever.
    */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream join with an event-time range: pair each left event
    * with right events of the same user arriving within `withinMinutes`
    * AFTER it (e.g. click → purchase attribution).
    *
    * Both sides are watermarked and the join condition bounds event time on
    * both sides — that pair of constraints is what lets Spark EVICT
    * buffered rows from the join state store once the watermark passes the
    * interval; an unbounded condition would buffer both streams forever.
    *
    * `joinType` supports "inner" (emit on match) and "left_outer": a left
    * row that finds no match is emitted WITH NULL RIGHT COLUMNS, but only
    * when the watermark proves no match can still arrive — i.e. when its
    * state is evicted at wm > l_ts + withinMinutes. Rows inside the final
    * lateness horizon therefore never null-emit (they might yet match);
    * that conditional emission, driven by state eviction rather than by
    * data, is the semantics EventStreamsSpec pins at the exact boundary
    * (wm == l_ts + interval does NOT emit — eviction is strictly-greater).
    */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      withinMinutes: Int = 30,
      watermark: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left_outer",
      s"streamStreamJoin: unsupported joinType $joinType")
    val l = left.withWatermark("ts", watermark)
      .select(col("event_id").as("l_id"), col("user_id"),
        col("ts").as("l_ts"), col("event_type").as("l_type"))
    val r = right.withWatermark("ts", watermark)
      .select(col("event_id").as("r_id"), col("user_id").as("r_user"),
        col("ts").as("r_ts"), col("event_type").as("r_type"))
    l.join(r,
        col("user_id") === col("r_user") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $withinMinutes MINUTES"),
        joinType)
      .select(col("l_id"), col("r_id"), col("user_id"),
        col("l_ts"), col("r_ts"), col("l_type"), col("r_type"))
  }

  /** Windowed approximate-distinct users per event_type — the O(sketch)
    * streaming-cardinality pattern. The state per (window, type) group is
    * ONE fixed-size HLL++ buffer (partial sketches merge map-side and in
    * the state store), so distinct-user tracking over an unbounded key
    * domain costs KBs per window where `dropDuplicates`-then-count state
    * grows one entry per distinct id — the thing that OOMs at corpus
    * scale. The estimate is engine-specific, so catalog entries audit it
    * against the exact count with the q_approx_distinct 3·rsd band rather
    * than hash-matching the raw value.
    */
  def windowedApproxDistinct(
      events: DataFrame,
      window: String = "1 hour",
      watermark: String = "2 hours",
      rsd: Double = 0.05): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("approx_users"))

  /** Streaming keyed upsert (streaming SCD1 / materialized "latest state
    * per key" view) — the Delta-less MERGE sink: each micro-batch folds
    * its per-user winners into a parquet state table partitioned by a
    * key bucket, rewriting ONLY the buckets the batch touches (dynamic
    * partition overwrite via [[graft.sources.Tables.upsertPartitions]]).
    * At 100 TB the per-batch I/O is proportional to touched buckets, not
    * to the table: the read side partition-prunes to the same buckets
    * the write replaces.
    *
    * The winner per user is the max of struct(ts, event_id, ...) —
    * lexicographic, event_id breaking ts ties — which is ASSOCIATIVE, so
    * the final table is independent of micro-batch splits and of
    * arrival order (an out-of-order batch carrying an older event never
    * regresses a key). The touched-bucket list is a bounded collect
    * (≤ nBuckets values).
    *
    * The merged frame is localCheckpoint'ed before the write: it READS
    * the same path the dynamic overwrite replaces, so the lineage must
    * be cut (materialized) before the first target file is deleted.
    *
    * Returns the configured writer; the caller picks the trigger and
    * starts it.
    */
  def upsertLatest(
      events: DataFrame,
      statePath: String,
      checkpointPath: String,
      nBuckets: Int = 16): DataStreamWriter[Row] = {
    require(nBuckets >= 1, "upsertLatest: nBuckets must be >= 1")

    def winners(df: DataFrame): DataFrame =
      df.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
          col("value"))).as("w"))
        .select(col("user_id"), col("w.ts").as("ts"),
          col("w.event_id").as("event_id"),
          col("w.event_type").as("event_type"), col("w.value").as("value"))
        .withColumn("bucket", pmod(col("user_id"), lit(nBuckets.toLong)))

    events.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val batchW = winners(batch)
        val p = new org.apache.hadoop.fs.Path(statePath)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val merged =
          if (!fs.exists(p)) batchW
          else {
            // bounded collect: at most nBuckets bucket ids
            val touched = batchW.select("bucket").distinct()
              .collect().map(_.getLong(0))
            val existing = s.read.parquet(statePath)
              .filter(col("bucket").isin(touched: _*))
            winners(existing.drop("bucket")
              .unionByName(batchW.drop("bucket")))
          }
        graft.sources.Tables.upsertPartitions(
          merged.localCheckpoint(true), statePath, Seq("bucket"))
        ()
      }
  }

  final case class Event(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class Session(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** One open session interval (public for encoder codegen). */
  final case class OpenSession(start: Long, end: Long, n: Long, sum: Double)

  /** Per-key state: ALL open session intervals, kept disjoint and more
    * than a gap apart (public for encoder codegen).
    */
  final case class SessionListState(open: List[OpenSession])

  /** Event-time sessionization with a gap timeout: a session closes when no
    * event arrives for `gapMinutes` (event-time). Emits one row per closed
    * session.
    *
    * State is the LIST of open session intervals per key — the same
    * session-merging model as Spark's session_window — because with
    * out-of-order data a single "current session" cannot be correct:
    * several late events must merge with EACH OTHER (not each become a
    * singleton), one event can bridge two existing sessions into one, and
    * a session may only be finalized by the WATERMARK passing end + gap —
    * never by a newer event arriving, since a late bridging event can
    * still extend it. The watermark bounds the open-list length (intervals
    * a gap apart within the lateness horizon).
    */
  def sessionize(
      events: Dataset[Event],
      gapMinutes: Int = 30,
      watermark: String = "1 hour"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def update(
        userId: Long,
        rows: Iterator[Event],
        state: GroupState[SessionListState]): Iterator[Session] = {
      // The session set is the gap-closure partition of the points and
      // intervals on the time line — ORDER-INDEPENDENT — so it can be
      // computed by sort + linear sweep instead of per-event list
      // partitioning. The sweep matters at scale: in the FIRST batch the
      // watermark is still 0, nothing finalizes, and the open list grows
      // to every session the key has — per-event partitioning is then
      // O(events · sessions) per key (measured: a ×100 corpus with 40k
      // events/key ground for >30 min in that quadratic; the sweep runs
      // the same batch in seconds). Singleton intervals from this batch's
      // sorted events merge with the carried-over open intervals in one
      // O((a+b) log(a+b)) pass.
      val carried = state.getOption.map(_.open).getOrElse(Nil)
      val incoming = rows.map(e =>
        OpenSession(e.ts.getTime, e.ts.getTime, 1, e.value)).toArray
      val all = (carried.toArray ++ incoming).sortInPlaceBy(_.start)
      var open: List[OpenSession] = Nil // built newest-first, start-descending
      for (iv <- all) {
        open match {
          case head :: tail if iv.start <= head.end + gapMs =>
            // sorted by start ⇒ iv can only touch the latest interval
            open = OpenSession(head.start, math.max(head.end, iv.end),
              head.n + iv.n, head.sum + iv.sum) :: tail
          case _ => open = iv :: open
        }
      }
      // only the watermark finalizes a session: every open interval whose
      // gap window the watermark has passed can no longer grow
      val wm = state.getCurrentWatermarkMs()
      val (done, stillOpen) = open.partition(_.end + gapMs <= wm)
      if (stillOpen.isEmpty) state.remove()
      else {
        state.update(SessionListState(stillOpen))
        // fire when the earliest open session becomes closable
        state.setTimeoutTimestamp(
          math.max(stillOpen.map(_.end).min + gapMs, wm + 1))
      }
      done.sortBy(_.start).iterator.map(s =>
        Session(userId, new java.sql.Timestamp(s.start),
          new java.sql.Timestamp(s.end), s.n, s.sum))
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** Exactly-once threshold alerting: emit each user ONCE, the first time
    * their cumulative event count reaches `minEvents` — the stateful
    * monitoring primitive behind "alert when an account crosses N
    * actions" (fraud velocity checks, quota trips). State per key is two
    * numbers (count, alerted); the alerted latch is what makes the emit
    * exactly-once across micro-batches rather than once per batch above
    * the threshold.
    *
    * Determinism contract: the EMITTED SET (which users alert) is
    * independent of micro-batch splits — it is exactly the users whose
    * total count reaches the threshold. The count at crossing time is
    * batch-split-dependent, so it stays in state and is NOT emitted; the
    * output carries only (user_id) plus the threshold echoed for the
    * sink.
    */
  final case class Alert(user_id: Long, threshold: Long)
  final case class AlertState(count: Long, alerted: Boolean)

  def thresholdAlerts(
      events: Dataset[Event],
      minEvents: Long): Dataset[Alert] = {
    import events.sparkSession.implicits._
    require(minEvents >= 1, "minEvents must be >= 1")

    def update(
        userId: Long,
        rows: Iterator[Event],
        state: GroupState[AlertState]): Iterator[Alert] = {
      val prev = state.getOption.getOrElse(AlertState(0L, alerted = false))
      val c = prev.count + rows.size
      val crossed = !prev.alerted && c >= minEvents
      state.update(AlertState(c, prev.alerted || crossed))
      if (crossed) Iterator(Alert(userId, minEvents)) else Iterator.empty
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
  }
}
