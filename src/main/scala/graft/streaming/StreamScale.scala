package graft.streaming

import graft.GraftSession
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Scale-adaptive sizing and the one lifecycle ([[drain]]) of the
  * driver-gated streaming entries (guide §2: derive partitioning from input
  * size rather than pinning a constant tuned for either local mode or the
  * cluster).
  *
  * ==Why the state partition count must be derived==
  *
  * A stateful streaming query pins `spark.sql.shuffle.partitions` into its
  * checkpoint at creation: that number is the state-store instance count
  * PER STATEFUL OPERATOR for the query's whole life (a stream-stream join
  * holds four stores per partition). Each instance carries fixed costs per
  * micro-batch — a delta/changelog file + fsync on commit, a snapshot
  * lineage, and for RocksDB a native instance (memtable, block cache,
  * compaction threads). Those costs are independent of how many rows the
  * partition holds, so a toy-to-moderate input under the session's 32
  * default pays 32× (128× for joins) the file/fsync machinery that a
  * handful of partitions would, while a ×1000 input genuinely needs the
  * width. The right number is therefore a function of INPUT VOLUME,
  * exactly like batch scan splits.
  *
  * Sizing is by ARRIVAL ROWS, not file bytes: stateful per-row work
  * (state probe/insert, window merge, watermark bookkeeping) scales with
  * rows, and columnar compression makes bytes a poor row proxy (the
  * fixture packs ~100k events into 2 MB). Two targets, picked by the
  * operator's STATE SHAPE:
  *
  *  - [[ArrivalStateRows]] (25k/partition) for PER-ARRIVAL state —
  *    streaming dedup keeps one entry per event id, so every arrival is
  *    a state probe+insert and per-task state-op compute dominates.
  *    Measured sweep on that entry (200k arrivals, sf0.1): 1 partition
  *    3.7 s, 8 partitions 2.8 s, 32 partitions 3.2 s — per-store fixed
  *    costs and per-task parallelism balance in the tens-of-thousands
  *    band.
  *  - [[BoundedStateRows]] (100k/partition, the default) for BOUNDED or
  *    per-key state (windowed aggregates: windows × types rows; enrich:
  *    segments × types; sessionize/join buffers: watermark-bounded per
  *    key) — per-row work is plain aggregation, so coarser tasks win:
  *    at sf0.1 the measured family ran 21.6 s at 1 partition vs 28.2 s
  *    at 4 (the per-store machinery outweighing parallelism at this
  *    volume).
  *
  * At ×10 the two targets give ~10 (light) / 32-clamped (heavy) partitions;
  * at ×100/×1000 both clamp to the session's parallelism, keeping the
  * r12-measured decade widths. Production sizing note: on a real cluster
  * the same rule applies with the cluster's total core count as the
  * clamp — state partitions should track the data, not the default.
  */
object StreamScale {
  /** Per-partition arrival target for PER-ARRIVAL state (measured sweep
    * above — streaming dedup's shape).
    */
  val ArrivalStateRows: Long = 25000L

  /** Per-partition arrival target for BOUNDED / per-key state (the
    * default shape — windowed aggregates, enrichment, sessionization,
    * watermark-bounded join buffers).
    */
  val BoundedStateRows: Long = 100000L

  /** Scale-adaptive shuffle/state partition count for a streaming query
    * over the events source in `dir`: ceil(rows·sides / target), clamped
    * to [1, defaultParallelism]. `sides` multiplies the estimate for
    * entries that read the source more than once (self-union dedup,
    * stream-stream joins buffering both sides). The row count is a
    * parquet metadata read (column-less count over footers — one tiny
    * job); a missing path sizes to the 1-partition floor.
    */
  def statePartitions(
      spark: SparkSession,
      dir: String,
      sides: Int = 1,
      rowsPerPartition: Long = BoundedStateRows): Int = {
    val path = s"$dir/events.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows =
      if (fs.exists(p)) spark.read.parquet(path).count() * math.max(1, sides)
      else 0L
    val raw = math.ceil(rows.toDouble / rowsPerPartition).toLong
    math.max(1L, math.min(raw, spark.sparkContext.defaultParallelism.toLong)).toInt
  }

  /** Run `body` (a streaming start + awaitTermination) under a scoped
    * `spark.sql.shuffle.partitions`, restoring the session value after.
    * The streaming query captures the conf AT START, so the scope gives
    * that one query its sized state-partition count while every batch
    * query in the session keeps the session default.
    */
  def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Run one driver-gated streaming entry's query to completion and return
    * its output as a batch frame: the single lifecycle every `q_stream_*`
    * catalog entry shares.
    *
    *  - `entry` and `dir` name the run: the memory sink's query name is
    *    `<entry>_<abs(dir.hashCode)>`, and a file sink writes that name under
    *    `java.io.tmpdir` with its checkpoint beside it at `-ckpt`. The
    *    previous run's view, or its sink and checkpoint, is cleared first,
    *    so a rerun starts from empty state and append-mode output never
    *    accumulates across runs.
    *  - Sink choice follows the OUTPUT's size. A memory sink materializes
    *    every emitted row on the driver, so it suits bounded output: an
    *    aggregate with one row per group, or a read-back that collapses to
    *    a checksum row over a bounded emit set. Output that grows with the
    *    input (one session per sparse event, one null-emit per click) takes
    *    `files = true`: executors write a parquet sink and the read-back
    *    stays distributed; a memory sink was measured dead at ×100.
    *  - State partitions are sized from the input ([[statePartitions]] with
    *    `sides` and `rowsPerPartition`) and scoped to this one query by
    *    [[withStatePartitions]] instead of the session's width: a stateful
    *    query pins `spark.sql.shuffle.partitions` into its checkpoint as
    *    the per-operator state-store count, and each store pays a per-batch
    *    commit file + fsync and, under RocksDB, a native instance,
    *    regardless of how many rows it holds.
    *  - `heapState` runs the query under the on-heap provider
    *    ([[graft.GraftSession.withStateStore]]); only read-heavy,
    *    watermark-bounded state (the stream-stream joins) asks for it.
    *  - `Trigger.AvailableNow` drains everything available and stops. The
    *    final no-data micro-batch advances the watermark and fires pending
    *    evictions and timeouts, so the output is the batch result restricted
    *    to what the final watermark closes, which is what a batch oracle
    *    can compute.
    *  - State-store providers are unloaded in a `finally`, after success or
    *    failure alike, so a catalog sweep never taxes later entries with a
    *    finished query's providers (the round-13 driver bench measured 3-9×
    *    in-run vs isolated gaps on this family from provider accumulation
    *    alone). A query still running when the wait ends abnormally is
    *    stopped first, since unloading is safe only with no query active.
    */
  def drain(
      spark: SparkSession,
      dir: String,
      entry: String,
      stream: Dataset[_],
      outputMode: String,
      files: Boolean = false,
      sides: Int = 1,
      rowsPerPartition: Long = BoundedStateRows,
      heapState: Boolean = false): DataFrame =
    drainWith(spark, dir, entry, files, sides, rowsPerPartition, heapState) { target =>
      val w = stream.writeStream.outputMode(outputMode)
      if (files) w.format("parquet").option("path", target)
        .option("checkpointLocation", target + "-ckpt")
      else w.format("memory").queryName(target)
    }

  /** [[drain]] for an entry whose own writer owns a file sink (the keyed
    * upsert's foreachBatch MERGE): `writer` gets the sink path, must
    * checkpoint at the path plus `-ckpt`, and the path is read back as
    * parquet.
    */
  def drain(spark: SparkSession, dir: String, entry: String)(
      writer: String => DataStreamWriter[_]): DataFrame =
    drainWith(spark, dir, entry, files = true, sides = 1, BoundedStateRows,
      heapState = false)(writer)

  private def drainWith(
      spark: SparkSession, dir: String, entry: String, files: Boolean,
      sides: Int, rowsPerPartition: Long, heapState: Boolean)(
      writer: String => DataStreamWriter[_]): DataFrame = {
    val name = s"${entry}_${math.abs(dir.hashCode)}"
    val target = if (files) s"${sys.props("java.io.tmpdir")}/graft-$name" else name
    if (files) {
      val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq(target, target + "-ckpt").foreach(p => fs.delete(new Path(p), true))
    } else spark.catalog.dropTempView(name)
    def run(): Unit = {
      val q = writer(target).trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      finally if (q.isActive) q.stop()
    }
    try withStatePartitions(spark, statePartitions(spark, dir, sides, rowsPerPartition)) {
      if (heapState) GraftSession.withStateStore(spark, GraftSession.HeapStateStore)(run())
      else run()
    } finally unloadStateStores()
    if (files) spark.read.parquet(target) else spark.table(name)
  }

  /** Unload every state-store provider left loaded by TERMINATED streaming
    * queries (see [[org.apache.spark.sql.execution.streaming.state.GraftStateHygiene]]
    * for the accumulation pathology and safety argument). [[drain]] calls
    * this after every query so a catalog sweep never taxes later queries
    * with leaked provider instances. Safe only while no streaming query is
    * active in the JVM.
    */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.GraftStateHygiene.unloadAll()
}
