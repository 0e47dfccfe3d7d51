package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the reference environment semantics (Databricks 16.4 LTS, Spark
  * 3.5.2, UTC — reference README.md:46) on OSS Spark 4.1.2:
  *   - UTC session timezone (the reference repairs timestamp_ntz →
  *     timestamp via to_timestamp, W2_NYCTaxi_ETL.ipynb cell 81; pinning UTC
  *     makes that cast deterministic).
  *   - AQE on (runtime shuffle-partition coalescing + skew-join splitting):
  *     on a 1000-executor cluster this is what keeps small reduce stages
  *     from fragmenting and skewed keys from stalling a stage.
  *   - local[cores] with shuffle.partitions = cores; on a real cluster
  *     this would be ~2-3x total cores, and AQE coalesces down.
  *   - a generated-class cache of 1,000 entries, so a repeated pass reuses
  *     its compiled code instead of recompiling it with Janino.
  *   - a local file system that starts no process per file
  *     (`sources.ForkFreeLocalFileSystem` for `file:`, `ForkFreeLocalFs`
  *     for FileContext): without libhadoop, Hadoop's own runs `chmod` for
  *     every file and directory a sink, dump, checkpoint or state store
  *     writes, and `readlink` on every checkpoint rename. A sticky, setuid
  *     or setgid mode and a real symbolic link still go to Hadoop. The
  *     JVM caches the first `file:` FileSystem it creates, so a JVM that
  *     opened one before its first graft session keeps the default one.
  *
  * Every main takes its core count from `builder`'s default:
  * SPARK_GRAFT_CPUS when set, else every core of the host.
  */
object GraftSession {
  private def defaultCores: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def builder(appName: String = "graft", cores: String = defaultCores): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // initialPartitionNum is deliberately LEFT UNSET (= shuffle.partitions):
      // AQE can only coalesce down from it, so raising it is the knob that
      // would let heavy tiers' sorts shrink below 32-partition size. A/B
      // at ×1000 (BENCH_SF10 addendum 16): 8×cores initial partitions cut
      // the full-outer-join sort (snapshot_diff 43.7→24.8 s isolated) but
      // cost +10–35% on every other shuffle shape at this tier (256-bucket
      // map-side writes that AQE immediately coalesces away) — net −16%
      // total. On a cluster, size shuffle.partitions to the data instead;
      // locally one partition per core wins (measured at 32 cores).
      // runtime bloom-filter pruning: for a shuffle join with a selective
      // filter on one side, inject a bloom filter of that side's join keys
      // into the other side's SCAN, so non-matching fact rows die before
      // the exchange. Thresholds stay at defaults (creation side ≤ 10 MB,
      // application side ≥ 10 GB) — exactly the 100 TB fact-to-dim shape;
      // RuntimeFilterSpec forces low thresholds to exercise it locally.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // reliable checkpoints (iterative CC/dedup rounds) are only deleted
      // by the ContextCleaner when this flag is on (default FALSE): without
      // it every superseded round's checkpoint files persist for the app
      // lifetime — unbounded storage growth across dedup runs on a cluster
      // with a durable checkpoint dir. Measured cost of the interleaved
      // deletion I/O: ~20-25% on the checkpoint-heavy CC queries at sf0.1
      // (15.5 s vs 11.8 s over the three cluster queries, flag on vs off)
      // — accepted; a latency-critical job with ephemeral storage can
      // flip it off per session
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The reference ran Spark 3.5 with ANSI off (Databricks default); its
      // cleaning semantics depend on x/0 → NULL (3VL drop, cell 26; Spark
      // SQL Divide returns NULL for zero divisors with ANSI off) rather than
      // errors, so the engine pins the same dialect.
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      // Generated-class cache. The default 100 entries is below one pass's
      // working set (about 110 classes for a taxi pass, about 162 for the
      // benchmark's catalog_core pass), and a pass touches its classes in
      // the same cyclic order, so the LRU missed on every access and every
      // pass recompiled its code with Janino. Guava splits the maximum over
      // 4 LRU segments, so the cache needs headroom above the working set:
      // at 1,000 a repeated pass compiles nothing on the taxi fixture or
      // month, and on catalog_core only q_stream_window_agg, whose every
      // call starts a fresh streaming query. A static conf: it sizes a
      // JVM-wide cache the first time codegen runs, so it only takes
      // effect when the JVM's first session carries it.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // Streaming state store. The default HDFSBacked provider keeps ALL
      // live state on-heap per partition: measured at ×1000 (100M events)
      // the native session-window query OOMs the 32 GB heap and still
      // OOMs at 64 GB (BENCH_SF10 round-12 addendum) — session state for
      // ~100k users × open sessions never fits a single JVM's heap.
      // RocksDB (in /opt/spark/jars, rocksdbjni 9.8.4) moves state
      // off-heap with disk spill — the production cluster shape for
      // large stateful streaming. The provider is a runtime conf, so one
      // query can run under another (withStateStore below).
      .config(StateStoreKey, RocksDbStateStore)
      .config("spark.hadoop.fs.file.impl", classOf[sources.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[sources.ForkFreeLocalFs].getName)

  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Provider class names — the currency for [[withStateStore]]. */
  val HeapStateStore: String =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  val RocksDbStateStore: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val StateStoreKey = "spark.sql.streaming.stateStore.providerClass"

  /** Run `body` under a per-QUERY state-store provider, restoring the
    * session's provider after. The provider class is a runtime SQL conf
    * captured by each streaming query AT START, so scoping a start +
    * awaitTermination inside this block gives that one query its own
    * provider while the session keeps the RocksDB robustness default.
    *
    * Why this exists: the RocksDB default is a cliff-avoidance choice
    * (on-heap session state OOMs at ×1000 — BENCH_SF10 r12 addendum 4),
    * but the stream-stream JOIN measurably prefers on-heap 3:1 at the
    * same tier — its dual-sided join state is READ-heavy per input row
    * (every arrival probes the other side's buffer), so RocksDB pays a
    * serde per lookup where the heap map pays a pointer, while its state
    * SIZE is watermark-bounded (horizon × arrival rate per partition),
    * not corpus-unbounded like open sessions. Per-query heap is safe
    * exactly where state is bounded and lookup-dominated.
    */
  def withStateStore[T](s: SparkSession, providerClass: String)(body: => T): T = {
    val prev = s.conf.getOption(StateStoreKey)
    s.conf.set(StateStoreKey, providerClass)
    try body
    finally prev match {
      case Some(v) => s.conf.set(StateStoreKey, v)
      case None    => s.conf.unset(StateStoreKey)
    }
  }
}
