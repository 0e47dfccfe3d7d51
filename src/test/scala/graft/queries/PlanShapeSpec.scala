package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.TempDirs.withTempDir

/** Plan-shape regression guard: the scale properties the engine is built
  * around, asserted on the planned (pre-execution) physical plans of the
  * driver-facing catalog, so a refactor that silently de-optimizes a
  * query fails here rather than at 100 TB.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("no catalog query plans a CartesianProduct") {
    // the one intended unkeyed join (q_sim_join_topk) broadcasts its 3-row
    // side as BroadcastNestedLoopJoin — CartesianProduct must appear nowhere
    for ((name, fn) <- SparkEntry.queries) {
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian:\n$plan")
    }
  }

  test("filters and projection reach the parquet scan") {
    val p = planOf("q_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    // pruned read schema, not the full 16-column lineitem
    assert(!p.contains("l_comment"), p)
  }

  test("joins plan as hash equi-joins, strategy picked by stats") {
    assert(planOf("q_join_broadcast_dims").contains("BroadcastHashJoin"))
    // at sf0.001 the orders side fits the broadcast threshold, so Catalyst
    // rightly broadcasts what would shuffle at 100 TB — assert it's an
    // equi-join of SOME hash flavor, not a nested loop
    val rev = planOf("q_join_shuffle_revenue")
    assert(Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .exists(rev.contains), rev)
    assert(!rev.contains("NestedLoop"), rev)
    // the merge hint pins the third strategy even where stats would
    // broadcast — closing the broadcast/shuffle-hash/sort-merge triad
    val smj = planOf("q_join_sortmerge")
    assert(smj.contains("SortMergeJoin"), smj)
    assert(!smj.contains("BroadcastHashJoin"), smj)
  }

  test("global top-k plans as TakeOrderedAndProject, never a full sort") {
    val p = planOf("q_topk_pairs")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("aggregations are partial before the exchange (map-side combine)") {
    val p = planOf("q_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("grouped top-k keeps the map-side partial prune") {
    val p = planOf("q_topk_per_key")
    assert(p.contains("TopKPerKeyPartial"), p)
  }

  test("decontamination broadcasts the benchmark grams; corpus side stays narrow") {
    val p = planOf("q_decontaminate")
    // benchmark n-gram set rides a broadcast exchange into a semi-join;
    // the corpus text itself must never be shuffled
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("simhash sketch is one codegen'd hash-aggregate, not an interpreted HOF fold") {
    val p = planOf("q_dedup_simhash")
    // the 64 bit-count sums show up as partial aggregates (map-side combine)
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    // vote accumulation no longer runs through interpreted lambda exprs
    assert(!p.contains("aggregate(lambda"), p)
  }

  test("multi-column describe is ONE scan + one aggregate, not per-column jobs") {
    val p = planOf("q_summary_multi")
    assert("Scan parquet".r.findAllIn(p).size === 1, p)
    assert(p.contains("partial_count") || p.contains("partial_avg"), p)
  }

  test("minhash sketch computes through the native one-pass signature expression") {
    // the 45x cold-path win (MinHashSignature, one codegen pass for all 64
    // family minima) must not silently regress to the interpreted HOF fold
    val p = planOf("q_dedup_minhash")
    assert(p.contains("minhash_signature"), p)
    assert(!p.contains("array_min(transform("), p)
  }

  test("winnowing computes through BOTH native expressions, gram hash and window-min") {
    // the 28 s -> 5.9 s x100 path (Portable60Grams byte-level digests +
    // WinnowMinSelect monotone deque) must not silently regress to the
    // interpreted HOF pipeline (per-gram hex format/parse, per-window
    // slice+array_min)
    val p = planOf("q_winnow_fingerprint")
    assert(p.contains("portable60_grams"), p)
    assert(p.contains("winnow_min_select"), p)
    assert(!p.contains("array_min(slice("), p)
  }

  test("random projection plans as a narrow literal-matrix map into top-k") {
    // the sign matrix is spliced as a literal: no hash work, no broadcast,
    // no shuffle before the TakeOrderedAndProject cut
    val p = planOf("q_knn_randproj")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("md5"), p) // matrix is literal; no runtime hashing
  }

  test("pair operators plan no global sort: determinism orderBy lives in the catalog") {
    // minHashLsh / simHashPairs / ngramJaccard / fuzzyDedupClusters /
    // cosineNearDupPairs feed CC rounds, ingest anti-joins, and keep-list
    // joins that re-shuffle immediately — a global range-shuffle sort
    // inside the operator would be pure waste there. The catalog entries
    // (which the oracle compares row-by-row) add their own orderBy.
    import graft.operators.{Dedup, Similarity}
    import graft.sources.Tables
    val docs = Tables.load(spark, sf, "documents")
    val emb = Tables.load(spark, sf, "embeddings")
    // a GLOBAL sort prints as `Sort [...], true, 0`; SortMergeJoin's local
    // per-partition sorts print `false` and are fine
    val globalSort = """Sort \[[^\]]*\], true""".r
    for ((name, df) <- Seq(
        "minHashLsh" -> Dedup.minHashLsh(docs, threshold = 0.5),
        "simHashPairs" -> Dedup.simHashPairs(docs, maxHamming = 4),
        "ngramJaccard" -> Dedup.ngramJaccard(docs, threshold = 0.15),
        "fuzzyDedupClusters" -> Dedup.fuzzyDedupClusters(docs, threshold = 0.5),
        "cosineNearDupPairs" -> Similarity.cosineNearDupPairs(emb, dim = 64,
          threshold = 0.25))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(globalSort.findFirstIn(plan).isEmpty,
        s"$name plans a global sort:\n$plan")
    }
  }

  test("auto-mode near-dup with caller-supplied n constructs without any Spark job") {
    // the scale contract behind cosineNearDupPairs(n = Some):
    // banding params come from the caller's count (ingest pipelines know
    // their batch size), so building the frame must not scan the corpus —
    // the round-5 shape ran an unconditional df.count() per invocation
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.operators.Similarity
    import graft.sources.Tables
    val emb = Tables.load(spark, sf, "embeddings")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val auto = Similarity.cosineNearDupPairs(emb, dim = 64, threshold = 0.25,
        n = Some(500L))
      org.apache.spark.graft.TestListenerBus.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get() === 0, "construction ran Spark jobs despite caller-supplied n")
      // and the n = None path derives the same frame (its count() is the
      // cache materialization of the same projection, not extra work)
      val counted = Similarity.cosineNearDupPairs(emb, dim = 64, threshold = 0.25)
      assert(counted.exceptAll(auto).count() === 0 &&
        auto.exceptAll(counted).count() === 0,
        "caller-supplied n and counted n derived different pairs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("IVF table at rest: probe scan is partition-pruned to the probed centroids") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    import graft.sources.Tables
    val emb = Tables.load(spark, sf, "embeddings")
    val (assigned, centroids) = Similarity.ivfAssign(emb, k = 8)
    withTempDir("ivf") { dir =>
      assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(dir)
      val allDirs = new java.io.File(dir).listFiles()
        .count(_.getName.startsWith("centroid_id="))
      assert(allDirs > 2, s"fixture degenerate: only $allDirs centroid dirs")
      // probe 2 of the k centroids, the IVF query path's at-rest shape
      val probes = centroids.map(_._1).sorted.take(2)
      val probed = spark.read.parquet(dir)
        .filter(col("centroid_id").isin(probes: _*))
      probed.collect()
      val plan = probed.queryExecution.executedPlan.toString
      // the centroid predicate is a PARTITION filter (directory pruning),
      // not a data filter evaluated after reading everything
      assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"), plan)
      assert(!plan.contains("PushedFilters: [In(centroid_id"), plan)
      // and the scan's file set really shrank to the probed directories
      val scanned = probed.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numFiles").value
        }.get
      val filesPerDir = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("centroid_id="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
        .toMap
      val expected = probes.map(p => filesPerDir(s"centroid_id=$p")).sum.toLong
      assert(scanned === expected,
        s"scan read $scanned files, probed dirs hold $expected of ${filesPerDir.values.sum}")
    }
  }

  test("LSH table at rest: multiprobe scan is partition-pruned to matching buckets") {
    // the at-rest scale path Similarity's scaladoc describes: bucket-
    // partition the table so a multiprobe query touches only partitions
    // within probeHamming bits of the query bucket. The probe predicate
    // bit_count(bucket XOR q) <= h references ONLY the partition column,
    // so Catalyst evaluates it against directory values at planning time —
    // directory pruning, not a data filter.
    import org.apache.spark.sql.functions.{bit_count, col, lit}
    import graft.operators.Similarity
    import graft.sources.Tables
    val dim = 64; val nPlanes = 6; val probeHamming = 1
    val emb = Tables.load(spark, sf, "embeddings")
    val bucketed = emb.select(col("vec_id"),
      Similarity.lshBucket(Similarity.toDouble(col("embedding")), dim, nPlanes)
        .as("bucket"))
    withTempDir("lsh") { dir =>
      bucketed.write.mode("overwrite").partitionBy("bucket").parquet(dir)
      val bucketDirs = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("bucket=")).map(d =>
          d.getName.stripPrefix("bucket=").toLong ->
            d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
      assert(bucketDirs.size > 4, s"fixture degenerate: ${bucketDirs.size} buckets")
      // query bucket = the same plane-sign fold annTopK computes driver-side
      val queryVec = Similarity.collectQueryVec(emb, 1)
      val qBucket = Similarity.hyperplanes(dim, nPlanes).zipWithIndex
        .foldLeft(0L) { case (acc, (p, i)) =>
          if (p.zip(queryVec).map { case (a, b) => a * b }.sum >= 0)
            acc | (1L << i) else acc
        }
      val probed = spark.read.parquet(dir)
        .filter(bit_count(col("bucket").bitwiseXOR(lit(qBucket))) <= probeHamming)
      probed.collect()
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
      assert(!plan.contains("PushedFilters: [") ||
        !plan.contains("PushedFilters: [bucket"), plan)
      val scanned = probed.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numFiles").value
        }.get
      val matching = bucketDirs.filter { case (b, _) =>
        java.lang.Long.bitCount(b ^ qBucket) <= probeHamming }
      val expected = matching.values.sum.toLong
      assert(matching.size < bucketDirs.size,
        "probe matched every bucket — pruning not exercised")
      assert(scanned === expected,
        s"scan read $scanned files, probed buckets hold $expected of ${bucketDirs.values.sum}")
    }
  }

  test("key-bounded taxi aggregates sort in one task: no range exchange, rows in order") {
    import org.apache.spark.sql.{DataFrame, Row}
    import graft.taxi.{Analytics, Cleaning, RunPipeline, TaxiFixture}
    withTempDir("taxi-sorted") { dir =>
      RunPipeline.sink(Cleaning.pipeline(TaxiFixture.raw(spark)), dir)
      val table = spark.read.parquet(dir)
      assert(table.inputFiles.length > 1, "fixture sink wrote one file")
      // each query with its orderBy applied to the collected rows (a stable
      // sort, so rows already in order come back unchanged)
      val ordered = Seq[(String, DataFrame => DataFrame, Seq[Row] => Seq[Row])](
        ("q1", Analytics.q1TipPctByAirportPickup, _.sortBy(_.getAs[Boolean]("is_airport_pickup"))),
        ("q3", Analytics.q3CountByPaymentType, _.sortBy(_.getAs[Int]("payment_type"))),
        ("q5", Analytics.q5Congestion, _.sortBy(_.getAs[String]("time_of_day_slot"))),
        ("q6", Analytics.q6FareBySlotAndDow, _.sortBy(r =>
          (r.getAs[Int]("pickup_day_of_week"), r.getAs[String]("time_of_day_slot")))),
        ("q8", Analytics.q8AirportVsNonAirport, _.sortBy(_.getAs[String]("trip_type"))),
        ("corr", Analytics.corrDurationTipByPayment, _.sortBy(r => -r.getAs[Double]("corr_duration_tip"))))
      for ((name, q, sorted) <- ordered) {
        val df = q(table)
        val rows = df.collect().toSeq
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.toLowerCase.contains("rangepartitioning"), s"$name plans a range exchange:\n$plan")
        assert(rows.length > 1, s"$name: ${rows.length} rows cannot show an order")
        assert(rows === sorted(rows), s"$name rows out of order")
      }
    }
  }

  test("the taxi sink's generated methods stay under HotSpot's 8,000-bytecode limit") {
    // a method over 8,000 bytecodes is never JIT-compiled; the fused
    // clean+features method has about 11 B of headroom, and the NTZ
    // repair's casts inline into it too. Plans are read after execution:
    // before it, an adaptive plan hides its query stages
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.taxi.{Cleaning, RunPipeline, TaxiPipelineSpec}
    import graft.tools.Codegen
    for (ntz <- Seq(false, true)) withTempDir("taxi-codegen-size") { dir =>
      val raw = TaxiPipelineSpec.fixtureFile(spark, s"$dir/raw", ntz)
      val plans = new ConcurrentLinkedQueue[SparkPlan]()
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
          plans.add(qe.executedPlan); ()
        }
        override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        RunPipeline.sink(Cleaning.pipeline(raw), s"$dir/sink")
        org.apache.spark.graft.TestListenerBus.waitUntilEmpty(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      val sizes = plans.asScala.toSeq.map(Codegen.maxMethodBytecode)
      assert(sizes.nonEmpty, s"ntz=$ntz: the sink's write was not seen")
      assert(sizes.max > 0 && sizes.max <= 8000, s"ntz=$ntz: max method ${sizes.max} B")
    }
  }

  test("partition-pruned scan skips non-matching hive partitions") {
    // writePartitioned layout verified in TablesSpec; here the catalog's
    // time-bucketed events query must keep its filter at the scan
    val p = planOf("q_time_window_agg")
    assert(p.contains("Scan parquet"), p)
  }
}
