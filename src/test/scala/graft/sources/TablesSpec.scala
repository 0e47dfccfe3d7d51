package graft.sources

import graft.{SparkSpec, TempDirs}
import graft.taxi.{Cleaning, RunPipeline, TaxiFixture}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Source/sink surface (SURVEY.md §2a, §2k): partitioned hive-layout sink
  * with partition pruning, sort-layout (Z-order stand-in), compaction,
  * CSV dimension load, and catalog DDL over the written table.
  */
class TablesSpec extends SparkSpec {

  // one directory for the whole suite: the catalog-DDL test reads the
  // table the partitioned-write test leaves behind
  private lazy val tmp = TempDirs.create("sink")

  override def afterAll(): Unit =
    try TempDirs.deleteTree(tmp) finally super.afterAll()

  test("partitioned write + partition-pruned re-read (cells 119/127)") {
    val path = s"$tmp/final"
    RunPipeline.sink(Cleaning.pipeline(TaxiFixture.raw(spark)), path)
    val back = spark.read.parquet(path)
    assert(back.count() === 11)
    // partition columns recovered from directory layout
    assert(back.columns.contains("pickup_year"))
    val pruned = back.filter(col("pickup_year") === 2024 && col("pickup_month") === 1)
    assert(pruned.count() === 10) // the non-2024 row lives in 2023/12
    // pruning happens at planning: the 2023 partition never gets scanned
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
  }

  test("catalog DDL over the partitioned table (cells 122-127)") {
    val path = s"$tmp/final"
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    spark.sql(s"CREATE TABLE IF NOT EXISTS graft_test.taxi USING PARQUET LOCATION '$path'")
    spark.sql("MSCK REPAIR TABLE graft_test.taxi")
    val parts = spark.sql("SHOW PARTITIONS graft_test.taxi").collect().map(_.getString(0))
    assert(parts.exists(_.startsWith("pickup_year=2024")))
    assert(parts.exists(_.startsWith("pickup_year=2023")))
    val n = spark.sql(
      "SELECT count(*) FROM graft_test.taxi WHERE pickup_year = 2024 AND pickup_month = 1")
      .head().getLong(0)
    assert(n === 10L)
  }

  test("ANALYZE TABLE feeds row/column stats to the planner (CBO input)") {
    // the stats side of DESCRIBE DETAIL (SURVEY.md §2a): table + column
    // statistics are what let the cost-based optimizer choose broadcast
    // sides and join orders at scale without runtime sampling
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    spark.sql("DROP TABLE IF EXISTS graft_test.stats_demo")
    // external-style location under the per-run temp dir: the in-memory
    // catalog resets per JVM, so a managed table's warehouse dir would
    // survive a crashed run and block the next CREATE
    spark.range(0, 1000).selectExpr("id", "id % 7 AS grp")
      .write.mode("overwrite").option("path", s"$tmp/stats_demo")
      .saveAsTable("graft_test.stats_demo")
    spark.sql("ANALYZE TABLE graft_test.stats_demo COMPUTE STATISTICS FOR COLUMNS id, grp")
    val detail = spark.sql("DESCRIBE EXTENDED graft_test.stats_demo")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(detail("Statistics").contains("1000 rows"), detail("Statistics"))
    val colStats = spark.sql("DESCRIBE EXTENDED graft_test.stats_demo grp")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(colStats("distinct_count") === "7")
    // planner consumes the stats once CBO is on (engine default stays off:
    // AQE's runtime statistics don't go stale, catalog stats do — CBO is
    // for clusters that maintain ANALYZE as part of ingest)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val rel = spark.table("graft_test.stats_demo")
        .queryExecution.optimizedPlan.stats
      assert(rel.rowCount.contains(BigInt(1000)))
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("compaction bin-packs to the requested file count (cell 131 OPTIMIZE)") {
    val path = s"$tmp/compact"
    val df = spark.range(0, 1000).toDF("id").repartition(8)
    df.write.mode("overwrite").parquet(path)
    val before = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before === 8)
    Tables.compact(spark, path, numFiles = 2)
    val after = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after === 2)
    assert(spark.read.parquet(path).count() === 1000)
  }

  test("CSV dimension source with header (README.md:20 zone lookup)") {
    val csv = s"$tmp/zones.csv"
    Files.writeString(java.nio.file.Paths.get(csv),
      "LocationID,Borough,Zone,service_zone\n" +
        "1,EWR,Newark Airport,EWR\n132,Queens,JFK Airport,Airports\n" +
        "138,Queens,LaGuardia Airport,Airports\n236,Manhattan,Upper East Side North,Yellow Zone\n")
    val zones = Tables.loadCsv(spark, csv)
    assert(zones.count() === 4)
    assert(zones.schema("LocationID").dataType.typeName === "integer")
    // the broadcast zone join the reference implies but never ships (§2c)
    val cleaned = Cleaning.pipeline(TaxiFixture.raw(spark))
    val joined = cleaned.join(broadcast(zones),
      cleaned("PULocationID") === zones("LocationID"), "inner")
    assert(joined.count() > 0)
    val airportTrips = cleaned.join(broadcast(zones.filter(col("service_zone")
      .isin("Airports", "EWR"))), cleaned("PULocationID") === zones("LocationID"),
      "left_semi")
    assert(airportTrips.count() === 1) // the JFK pickup row
  }

  test("dynamic partition upsert replaces only the touched partitions") {
    import spark.implicits._
    val path = s"$tmp/upsert"
    Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-03"))
      .toDF("v", "day")
      .write.mode("overwrite").partitionBy("day").parquet(path)
    // batch touches only day=2024-01-02 (new value) and 2024-01-04 (new partition)
    Tables.upsertPartitions(
      Seq((20L, "2024-01-02"), (40L, "2024-01-04")).toDF("v", "day"),
      path, Seq("day"))
    // partition-column inference types `day` as DATE; normalize for compare
    val back = spark.read.parquet(path)
      .select(col("day").cast("string").as("day"), col("v")).collect()
      .map(r => r.getAs[String]("day") -> r.getAs[Long]("v")).toMap
    assert(back === Map(
      "2024-01-01" -> 1L,   // untouched
      "2024-01-02" -> 20L,  // replaced
      "2024-01-03" -> 3L,   // untouched
      "2024-01-04" -> 40L)) // appended partition
  }

  test("mergeSchema read unions evolving ingest-batch schemas") {
    import spark.implicits._
    val dir = s"$tmp/evolving"
    Seq((1L, "alpha")).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    // a later batch adds a lang column
    Seq((2L, "beta", "en")).toDF("doc_id", "text", "lang")
      .write.mode("append").parquet(dir)
    val merged = Tables.loadMerged(spark, dir)
    assert(merged.columns.sorted.toSeq === Seq("doc_id", "lang", "text"))
    val byId = merged.collect().map(r => r.getLong(0) -> r.getAs[String]("lang")).toMap
    assert(byId(1L) === null && byId(2L) === "en")
  }

  test("ts repair applies only to the events table, not any long 'ts'") {
    import spark.implicits._
    // a future table whose long ts is ALREADY micros must come back verbatim
    val micros = 1704067200000000L // 2024-01-01T00:00:00 in micros
    val dir = s"$tmp/tsrepair"
    Seq((1L, micros)).toDF("id", "ts")
      .write.mode("overwrite").parquet(s"$dir/ledger.parquet")
    val back = Tables.load(spark, dir, "ledger")
    assert(back.schema("ts").dataType.typeName === "long")
    assert(back.head().getLong(1) === micros)
    // whatever writer generation produced the live testdata, the events
    // table must come back as session-TZ TimestampType
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    assert(ev.schema("ts").dataType.typeName === "timestamp")
  }

  test("a table path rewritten in the same JVM loads with its new schema") {
    import spark.implicits._
    // every layout the loader reads: a directory of part files (ScaleData's
    // df.write), a hive-partitioned directory (whose root lists the same
    // names after every overwrite) and a single parquet file (the fixture
    // testdata)
    val dir = s"$tmp/rewrite"
    val single = s"$dir/single.parquet"
    def write(df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dir/multi.parquet")
      df.withColumn("y", lit(2024)).write.mode("overwrite").partitionBy("y")
        .parquet(s"$dir/part.parquet")
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/staging")
      val part = new java.io.File(s"$dir/staging").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(single),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    write(Seq((1L, "a")).toDF("id", "text"))
    for (name <- Seq("multi", "single"))
      assert(Tables.load(spark, dir, name).columns.toSeq === Seq("id", "text"), name)
    assert(Tables.load(spark, dir, "part").columns.toSeq === Seq("id", "text", "y"))
    write(Seq((2L, "b", "en")).toDF("id", "text", "lang"))
    for (name <- Seq("multi", "single")) {
      val back = Tables.load(spark, dir, name)
      assert(back.columns.toSeq === Seq("id", "text", "lang"), name)
      assert(back.as[(Long, String, String)].collect().toSeq === Seq((2L, "b", "en")), name)
    }
    val part = Tables.load(spark, dir, "part")
    assert(part.columns.toSeq === Seq("id", "text", "lang", "y"))
    assert(part.as[(Long, String, String, Int)].collect().toSeq === Seq((2L, "b", "en", 2024)))
  }

  test("events ts repair: nanos-as-long shape → TimestampType micros") {
    import spark.implicits._
    // the original writer generation: TIMESTAMP(NANOS), which Spark reads
    // as long under the session's nanosAsLong flag. Synthesized as a raw
    // long column (same thing the reader sees); 'events' name triggers the
    // divide-to-micros repair.
    val nanos = 1704067200000000000L // 2024-01-01T00:00:00 UTC in nanos
    val dir = s"$tmp/tsrepair_nanos"
    Seq((1L, nanos)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = Tables.load(spark, dir, "events")
    assert(ev.schema("ts").dataType.typeName === "timestamp")
    assert(ev.select(unix_timestamp(col("ts"))).head().getLong(0) === 1704067200L)
  }

  test("events ts repair: timestamp_ntz shape → TimestampType, same instant") {
    import spark.implicits._
    // the regenerated-testdata writer generation: TIMESTAMP(MICROS) with
    // no tz annotation → Spark reads TimestampNTZType. The repair reads the
    // column as TimestampType, the same micros as UTC instants (the session
    // TZ is UTC, so the wall-clock value IS the instant) — downstream
    // datetime functions and window ops apply.
    val dir = s"$tmp/tsrepair_ntz"
    Seq((1L, "2024-01-01T00:00:00"))
      .toDF("event_id", "raw")
      .select(col("event_id"), to_timestamp_ntz(col("raw")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // written NTZ round-trips as NTZ from the footer…
    assert(spark.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType.typeName === "timestamp_ntz")
    // …and Tables.load normalizes it to session-TZ TimestampType
    val ev = Tables.load(spark, dir, "events")
    assert(ev.schema("ts").dataType.typeName === "timestamp")
    assert(ev.select(unix_timestamp(col("ts"))).head().getLong(0) === 1704067200L)
  }

  test("file-source events stream: streaming flag, ts repair, batch parity") {
    val sf = "/root/testdata/sf0.001"
    val st = Tables.loadEventsStream(spark, sf)
    assert(st.isStreaming)
    assert(st.schema("ts").dataType.typeName === "timestamp")
    // drain with AvailableNow into a memory sink; complete-mode windowed
    // agg must equal the batch computation over the same table
    val agg = graft.streaming.EventStreams.windowedCounts(st,
      window = "1 hour", slide = "1 hour", watermark = "2 hours")
    val q = agg.writeStream.format("memory").queryName("tables_spec_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("tables_spec_stream")
      .orderBy("window_start", "event_type").collect().toSeq
    val want = Tables.load(spark, sf, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("avg_value"))
      .orderBy("window_start", "event_type").collect().toSeq
    assert(got.nonEmpty && got === want)
  }
}
