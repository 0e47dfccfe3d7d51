package graft.taxi

import graft.SparkSpec
import graft.TempDirs.withTempDir

/** Smoke test for the SURVEY.md §7 runner: the full read → clean →
  * feature → partitioned-write → analytics wiring on the fixture.
  */
class RunPipelineSpec extends SparkSpec {

  test("runner produces the partitioned sink and shipped-mode row count") {
    spark // force the shared session so the runner won't stop it
    withTempDir("taxi-run") { out =>
      RunPipeline.main(Array(s"--out=$out"))
      val table = spark.read.parquet(s"$out/taxi")
      // shipped-mode fixture golden (TaxiPipelineSpec asserts the content)
      assert(table.count() === 11)
      // hive layout by date parts, partition columns recovered on read
      assert(new java.io.File(s"$out/taxi/pickup_year=2024").exists())
      assert(table.columns.contains("pickup_year"))
      // the session the spec shares must survive the runner
      assert(!spark.sparkContext.isStopped)
    }
  }

  test("observed stage counts equal the fixture goldens, taken before the sink") {
    val raw = TaxiFixture.raw(spark)
    withTempDir("taxi-run-rows") { out =>
      // a tap upstream of the range-partitioned sink would count every row
      // twice: the partitioner's sampling job re-runs the lineage
      val shipped = RunPipeline.run(raw, s"$out/shipped", strict = false)
      assert(shipped === Seq("raw" -> 22L, "valid_speed_distance" -> 18L,
        "cleaned" -> 11L, "featured" -> 11L))
      assert(spark.read.parquet(s"$out/shipped").count() === 11)

      val strict = RunPipeline.run(raw, s"$out/strict", strict = true)
      val deadBranch = Cleaning.strictBranch(
        Cleaning.cuts(raw).toMap.apply("valid_speed_distance")).count()
      assert(strict === Seq("raw" -> 22L, "valid_speed_distance" -> 18L,
        "strict_branch" -> deadBranch, "cleaned" -> 10L, "featured" -> 10L))
      assert(spark.read.parquet(s"$out/strict").count() === 10)
    }
  }

  test("strict mode applies the dead branch (one fewer fixture row)") {
    spark
    withTempDir("taxi-run-strict") { out =>
      RunPipeline.main(Array(s"--out=$out", "--strict"))
      assert(spark.read.parquet(s"$out/taxi").count() === 10)
    }
  }
}
