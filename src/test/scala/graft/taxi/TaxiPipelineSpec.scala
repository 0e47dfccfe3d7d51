package graft.taxi

import graft.SparkSpec
import graft.TempDirs.withTempDir
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Per-branch cleaning semantics + pipeline invariants (SURVEY.md §5):
  * each rule of §2l exercised by a dedicated fixture row, including the
  * three-valued-logic drops the golden counts depend on.
  */
class TaxiPipelineSpec extends SparkSpec {

  private lazy val raw = TaxiFixture.raw(spark)
  private lazy val cleaned = Cleaning.pipeline(raw).cache()
  private lazy val validDistance = Cleaning.cuts(raw).toMap.apply("valid_speed_distance")

  test("speed filter drops >50mph, Inf and NaN speeds (cell 26 3VL)") {
    val afterSpeed = Cleaning.filterValidSpeed(Cleaning.withDuration(raw))
    // 22 raw rows; dropped: 60mph, 0/0=NaN, 1mi/0min=Inf (51mi row is legal speed)
    assert(raw.count() === 22)
    assert(afterSpeed.count() === 19)
  }

  test("distance filter drops >50mi (cell 29)") {
    assert(validDistance.count() === 18)
  }

  test("zero-distance triage keeps flag-drop rides, drops void/glitch/anomaly (cell 49)") {
    val triaged = Cleaning.triageZeroDistance(validDistance)
    // drops the 3 zero-distance drop-rule rows (void, meter glitch, high-fare)
    assert(triaged.count() === 15)
    // the rule-1 keeper (0 mi, 1 min, fare 10, card) survives
    assert(triaged.filter(col("trip_distance") === 0).count() === 1)
  }

  test("triage rule 2 (2-10 min crawl keep) and the fall-through keep, branch bounds") {
    import spark.implicits._
    // (time_min, fare, payment) — exercises the two branches the fixture
    // rows never reach, plus their boundary values
    val cases = Seq(
      (5.0, 5.0, 1L),    // 0: rule 2 keep — crawl in [2,10), fare ok, card
      (2.0, 4.50, 2L),   // 1: rule 2 lower bounds inclusive → keep
      (9.9, 4.49, 1L),   // 2: fare < 4.50 misses 1/2; misses drops → fall-through keep
      (15.0, 5.0, 1L),   // 3: no rule matches → fall-through keep
      (15.0, 0.0, 1L),   // 4: rule 4 drop — ≥10 min, fare 0
      (3.0, 25.0, 0L))   // 5: rule 5 drop — <5 min, fare >20
    val df = cases.zipWithIndex.map { case ((t, f, p), i) =>
      (i.toLong, 0.0, t, f, p)
    }.toDF("rid", "trip_distance", "time_take_min", "fare_amount", "payment_type")
    val kept = Cleaning.triageZeroDistance(df)
      .select("rid").collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 1L, 2L, 3L))
  }

  test("sign-fix flips negatives only for paid payment types (cell 55)") {
    val df = Cleaning.fixNegativeAmounts(Cleaning.withDuration(raw))
    assert(df.filter(col("fare_amount") === 14.0 && col("tip_amount") === 3.0)
      .count() >= 6) // the sign-fixed row joined the clean keepers
    assert(df.filter(col("fare_amount") < 0).count() === 0)
  }

  test("fare band drops out-of-band fares AND null-expected rows via 3VL (cell 58)") {
    val pre = Cleaning.fixNegativeAmounts(Cleaning.triageZeroDistance(validDistance))
    val post = Cleaning.filterFareBand(pre)
    // dropped: fare-30 out-of-band, RatecodeID 99, correlated-null row
    assert(post.count() === pre.count() - 3)
    // 3VL side effect: only labeled rate codes survive
    assert(post.filter(!col("RatecodeID").isin(1, 2, 3, 4)).count() === 0)
    assert(post.filter(col("RatecodeID").isNull).count() === 0)
  }

  test("shipped pipeline keeps non-2024 rows; strict mode drops them (dead branch)") {
    assert(cleaned.count() === 11)
    assert(cleaned.filter(year(col("tpep_pickup_datetime")) =!= 2024).count() === 1)
    val strict = Cleaning.pipeline(raw, strict = true)
    assert(strict.count() === 10)
    assert(strict.filter(year(col("tpep_pickup_datetime")) =!= 2024).count() === 0)
  }

  test("cleaned output invariants (FIXTURES.md A3 / reference cell 77)") {
    val n = cleaned.count()
    for (c <- cleaned.columns)
      assert(cleaned.filter(col(c).isNull).count() === 0, s"nulls in $c")
    assert(cleaned.filter(col("passenger_count") <= 0).count() === 0)
    assert(cleaned.filter(col("trip_distance") > 50).count() === 0)
    assert(cleaned.filter(!col("RatecodeID").isin(1, 2, 3, 4)).count() === 0)
    for (c <- Seq("fare_amount", "tip_amount", "total_amount"))
      assert(cleaned.filter(col(c) < 0 && col("payment_type").isin(0, 1, 2)).count() === 0)
    assert(cleaned.filter(
      !col("time_of_day_slot").isin("Night", "Morning", "Afternoon", "Evening", "LateNight"))
      .count() === 0)
    assert(n === 11)
  }

  test("schema repairs: int casts + non-nullable slot (cells 80/81, 88)") {
    val f = cleaned.schema.fields.map(f => f.name -> f).toMap
    assert(f("passenger_count").dataType.typeName === "integer")
    assert(f("RatecodeID").dataType.typeName === "integer")
    assert(f("payment_type").dataType.typeName === "integer")
    assert(!f("time_of_day_slot").nullable)
  }

  test("a timestamp_ntz raw file, through the read's repair, gives the same stages and rows") {
    withTempDir("taxi-ntz") { dir =>
      val ntz = TaxiPipelineSpec.fixtureFile(spark, dir, ntz = true)
      assert(spark.read.parquet(dir).schema("tpep_pickup_datetime").dataType === TimestampNTZType)
      assert(ntz.schema("tpep_pickup_datetime").dataType === TimestampType)
      assert(ntz.schema("tpep_dropoff_datetime").dataType === TimestampType)
      assert(Cleaning.stageRows(ntz) === Seq("raw" -> 22L, "valid_speed_distance" -> 18L,
        "cleaned" -> 11L, "featured" -> 11L))
      def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
      assert(rows(Cleaning.pipeline(ntz)) === rows(cleaned))
    }
  }

  test("slot lookup matches the notebook's hour ranges; a null hour is LateNight") {
    import spark.implicits._
    val pickups = (0 until 24).map(h =>
      Option(java.sql.Timestamp.valueOf(f"2024-01-15 $h%02d:30:00"))) :+ None
    val slots = Features.withTimeFeatures(pickups.toDF("tpep_pickup_datetime"))
      .select("pickup_hour_of_day", "time_of_day_slot").collect()
      .map(r => Option(r.getAs[Integer](0)).map(_.toInt) -> r.getString(1)).toMap
    assert(slots === (0 until 24).map(h => Option(h) -> (
      if (h <= 5) "Night" else if (h <= 11) "Morning" else if (h <= 16) "Afternoon"
      else if (h <= 20) "Evening" else "LateNight")).toMap + (None -> "LateNight"))
  }

  test("average_speed is miles per MINUTE (reference quirk, cell 86)") {
    val r = cleaned.filter(col("trip_distance") === 3.0)
      .select("average_speed").head().getDouble(0)
    assert(math.abs(r - 0.2) < 1e-9) // 3 mi / 15 min
  }

  test("Q5 congestion slots and counts (cells 114/141)") {
    val rows = Analytics.q5Congestion(cleaned).collect()
    val bySlot = rows.map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(bySlot === Map("Night" -> 1L, "Morning" -> 5L, "Afternoon" -> 1L,
      "Evening" -> 2L, "LateNight" -> 2L))
    // slots sorted lexicographically by orderBy
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("Afternoon", "Evening", "LateNight", "Morning", "Night"))
  }

  test("Q7 top routes renders 'PU to DO' labels (cell 144)") {
    val top = Analytics.q7TopRoutes(cleaned, Seq("Morning", "Evening")).collect()
    assert(top.nonEmpty)
    assert(top.head.getAs[String]("route") === "236 to 237")
  }

  test("Q4 ranks payment types within rate codes and recodes labels (cell 111)") {
    val rows = Analytics.q4PaymentRankByRateCode(cleaned).collect()
    val std = rows.filter(_.getAs[String]("RatecodeID") == "Standard rate")
    assert(std.nonEmpty)
    assert(std.map(_.getAs[Int]("rank")).min === 1)
    assert(rows.forall(r => Set("Credit card", "Cash", "No charge", "Dispute", null)
      .contains(r.getAs[String]("payment_type"))))
  }

  test("Q1 and Q8 use their two distinct tip definitions (cells 102 vs 147)") {
    val q1 = Analytics.q1TipPctByAirportPickup(cleaned).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(q1.contains(true) && q1.contains(false))
    // JFK row: tip 14 / total 90 = 15.56% (Q1 def)
    assert(math.abs(q1(true) - 15.56) < 1e-9)
    val q8 = Analytics.q8AirportVsNonAirport(cleaned).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    // airport trips: JFK tip/fare = 20%, Newark 3/51 = 5.88% → avg 12.94
    assert(math.abs(q8("airport") - 12.94) < 1e-9)
  }

  test("airport pickup share (cell 101)") {
    val share = Analytics.airportPickupShare(cleaned)
    assert(math.abs(share - 100.0 / 11) < 1e-9) // 1 of 11 trips
  }

  test("Q2 route durations (cell 107)") {
    val rows = Analytics.q2AvgDurationByRoute(cleaned).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // JFK→UES 40 min; UES→Newark 40 min; UES→UES (15·7 + 25 + 1)/9
    assert(rows.keySet === Set((132, 237), (236, 1), (236, 237)))
    assert(math.abs(rows((132, 237)) - 40.0) < 1e-9)
    assert(math.abs(rows((236, 1)) - 40.0) < 1e-9)
    assert(math.abs(rows((236, 237)) - 131.0 / 9) < 1e-9)
  }

  test("Q3 counts via count(RatecodeID) per payment type (cell 109)") {
    val rows = Analytics.q3CountByPaymentType(cleaned).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows === Map(1 -> 9L, 2 -> 2L))
  }

  test("Q6 fare by slot and day-of-week (cell 138)") {
    val rows = Analytics.q6FareBySlotAndDow(cleaned).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    assert(rows.size === 10)
    // Sunday Evening = the Newark flat-rate trip; Saturday Morning = JFK
    assert(rows(("Evening", 1)) === ((51.0, 1L)))
    assert(rows(("Morning", 7)) === ((70.0, 1L)))
    // Thursday Morning = the slower-route cash trip
    assert(rows(("Morning", 5)) === ((20.0, 1L)))
    // Monday Morning = clean keeper (14) + zero-distance rule-1 keeper (10)
    assert(rows(("Morning", 2)) === ((12.0, 2L)))
  }

  test("corr(duration, tip) per payment type (cell 146)") {
    val rows = Analytics.corrDurationTipByPayment(cleaned).collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    // cash: two points (40 min, 3.0) and (25 min, 0.0) → perfectly linear
    val (c2, d2, t2) = rows(2)
    assert(math.abs(c2 - 1.0) < 1e-9 && d2 === 32.5 && t2 === 1.5)
    // card: 9 points, strongly but not perfectly correlated (JFK outlier)
    val (c1, d1, t1) = rows(1)
    assert(c1 > 0.95 && c1 < 0.96 && d1 === 16.22 && t1 === 4.0)
  }
}

object TaxiPipelineSpec {

  /** The fixture written to a parquet file under `dir` and read back
    * through `RunPipeline.readRaw`; with `ntz` its two timestamps are
    * written as TIMESTAMP_NTZ, as in the real TLC file.
    */
  def fixtureFile(spark: SparkSession, dir: String, ntz: Boolean): DataFrame = {
    val ts = Seq("tpep_pickup_datetime", "tpep_dropoff_datetime")
    val fixture = TaxiFixture.raw(spark)
    (if (ntz) ts.foldLeft(fixture)((df, c) => df.withColumn(c, col(c).cast(TimestampNTZType)))
     else fixture).write.mode("overwrite").parquet(dir)
    RunPipeline.readRaw(spark, dir)
  }
}
