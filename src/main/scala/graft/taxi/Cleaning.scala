package graft.taxi

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The reference's cleaning lineage (SURVEY.md §2l), one pure
  * DataFrame => DataFrame stage per rule. Semantics — including the
  * load-bearing three-valued-logic quirks — follow the notebook cell by
  * cell; each function cites its cell.
  *
  * Scale notes: every stage is a narrow filter/projection over the fact
  * table — no shuffles anywhere in cleaning, so the whole pipeline fuses
  * into one WholeStageCodegen pass over the scan at any data size, and all
  * predicates are Parquet-pushdown-eligible where they touch raw columns.
  */
object Cleaning {

  /** Minutes from `pickup` to `dropoff`, from whole epoch seconds — the
    * value of the notebook's unix_timestamp delta for any timestamp after
    * 1970 (before it, the cast floors where unix_timestamp truncates
    * toward zero). A plain cast to long is
    * the smallest code Spark generates for it, and the optimizer inlines
    * this expression into about ten predicate positions of the fused
    * clean+features method, which must stay under HotSpot's 8,000-bytecode
    * compile limit. The cast needs TimestampType input: repair a raw
    * TIMESTAMP_NTZ file through `Tables.repairedRead`.
    */
  private def durationMin(pickup: Column, dropoff: Column): Column =
    (dropoff.cast("long") - pickup.cast("long")) / 60.0

  /** Trip duration in minutes from the timestamp delta (cell 23), through
    * `durationMin`.
    */
  def withDuration(df: DataFrame): DataFrame =
    df.withColumn("time_take_min",
      durationMin(col("tpep_pickup_datetime"), col("tpep_dropoff_datetime")))

  /** Keep average speed ≤ 50 mph (cell 26). Quirk kept verbatim: a
    * zero-duration trip makes the divisor 0, and Spark SQL's Divide (ANSI
    * off) returns NULL for x/0 — so the predicate is NULL and the row is
    * DROPPED. (Not Infinity/NaN: that's Java double semantics, not Spark
    * SQL's.) Do not "fix"; golden counts depend on the drop.
    */
  def filterValidSpeed(df: DataFrame): DataFrame =
    df.filter(col("trip_distance") / (col("time_take_min") / 60) <= 50)

  /** Keep trip_distance ≤ 50 miles (cell 29). */
  def filterValidDistance(df: DataFrame): DataFrame =
    df.filter(col("trip_distance") <= 50)

  /** Dead branch (cells 34/40/42): year-2024 filter on both timestamps,
    * swap pickup/dropoff when duration is negative (recomputing duration),
    * then duration < 300 min. The shipped reference computes this but
    * restarts from df_valid_distance at cell 49, so it only applies in
    * strict mode (SURVEY.md §2l step 4).
    */
  def strictBranch(df: DataFrame): DataFrame = {
    val in2024 = df.filter(
      year(col("tpep_pickup_datetime")) === 2024 &&
        year(col("tpep_dropoff_datetime")) === 2024)
    val swapped = in2024
      .withColumn("corrected_pickup",
        when(col("time_take_min") < 0, col("tpep_dropoff_datetime"))
          .otherwise(col("tpep_pickup_datetime")))
      .withColumn("corrected_dropoff",
        when(col("time_take_min") < 0, col("tpep_pickup_datetime"))
          .otherwise(col("tpep_dropoff_datetime")))
      .withColumn("time_take_min_corrected",
        durationMin(col("corrected_pickup"), col("corrected_dropoff")))
      .drop("tpep_pickup_datetime", "tpep_dropoff_datetime", "time_take_min")
      .withColumnRenamed("corrected_pickup", "tpep_pickup_datetime")
      .withColumnRenamed("corrected_dropoff", "tpep_dropoff_datetime")
      .withColumnRenamed("time_take_min_corrected", "time_take_min")
    swapped.filter(col("time_take_min") < 300)
  }

  /** Zero-distance triage (cell 49): the 6-rule keep/drop classifier.
    * Kept rules: flag-drop rides (<2 min, fare ≥ 4.50, card/cash) and
    * rounding-artifact crawls (2-10 min, fare ≥ 4.50, card/cash); dropped:
    * cancel/no-charge/void payment types, meter glitches (≥10 min, fare 0),
    * high-fare short-time anomalies (<5 min, fare > 20); everything else
    * keeps. Null predicates fall through to the otherwise-keep.
    */
  def triageZeroDistance(df: DataFrame): DataFrame = {
    val zero = col("trip_distance") === 0
    val classified = df.withColumn("keep_or_drop",
      when(zero && col("time_take_min") < 2 &&
        col("fare_amount") >= 4.50 && col("payment_type").isin(1, 2), "keep")
        .when(zero && col("time_take_min") >= 2 && col("time_take_min") < 10 &&
          col("fare_amount") >= 4.50 && col("payment_type").isin(1, 2), "keep")
        .when(zero && col("payment_type").isin(3, 4, 6), "drop")
        .when(zero && col("time_take_min") >= 10 && col("fare_amount") === 0, "drop")
        .when(zero && col("time_take_min") < 5 && col("fare_amount") > 20, "drop")
        .otherwise("keep"))
    classified.filter(col("keep_or_drop") === "keep").drop("keep_or_drop")
  }

  /** Sign-fix the 9 monetary columns when negative and the customer
    * actually paid (payment_type ∈ {0,1,2}) (cell 55).
    */
  def fixNegativeAmounts(df: DataFrame): DataFrame =
    TaxiSchema.monetaryCols.foldLeft(df) { (d, c) =>
      d.withColumn(c,
        when(col(c) < 0 && col("payment_type").isin(TaxiSchema.paidPaymentTypes: _*),
          -col(c)).otherwise(col(c)))
    }

  /** TLC meter-model fare validation (cell 58). expected_meter_fare is NULL
    * for RatecodeID ∉ {1,2,3,4} (including null RatecodeID), which makes
    * the band predicate NULL → row silently dropped. This 3VL side effect
    * removes every null-correlated row (reference cell 77 then observes
    * zero nulls) and is required for the golden 2,644,148 count — keep the
    * notebook's ~(A|B) precedence exactly.
    */
  def filterFareBand(df: DataFrame): DataFrame = {
    val withModel = df
      .withColumn("distance_fare", col("trip_distance") * lit(3.50))
      .withColumn("time_fare", col("time_take_min") * lit(0.70))
      .withColumn("meter_increment", greatest(col("distance_fare"), col("time_fare")))
      .withColumn("expected_meter_fare",
        when(col("RatecodeID") === 1, lit(3.00) + col("meter_increment"))
          .when(col("RatecodeID") === 2, lit(70.00))
          .when(col("RatecodeID") === 3, lit(3.00) + col("meter_increment") + lit(20.00))
          .when(col("RatecodeID") === 4, lit(3.00) + col("meter_increment") * lit(1.5))
          .otherwise(lit(null)))
    withModel
      .filter(!(col("fare_amount") > col("expected_meter_fare") + lit(10.00) ||
        col("fare_amount") < col("expected_meter_fare") - lit(1.00)))
      .drop("expected_meter_fare", "meter_increment", "distance_fare", "time_fare")
  }

  /** Keep trips with at least one passenger (cell 69). */
  def filterPassengers(df: DataFrame): DataFrame =
    df.filter(col("passenger_count") > 0)

  /** Type repairs (cells 80/81): long→int code columns, timestamps
    * normalized via to_timestamp.
    */
  def castTypes(df: DataFrame): DataFrame =
    df.withColumn("passenger_count", col("passenger_count").cast("int"))
      .withColumn("RatecodeID", col("RatecodeID").cast("int"))
      .withColumn("payment_type", col("payment_type").cast("int"))
      .withColumn("tpep_pickup_datetime", to_timestamp(col("tpep_pickup_datetime")))
      .withColumn("tpep_dropoff_datetime", to_timestamp(col("tpep_dropoff_datetime")))

  /** The program's cleaning and feature chain as named stages, each the
    * step from the stage before it: `raw`, `valid_speed_distance`, in
    * strict mode `strict_branch`, `cleaned`, `featured`. Shipped mode
    * (strict=false) restarts cell 49 from df_valid_distance, exactly like
    * the notebook; strict mode also applies the dead branch (year filter,
    * timestamp swap, <300 min). The stage names are the notebook's count
    * checkpoints (cells 5/43/103).
    */
  def stages(strict: Boolean = false): Seq[(String, DataFrame => DataFrame)] =
    Seq[(String, DataFrame => DataFrame)](
      "raw" -> identity,
      "valid_speed_distance" -> (df => filterValidDistance(filterValidSpeed(withDuration(df)))),
      "strict_branch" -> (strictBranch _),
      "cleaned" -> (df => filterPassengers(filterFareBand(fixNegativeAmounts(
        triageZeroDistance(df))))),
      "featured" -> (df => Features.withTimeFeatures(Features.withAverageSpeed(castTypes(df))))
    ).filter { case (name, _) => strict || name != "strict_branch" }

  /** Every stage's frame, in chain order. `tap` wraps each frame as it is
    * built, so later stages build on the tapped one.
    */
  def cuts(raw: DataFrame, strict: Boolean = false,
      tap: (String, DataFrame) => DataFrame = (_, df) => df): Seq[(String, DataFrame)] =
    stages(strict).scanLeft("" -> raw) { case ((_, df), (name, step)) =>
      name -> tap(name, step(df))
    }.tail

  /** The whole chain: the fold of [[stages]]. */
  def pipeline(raw: DataFrame, strict: Boolean = false): DataFrame =
    stages(strict).foldLeft(raw) { case (df, (_, step)) => step(df) }

  /** Every stage's row count from one noop pass over the chain, each taken
    * by a `Dataset.observe` tap on its stage. The pass must not feed a
    * range-partitioned write: the partitioner's sampling job re-runs the
    * lineage, and the taps would count every row twice.
    */
  def stageRows(raw: DataFrame, strict: Boolean = false): Seq[(String, Long)] = {
    val taps = stages(strict).map { case (name, _) => name -> Observation(name) }.toMap
    val staged = cuts(raw, strict, (name, df) => df.observe(taps(name), count(lit(1)).as("rows")))
    staged.last._2.write.format("noop").mode("overwrite").save()
    staged.map { case (name, _) => name -> taps(name).get("rows").asInstanceOf[Long] }
  }
}
