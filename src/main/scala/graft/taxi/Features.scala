package graft.taxi

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derived feature columns (reference cells 86-88, 102, 104, 118). */
object Features {

  /** average_speed = trip_distance / time_take_min — NOTE the units are
    * miles per MINUTE even though downstream aliases say "mph" (reference
    * quirk, cell 86 vs cell 114's avg_speed_mph alias); kept verbatim for
    * golden parity (BASELINE.md Q5 rows).
    */
  def withAverageSpeed(df: DataFrame): DataFrame =
    df.withColumn("average_speed", col("trip_distance") / col("time_take_min"))

  /** The notebook's slot of each hour of the day, indexed by the hour
    * (cell 88's when-chain: 0-5 Night, 6-11 Morning, 12-16 Afternoon,
    * 17-20 Evening, the rest LateNight).
    */
  private val slotOfHour: Seq[String] = (0 until 24).map {
    case h if h <= 5  => "Night"
    case h if h <= 11 => "Morning"
    case h if h <= 16 => "Afternoon"
    case h if h <= 20 => "Evening"
    case _            => "LateNight"
  }

  /** pickup_hour_of_day, pickup_day_of_week (1=Sunday, Spark convention),
    * time_of_day_slot (cells 87-88). The slot is one lookup in a 24-entry
    * literal array ([[slotOfHour]]) rather than the notebook's four-way
    * when-chain: the chain's range tests were a large share of the fused
    * clean+features method, which must stay under HotSpot's 8,000-bytecode
    * compile limit. A null hour falls to LateNight, as the chain's
    * otherwise did, so the slot column stays non-nullable.
    */
  def withTimeFeatures(df: DataFrame): DataFrame =
    df.withColumn("pickup_hour_of_day", hour(col("tpep_pickup_datetime")))
      .withColumn("pickup_day_of_week", dayofweek(col("tpep_pickup_datetime")))
      .withColumn("time_of_day_slot",
        coalesce(element_at(typedLit(slotOfHour), col("pickup_hour_of_day") + 1),
          lit("LateNight")))

  /** tip_percent = round(tip/total·100, 2) — Q1's definition (cell 102).
    * Distinct from Q8's tip_pct (tip/fare, cell 147); both exist in the
    * reference and both are exposed, under their reference names.
    */
  def withTipPercent(df: DataFrame): DataFrame =
    df.withColumn("tip_percent",
      round(col("tip_amount") / col("total_amount") * 100, 2))

  /** is_airport_pickup flag from the hardcoded airport list (cell 104). */
  def withAirportPickupFlag(df: DataFrame): DataFrame =
    df.withColumn("is_airport_pickup",
      col("PULocationID").isin(TaxiSchema.airportIds: _*))

  /** Partition columns for the final sink (cell 118). */
  def withDateParts(df: DataFrame): DataFrame =
    df.withColumn("pickup_year", year(col("tpep_pickup_datetime")))
      .withColumn("pickup_month", month(col("tpep_pickup_datetime")))
      .withColumn("pickup_day", dayofmonth(col("tpep_pickup_datetime")))
}
