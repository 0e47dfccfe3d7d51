package graft.taxi

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's analytics query set Q1-Q8 (SURVEY.md §2l step 11), each
  * a pure function over the cleaned frame. Aggregations are hash aggs
  * (partial → shuffle on the group key → final); top-k queries plan as
  * TakeOrderedAndProject, so only k rows ever reach the driver. The
  * ordered aggregates whose row count is bounded by their key domain (Q1,
  * Q3, Q5, Q6, Q8 and the duration/tip correlation) sort in the final
  * aggregate's one task (`sortBounded`), so their plans carry no range
  * exchange and run no sampling job.
  */
object Analytics {

  import TaxiSchema.airportIds

  /** The program's ten analytics by name, in notebook order: Q1–Q8, the
    * duration/tip correlation and the airport share, each over the
    * featured frame.
    */
  val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "q1_tip_pct" -> q1TipPctByAirportPickup,
    "q2_route_duration" -> q2AvgDurationByRoute,
    "q3_payment_count" -> q3CountByPaymentType,
    "q4_payment_rank" -> q4PaymentRankByRateCode,
    "q5_congestion" -> q5Congestion,
    "q6_fare_slot_dow" -> q6FareBySlotAndDow,
    "q7_top_routes" -> (q7TopRoutes(_)),
    "q8_airport_stats" -> q8AirportVsNonAirport,
    "corr_duration_tip" -> corrDurationTipByPayment,
    "airport_share" -> airportShare)

  /** `df` sorted by `cols` in one task: the partitions are merged without a
    * shuffle, so the plan has no range exchange and Spark runs no
    * `RangePartitioner` sampling job or extra stage for the sort.
    *
    * Only for a post-aggregate whose row count is bounded by its key
    * domain: the airport flag, the payment types, the slots × weekdays (at
    * most 35 rows) or the trip type. Never use it on a frame that grows
    * with the data, such as Q2's up to 265² routes: one task would then
    * sort every row, a single-partition cliff at scale.
    */
  private def sortBounded(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).orderBy(cols: _*)

  /** Share of trips picking up at an airport, percent (cell 101), as a
    * one-row frame; 0.0 for an empty frame (sum over zero rows is null).
    */
  def airportShare(df: DataFrame): DataFrame = {
    val n = count(lit(1))
    df.agg(when(n === 0, lit(0.0))
      .otherwise(sum(when(col("PULocationID").isin(airportIds: _*), 1L).otherwise(0L)) / n * 100)
      .as("airport_pickup_share_pct"))
  }

  /** [[airportShare]]'s value. */
  def airportPickupShare(df: DataFrame): Double = airportShare(df).head().getDouble(0)

  /** Q1 (cells 102-105): average tip% (tip/total·100, rounded per-row) by
    * airport-pickup flag.
    */
  def q1TipPctByAirportPickup(df: DataFrame): DataFrame = sortBounded(
    Features.withAirportPickupFlag(Features.withTipPercent(df))
      .groupBy("is_airport_pickup")
      .agg(avg("tip_percent").as("average_tip_percentage")),
    col("is_airport_pickup"))

  /** Q2 (cell 107): average duration per (PU, DO) pair. */
  def q2AvgDurationByRoute(df: DataFrame): DataFrame =
    df.groupBy("PULocationID", "DOLocationID")
      .agg(avg("time_take_min").as("avg_duration_min"))

  /** Q3 (cell 109): trips per payment type, counted via count(RatecodeID)
    * (count-ignores-null, exactly as the reference wrote it).
    */
  def q3CountByPaymentType(df: DataFrame): DataFrame = sortBounded(
    df.groupBy("payment_type")
      .agg(count(col("RatecodeID")).as("trip_count")),
    col("payment_type"))

  /** Q4 (cell 111): payment-type popularity rank within each rate code,
    * then code→label recodings (labels only for the codes the reference
    * labels; the rest become null, as there).
    */
  def q4PaymentRankByRateCode(df: DataFrame): DataFrame = {
    val counts = df.groupBy("RatecodeID", "payment_type").count()
    val w = Window.partitionBy("RatecodeID").orderBy(col("count").desc)
    val ranked = counts.withColumn("rank", rank().over(w))
    val rateLabel = TaxiSchema.rateCodeLabels.foldLeft(lit(null).cast("string")) {
      case (acc, (code, label)) => when(col("RatecodeID") === code, label).otherwise(acc)
    }
    val payLabel = TaxiSchema.paymentTypeLabels.foldLeft(lit(null).cast("string")) {
      case (acc, (code, label)) => when(col("payment_type") === code, label).otherwise(acc)
    }
    ranked
      .withColumn("RatecodeID", rateLabel)
      .withColumn("payment_type", payLabel)
  }

  /** Q5 (cells 114/141): congestion profile per time-of-day slot. The
    * avg_speed_mph alias is the reference's (units actually mi/min —
    * Features.withAverageSpeed).
    */
  def q5Congestion(df: DataFrame): DataFrame = sortBounded(
    df.groupBy("time_of_day_slot")
      .agg(
        avg("average_speed").as("avg_speed_mph"),
        avg("time_take_min").as("avg_duration_min"),
        count(lit(1)).as("trip_count")),
    col("time_of_day_slot"))

  /** Q6 (cell 138): average fare + trip count by (slot, day-of-week). */
  def q6FareBySlotAndDow(df: DataFrame): DataFrame = sortBounded(
    df.groupBy("time_of_day_slot", "pickup_day_of_week")
      .agg(
        round(avg("fare_amount"), 2).as("avg_fare"),
        count(lit(1)).as("trip_count")),
    col("pickup_day_of_week"), col("time_of_day_slot"))

  /** Q7 (cells 140/144): top-10 routes during peak slots. The cell-144
    * variant also renders a "route" label; both peak sets appear in the
    * reference — pass the one you need.
    */
  def q7TopRoutes(df: DataFrame, peaks: Seq[String] = Seq("Afternoon", "Evening")): DataFrame =
    df.filter(col("time_of_day_slot").isin(peaks: _*))
      .groupBy("PULocationID", "DOLocationID")
      .agg(count(lit(1)).as("trip_count"))
      .withColumn("route", concat_ws(" to ", col("PULocationID"), col("DOLocationID")))
      .orderBy(col("trip_count").desc)
      .limit(10)

  /** Correlation of duration and tip per payment type (cell 146). */
  def corrDurationTipByPayment(df: DataFrame): DataFrame = sortBounded(
    df.groupBy("payment_type")
      .agg(
        corr(col("time_take_min"), col("tip_amount")).as("corr_duration_tip"),
        round(avg("time_take_min"), 2).as("avg_duration"),
        round(avg("tip_amount"), 2).as("avg_tip")),
    col("corr_duration_tip").desc)

  /** Q8 (cell 147): airport vs non-airport trips (either endpoint), with
    * the second tip definition tip_pct = tip/fare·100 when fare>0.
    */
  def q8AirportVsNonAirport(df: DataFrame): DataFrame = {
    val tagged = df
      .withColumn("trip_type",
        when(col("PULocationID").isin(airportIds: _*) ||
          col("DOLocationID").isin(airportIds: _*), "airport")
          .otherwise("non_airport"))
      .withColumn("tip_pct",
        when(col("fare_amount") > 0,
          round(col("tip_amount") / col("fare_amount") * 100, 2))
          .otherwise(lit(null)))
    sortBounded(
      tagged.groupBy("trip_type")
        .agg(
          round(avg("trip_distance"), 2).as("avg_distance_miles"),
          round(avg("fare_amount"), 2).as("avg_fare_usd"),
          round(avg("tip_pct"), 2).as("avg_tip_percentage"),
          count(lit(1)).as("total_trips")),
      col("trip_type"))
  }
}
