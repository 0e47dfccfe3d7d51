package graft.taxi

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Fixture proportionality: a synthetic month of `copies` re-timed
  * replicas of the 22 fixture scenarios must keep exactly fixture count ×
  * copies rows at every stage of the chain. No cleaning rule may read the
  * absolute date — speed, distance, triage, sign fix, fare band and
  * passengers depend only on durations, amounts and codes — so a
  * mismatch means a rule picked up a date dependence.
  */
class ProportionalitySpec extends SparkSpec {
  import ProportionalitySpec.monthRaw

  private val Copies = 200L

  for (strict <- Seq(false, true))
    test(s"every stage count is the fixture's x $Copies (strict=$strict)") {
      val fixture = Cleaning.stageRows(TaxiFixture.raw(spark), strict)
      val month = Cleaning.stageRows(monthRaw(spark, Copies), strict)
      month.zip(fixture).foreach { case ((name, got), (_, golden)) =>
        assert(got === golden * Copies, s"stage $name")
      }
    }
}

object ProportionalitySpec {

  /** `copies` re-timed replicas of every fixture scenario. Each pickup
    * moves to a hash-chosen whole minute of a 28-day window and its
    * dropoff moves with it, so durations keep to the second. The
    * fixture's 2023 row re-times within December 2023, so the strict
    * branch's year gate still drops it.
    */
  def monthRaw(spark: SparkSession, copies: Long): DataFrame = {
    val p = col("tpep_pickup_datetime")
    val d = col("tpep_dropoff_datetime")
    // 28 days of whole minutes: max dropoff = Jan 29 + 2 h, inside the month
    val shift = pmod(xxhash64(col("__copy"), p, d, col("trip_distance"),
      col("fare_amount"), col("RatecodeID"), col("payment_type"),
      col("PULocationID")), lit(28L * 24 * 60))
    val base = when(year(p) === 2024, lit("2024-01-01 00:00:00"))
      .otherwise(lit("2023-12-01 00:00:00")).cast("timestamp")
    spark.range(copies).withColumnRenamed("id", "__copy")
      .crossJoin(broadcast(TaxiFixture.raw(spark)))
      .withColumn("__p", timestamp_add("MINUTE", shift, base))
      .withColumn("__d", timestamp_add("SECOND", unix_timestamp(d) - unix_timestamp(p), col("__p")))
      .select(TaxiSchema.raw.fieldNames.map {
        case "tpep_pickup_datetime"  => col("__p").as("tpep_pickup_datetime")
        case "tpep_dropoff_datetime" => col("__d").as("tpep_dropoff_datetime")
        case other                   => col(other)
      }.toIndexedSeq: _*)
  }
}
