package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.taxi.{TaxiFixture, TaxiSchema}

/** Seeded synthetic taxi month: `copies` replicas of the 22 [[TaxiFixture]]
  * scenarios, each copy re-timed and its zones redrawn.
  *
  * Re-timing follows `PipelineBench.monthRaw`: the pickup moves to a
  * hash-chosen whole minute of a 28-day window (January 2024, or December
  * 2023 for the fixture's 2023 row) and the dropoff moves with it, so every
  * duration is kept to the second. Zones are redrawn over 1–265 within
  * their class: an airport zone {1, 132, 138} stays an airport zone, any
  * other zone draws a skewed non-airport zone (index u² of the 262), which
  * gives routes a realistic spread with a few hot pairs. No cleaning rule
  * reads dates or zones, so each stage keeps exactly fixture count ×
  * copies rows, and every airport-keyed answer equals the fixture's.
  */
object MonthGen {
  private val WindowMinutes = 28L * 24 * 60
  private val Airports = TaxiSchema.airportIds
  private val NonAirports = (1 to 265).filterNot(Airports.contains)
  private val Fields = TaxiSchema.raw.fieldNames.toIndexedSeq

  def month(spark: SparkSession, copies: Long, seed: Long): DataFrame = {
    def hash(salt: Int): Column =
      xxhash64((lit(seed) +: lit(salt) +: col("__copy") +: Fields.map(col)): _*)
    def redraw(zone: String, salt: Int): Column = {
      val u = pmod(hash(salt), lit(1L << 20)).cast("double") / (1L << 20)
      when(col(zone).isin(Airports: _*),
        element_at(typedLit(Airports), (pmod(hash(salt), lit(3L)) + 1).cast("int")))
        .otherwise(element_at(typedLit(NonAirports),
          (floor(u * u * NonAirports.size) + 1).cast("int")))
    }
    val p = col("tpep_pickup_datetime")
    val d = col("tpep_dropoff_datetime")
    val base = when(year(p) === 2024, lit("2024-01-01 00:00:00"))
      .otherwise(lit("2023-12-01 00:00:00")).cast("timestamp")
    spark.range(copies).withColumnRenamed("id", "__copy")
      .crossJoin(broadcast(TaxiFixture.raw(spark)))
      .withColumn("__p", timestamp_add("MINUTE", pmod(hash(0), lit(WindowMinutes)), base))
      .withColumn("__d", timestamp_add("SECOND", unix_timestamp(d) - unix_timestamp(p), col("__p")))
      .select(Fields.map {
        case "tpep_pickup_datetime"  => col("__p").as("tpep_pickup_datetime")
        case "tpep_dropoff_datetime" => col("__d").as("tpep_dropoff_datetime")
        case "PULocationID"          => redraw("PULocationID", 1).as("PULocationID")
        case "DOLocationID"          => redraw("DOLocationID", 2).as("DOLocationID")
        case other                   => col(other)
      }: _*)
  }
}
