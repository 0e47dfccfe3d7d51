package graft.taxi

import org.apache.spark.sql.types._

/** Schema + coded domains of the NYC Yellow Taxi fact table
  * (reference: raw schema printout W2_NYCTaxi_ETL.ipynb cell 4; TLC code
  * dictionaries W2_NYCTaxi_ETL_Report.md:26-28, 206).
  */
object TaxiSchema {

  /** The 19 raw columns as Parquet infers them (cell 4), after the read's
    * timestamp repair: the raw file's `timestamp_ntz` pickup and dropoff
    * columns become TimestampType in `RunPipeline.readRaw` (the
    * reference's cell 81 to_timestamp repair, session TZ pinned UTC).
    */
  val raw: StructType = StructType(Seq(
    StructField("VendorID", IntegerType),
    StructField("tpep_pickup_datetime", TimestampType),
    StructField("tpep_dropoff_datetime", TimestampType),
    StructField("passenger_count", LongType),
    StructField("trip_distance", DoubleType),
    StructField("RatecodeID", LongType),
    StructField("store_and_fwd_flag", StringType),
    StructField("PULocationID", IntegerType),
    StructField("DOLocationID", IntegerType),
    StructField("payment_type", LongType),
    StructField("fare_amount", DoubleType),
    StructField("extra", DoubleType),
    StructField("mta_tax", DoubleType),
    StructField("tip_amount", DoubleType),
    StructField("tolls_amount", DoubleType),
    StructField("improvement_surcharge", DoubleType),
    StructField("total_amount", DoubleType),
    StructField("congestion_surcharge", DoubleType),
    StructField("Airport_fee", DoubleType)))

  /** Newark=1, JFK=132, LaGuardia=138 — the hardcoded lookup list the
    * reference uses instead of a zone join (cells 101/147).
    */
  val airportIds: Seq[Int] = Seq(1, 132, 138)

  /** RatecodeID → label (cell 111; only codes 1-4 are labeled there —
    * others map to null, mirrored by Analytics.q4).
    */
  val rateCodeLabels: Map[Int, String] = Map(
    1 -> "Standard rate", 2 -> "JFK", 3 -> "Newark", 4 -> "Nassau or Westchester")

  /** payment_type → label (cell 111; 0/5/6 unlabeled → null). */
  val paymentTypeLabels: Map[Int, String] = Map(
    1 -> "Credit card", 2 -> "Cash", 3 -> "No charge", 4 -> "Dispute")

  /** payment types treated as "customer paid" by the sign-fix rule (cell 55). */
  val paidPaymentTypes: Seq[Int] = Seq(0, 1, 2)

  /** The 9 monetary columns the sign-fix sweeps (cell 55). */
  val monetaryCols: Seq[String] = Seq(
    "fare_amount", "extra", "mta_tax", "tip_amount", "tolls_amount",
    "improvement_surcharge", "total_amount", "congestion_surcharge", "Airport_fee")

  /** Zone dimension schema (TLC lookup CSV, README.md:20 — declared by the
    * reference but never joined; exposed here for the real-join path).
    */
  val zone: StructType = StructType(Seq(
    StructField("LocationID", IntegerType),
    StructField("Borough", StringType),
    StructField("Zone", StringType),
    StructField("service_zone", StringType)))
}
