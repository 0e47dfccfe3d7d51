package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{count, lit}

import graft.sources.Tables
import graft.taxi.{Analytics, Cleaning, Features, TaxiFixture}

/** The taxi program's pieces as the taxi workload uses them. */
object Taxi {
  val Raw = "taxi_raw"

  /** Fixture copies in the synthetic month: 22 × 4,000 = 88,000 raw rows.
    * Set by the time budget, not by traffic: the recurring benchmark makes
    * 48 runs and two builds in under 3,420 s, about 68 s a run. On a 4-core
    * host a run at 4,000 copies took 53–57 s on average, at 8,000 copies
    * 67–96 s. A month-scale run (140,000 copies, the 3.08M rows of
    * `PipelineBench`) edits this constant.
    */
  val Copies = 4000L

  /** The seeded raw month as parquet: the input every pass reads. */
  def writeRaw(run: Run): Unit =
    MonthGen.month(run.spark, Copies, run.seed).write.mode("overwrite")
      .parquet(s"${run.work}/$Raw.parquet")

  /** The paper's final sink: y/m/d partition dirs, rows sorted by route. */
  def sink(featured: DataFrame, path: String): Unit =
    Tables.writePartitioned(Features.withDateParts(featured), path,
      partitionCols = Seq("pickup_year", "pickup_month", "pickup_day"),
      sortCols = Seq("PULocationID", "DOLocationID"))

  val StageNames: Seq[String] = Seq("raw", "valid_speed_distance", "cleaned", "featured")

  /** The two intermediate cuts of the shipped (non-strict) `Cleaning.pipeline`
    * chain, `valid_speed_distance` and `cleaned`; `tap` wraps each cut.
    * The library exposes no cut of its chain, so this re-types its steps
    * up to `cleaned`. The featured frame is always `Cleaning.pipeline`
    * itself, so a change of the chain can leave only these two cuts stale.
    */
  def cuts(raw: DataFrame, tap: (String, DataFrame) => DataFrame = (_, df) => df): (DataFrame, DataFrame) = {
    val valid = tap("valid_speed_distance",
      Cleaning.filterValidDistance(Cleaning.filterValidSpeed(Cleaning.withDuration(raw))))
    val cleaned = tap("cleaned", Cleaning.filterPassengers(Cleaning.filterFareBand(
      Cleaning.fixNegativeAmounts(Cleaning.triageZeroDistance(valid)))))
    (valid, cleaned)
  }

  /** Rows of every stage, from `Dataset.observe`: raw and featured on
    * `Cleaning.pipeline` itself, the two cuts on [[cuts]], one noop pass each.
    */
  def observedRows(raw: DataFrame): Seq[(String, Long)] = {
    val obs = StageNames.map(n => n -> Observation(n)).toMap
    def tap(n: String, df: DataFrame): DataFrame = df.observe(obs(n), count(lit(1)).as("rows"))
    Probe.noop(tap("featured", Cleaning.pipeline(tap("raw", raw))))
    Probe.noop(cuts(raw, tap)._2)
    StageNames.map(n => n -> obs(n).get("rows").asInstanceOf[Long])
  }

  /** The ten timed analytics, each a single Spark action. */
  val Queries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "q1_tip_pct" -> Analytics.q1TipPctByAirportPickup,
    "q2_route_duration" -> Analytics.q2AvgDurationByRoute,
    "q3_payment_count" -> Analytics.q3CountByPaymentType,
    "q4_payment_rank" -> Analytics.q4PaymentRankByRateCode,
    "q5_congestion" -> Analytics.q5Congestion,
    "q6_fare_slot_dow" -> Analytics.q6FareBySlotAndDow,
    "q7_top_routes" -> (Analytics.q7TopRoutes(_)),
    "q8_airport_stats" -> Analytics.q8AirportVsNonAirport,
    "corr_duration_tip" -> Analytics.corrDurationTipByPayment)

  /** Parquet files and bytes under `dir`. */
  def parquetFiles(dir: String): (Long, Long) = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
    (files.size.toLong, files.map(Files.size(_)).sum)
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach((p: Path) => Files.delete(p))
  }

  def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
}

/** The paper's program, one pass at a time: read the raw month → clean →
  * features → partitioned sink into a fresh table, then Q1–Q8, the
  * duration/tip correlation and the airport share over that table.
  */
final class TaxiPipeline(run: Run) extends Workload {
  import run._
  private var passNo = 0
  private var lastTable = ""
  /** Month answers of the warm-up pass, checked at the end. */
  private val answers = scala.collection.mutable.Map.empty[String, Seq[Row]]
  private var share = 0.0

  def prepare(): Unit = Taxi.writeRaw(run)

  /** The ETL half: one operation writing a fresh table; returns the table read back. */
  private def etl(): DataFrame = {
    passNo += 1
    val name = s"month_$passNo"
    run.op("etl") {
      val raw = tracer.span("sources.load")(Tables.load(spark, work, Taxi.Raw))
      val featured = tracer.span("taxi.pipeline")(Cleaning.pipeline(raw))
      tracer.span("sources.write_partitioned")(Taxi.sink(featured, s"$work/$name.parquet"))
    }
    if (lastTable.nonEmpty) Taxi.deleteTree(lastTable)
    lastTable = s"$work/$name.parquet"
    tracer.span("sources.load")(Tables.load(spark, work, name))
  }

  def pass(): Unit = {
    val t = etl()
    val timed = Taxi.Queries.map { case (name, q) => name -> (() => Probe.noop(q(t))) } :+
      ("airport_share" -> (() => { Analytics.airportPickupShare(t); () }))
    timed.foreach { case (name, action) =>
      val ms = run.op(name)(action())
      sample(s"taxi.analytics.${name}_ms", ms)
      sample(s"sources.scan_bytes.$name", run.lastOp("scan_bytes").toDouble)
    }
  }

  /** A pass that keeps every answer for the output checks. */
  def warmUp(): Unit = {
    val t = etl()
    Taxi.Queries.foreach { case (name, q) => answers(name) = q(t).collect().toSeq }
    share = Analytics.airportPickupShare(t)
  }

  /** Stage self times: each prefix of the chain to the noop sink, minus the
    * prefix before it; the sink's is the pass's write minus the features
    * prefix, which is `Cleaning.pipeline` itself, as the pass writes it.
    */
  override def probe(): Unit = tracer.span("probe") {
    val (files, bytes) = Taxi.parquetFiles(lastTable)
    sample("sources.write_files", files.toDouble)
    sample("sources.write_bytes", bytes.toDouble)
    val raw = Tables.load(spark, work, Taxi.Raw)
    val (_, cleaned) = Taxi.cuts(raw)
    val featured = Cleaning.pipeline(raw)
    val load = tracer.span("probe.load")(Probe.secondsOf(Probe.noop(raw)))
    val clean = tracer.span("probe.cleaned")(Probe.secondsOf(Probe.noop(cleaned)))
    val feat = tracer.span("probe.featured")(Probe.secondsOf(Probe.noop(featured)))
    sample("sources.load_s", load)
    sample("taxi.cleaning_s", clean - load)
    sample("taxi.features_s", feat - clean)
    sample("sources.write_partitioned_s", tracer.lastS("sources.write_partitioned") - feat)
    tracer.span("probe.observe")(Taxi.observedRows(Tables.load(spark, work, Taxi.Raw)))
      .foreach { case (n, c) => sample(s"taxi.rows.$n", c.toDouble) }
  }

  /** Stage rows against the fixture's × copies, the sink's rows against
    * `featured`, and the month's answers against the 22-row fixture's:
    * counts scale by the copy count, everything else (averages, ranks,
    * labels) is unchanged.
    */
  def checks(): Seq[Check] = {
    val golden = Taxi.observedRows(TaxiFixture.raw(spark))
    val month = Taxi.observedRows(Tables.load(spark, work, Taxi.Raw))
    val featured = month.last._2
    val written = spark.read.parquet(lastTable).count()
    val stageChecks = golden.zip(month).map { case ((n, g), (_, c)) =>
      Check(s"taxi.rows.$n", c == g * Taxi.Copies, s"$c rows, fixture $g x ${Taxi.Copies}")
    } :+ Check("taxi.sink_rows", written == featured, s"$written written, $featured featured")

    val fixture = Features.withDateParts(Cleaning.pipeline(TaxiFixture.raw(spark)))
    val counts = Set("count", "trip_count", "total_trips")
    def tripCounts(name: String): Seq[Long] = answers(name).map(_.getAs[Long]("trip_count"))
    def scaled(name: String): Check = {
      val got = answers(name)
      val exp = Taxi.Queries.toMap.apply(name)(fixture).collect().toSeq
      def key(r: Row): String = r.schema.fieldNames.zipWithIndex
        .collect { case (f, i) if !counts(f) && !r.isNullAt(i) && !r.get(i).isInstanceOf[Double] => r.get(i) }
        .mkString("|")
      val bad = if (got.length != exp.length) Seq(s"${got.length} rows, fixture ${exp.length}")
      else got.sortBy(key).zip(exp.sortBy(key)).flatMap { case (g, e) =>
        g.schema.fieldNames.zipWithIndex.collect {
          case (f, i) if !(
            if (g.isNullAt(i) || e.isNullAt(i)) g.isNullAt(i) && e.isNullAt(i)
            else if (counts(f)) g.getLong(i) == e.getLong(i) * Taxi.Copies
            else g.get(i) match {
              case d: Double => Taxi.close(d, e.getDouble(i))
              case v         => v == e.get(i)
            }) => s"$f: ${g.get(i)} vs fixture ${e.get(i)}"
        }
      }
      Check(s"taxi.$name", bad.isEmpty, bad.take(3).mkString("; "))
    }
    val top = tripCounts("q7_top_routes")
    val shareExp = Analytics.airportPickupShare(fixture)
    stageChecks ++
      Seq("q1_tip_pct", "q3_payment_count", "q4_payment_rank", "q8_airport_stats", "corr_duration_tip")
        .map(scaled) ++
      Seq("q5_congestion", "q6_fare_slot_dow").map(n => Check(s"taxi.$n",
        tripCounts(n).sum == featured, s"trip_count sum ${tripCounts(n).sum}, featured $featured")) :+
      Check("taxi.q7_top_routes", top.size == 10 && top == top.sortBy(-_),
        top.mkString("trip_count ", ",", "")) :+
      Check("taxi.airport_share", Taxi.close(share, shareExp), s"$share vs fixture $shareExp")
  }

  override def extra: Map[String, Any] = Map("copies" -> Taxi.Copies)
}
