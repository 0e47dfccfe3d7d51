package graft.taxi

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.sources.Tables

/** The SURVEY.md §7 "runner": end-to-end wiring of the reference's program
  * — read → clean → feature → partitioned write → Q1–Q8 — with the
  * per-stage counts the notebook takes by hand (cells 5/43/103,
  * W2_NYCTaxi_ETL.ipynb).
  *
  * Usage:
  *   runMain graft.taxi.RunPipeline [--raw=parquetPath] [--out=dir]
  *     [--strict] [--golden]
  *
  * With no --raw the deterministic in-memory fixture runs — a
  * self-contained demo of the whole program. Given the real January-2024
  * TLC file it reproduces the reference's golden stage counts
  * (2,964,624 → 2,644,148 shipped mode; BASELINE.md anchors); add
  * --golden to ASSERT the [[TaxiGoldens]] stage counts (require,
  * fail-fast) — the executable form of BASELINE.md's parity table, same
  * constants as the path-gated GoldenReplaySpec.
  *
  * The stage counts come from one observed noop pass over the chain
  * ([[Cleaning.stageRows]]), then the sink writes the chain again.
  */
object RunPipeline {

  /** The program's final sink (cells 118-119 + 132): hive dirs by the
    * pickup date parts, rows range-partitioned and sorted by (PU, DO) —
    * the Z-order stand-in that lets row-group stats skip by route.
    */
  def sink(featured: DataFrame, path: String): Unit =
    Tables.writePartitioned(Features.withDateParts(featured), path,
      partitionCols = Seq("pickup_year", "pickup_month", "pickup_day"),
      sortCols = Seq("PULocationID", "DOLocationID"))

  /** The raw trip file at `path` with its pickup and dropoff timestamps
    * read as TimestampType ([[Tables.repairedRead]]). The real TLC file
    * stores them as TIMESTAMP_NTZ, which the cleaning chain's duration
    * cast does not accept.
    */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    Tables.repairedRead(spark.read.parquet(path).schema,
      Seq("tpep_pickup_datetime", "tpep_dropoff_datetime"))(spark.read.schema(_).parquet(path))

  /** Clean, feature and sink `raw` into `path`; returns every stage's row
    * count, observed before the sink.
    */
  def run(raw: DataFrame, path: String, strict: Boolean): Seq[(String, Long)] = {
    val rows = Cleaning.stageRows(raw, strict)
    sink(Cleaning.pipeline(raw, strict), path)
    rows
  }

  def main(args: Array[String]): Unit = {
    def flag(name: String): Option[String] =
      args.collectFirst { case a if a.startsWith(s"--$name=") =>
        a.stripPrefix(s"--$name=") }
    val strict = args.contains("--strict")
    val golden = args.contains("--golden")
    val rawPath = flag("raw")
    val outDir = flag("out").getOrElse("/tmp/graft-taxi-out")
    require(!golden || rawPath.isDefined,
      "--golden asserts the real Jan-2024 TLC goldens; pass --raw=<path>")

    // only stop a session this run created — under getOrCreate the runner
    // may be handed a host's live session (tests, notebooks) to leave alone
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = GraftSession.builder("graft-taxi-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val raw = rawPath match {
      case Some(p) => readRaw(spark, p)
      case None    => TaxiFixture.raw(spark)
    }
    val rows = run(raw, s"$outDir/taxi", strict)
    rows.foreach { case (name, n) => println(f"[stage] $name%-28s rows=$n") }
    println(s"[sink] partitioned parquet at $outDir/taxi")

    if (golden) {
      val got = rows.toMap
      // the notebook computes the dead branch even though the shipped
      // lineage restarts from df_valid_distance (cell 49), so shipped mode
      // audits it apart; the golden final count is a shipped-mode anchor
      val deadBranch = got.getOrElse("strict_branch", Cleaning.strictBranch(
        Cleaning.cuts(raw).toMap.apply("valid_speed_distance")).count())
      val checks = Seq(("raw", got("raw"), TaxiGoldens.RawRows),
        ("strict_branch", deadBranch, TaxiGoldens.DeadBranchRows)) ++
        (if (strict) Nil else Seq(("cleaned", got("cleaned"), TaxiGoldens.FinalCleanedRows)))
      checks.foreach { case (name, n, want) =>
        require(n == want, s"GOLDEN MISMATCH at $name: got $n, BASELINE.md says $want")
      }
      println(s"[golden] ${checks.map(_._1).mkString(", ")} match BASELINE.md")
    }

    // the analytics suite over the re-read table (partition recovery +
    // row-group skipping exercised exactly like the reference's re-reads)
    val table = spark.read.parquet(s"$outDir/taxi")
    Analytics.queries.foreach { case (name, q) =>
      val result = q(table).collect()
      println(f"[query] $name%-20s rows=${result.length}")
      // a sample of the headline results, like the notebook's display() cells
      if (name == "q5_congestion" || name == "airport_share")
        result.foreach(r => println(s"        $r"))
    }
    if (!preExisting) spark.stop()
  }
}
