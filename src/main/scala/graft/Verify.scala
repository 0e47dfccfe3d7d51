package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // one config source for every entry point (UTC, AQE, non-ANSI,
    // nanos-as-long, extensions): verified plans = benched plans
    val spark = GraftSession.builder("graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional comma-separated filter for local iteration (driver sets none)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** Writes every catalog entry's result (only the named ones when `only`
    * is set) as one parquet file set under `outDir/<name>`, then
    * `oracle_sql.json` (every entry's oracle, whatever the filter) and
    * `flags.json`. A failing entry is reported on stderr and skipped, so
    * the compare shows it as missing output. Returns the failed names.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        val err =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            None
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            Some(name)
          }
        // correctness runs are untimed: release operator-internal caches per
        // query so the ~90 dumps never accumulate sketch tables in one JVM
        graft.operators.OperatorCaches.releaseAll()
        err
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // flags.json rides beside the dumps so a CORRECTNESS reader sees which
    // green rows are retained scale counter-examples (Q.counterExample)
    // without opening the catalog source — the same list bench_full.json carries
    val flags = queries.QueryCatalog.all.filter(_.counterExample)
      .map(qq => q(qq.name)).mkString("{\"counterexamples\": [", ",", "]}")
    Files.writeString(Paths.get(s"$outDir/flags.json"), flags)
    failed
  }
}
