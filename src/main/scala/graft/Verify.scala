package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each catalog entry's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // optional comma-separated filter for local iteration (a full run
    // sets none); an unknown name fails here, before any Spark work
    val entries = queries.QueryCatalog.select(sys.env.get("SPARK_GRAFT_ONLY"))
    // one config source for every entry point (UTC, AQE, non-ANSI,
    // nanos-as-long, extensions): verified plans = benched plans
    val spark = GraftSession.builder("graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, sfDir, outDir, entries)
    spark.stop()
  }

  /** Writes each of `entries`' results as one parquet file set under
    * `outDir/<name>`, then `oracle_sql.json` (every catalog entry's
    * oracle, whatever the selection) and `flags.json`. A failing entry is
    * reported on stderr and skipped, so the compare shows it as missing
    * output. Returns the failed names.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      entries: Seq[queries.Q]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = entries.flatMap { e =>
      val err =
        try {
          e.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/${e.name}")
          None
        } catch { case t: Throwable =>
          System.err.println(s"[verify] ${e.name} failed: ${t.getMessage}")
          Some(e.name)
        }
      // correctness runs are untimed: release operator-internal caches per
      // query so the ~90 dumps never accumulate sketch tables in one JVM
      graft.operators.OperatorCaches.releaseAll()
      err
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.js(k)}: ${Bench.js(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // flags.json rides beside the dumps so a CORRECTNESS reader sees which
    // green rows are retained scale counter-examples (Q.counterExample)
    // without opening the catalog source — the same list bench_full.json carries
    val flags = queries.QueryCatalog.all.filter(_.counterExample)
      .map(qq => Bench.js(qq.name)).mkString("{\"counterexamples\": [", ",", "]}")
    Files.writeString(Paths.get(s"$outDir/flags.json"), flags)
    failed
  }
}
