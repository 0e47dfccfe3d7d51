package graft.queries

import graft.{SparkSpec, Verify}
import graft.TempDirs.withTempDir

import scala.sys.process._

/** Every catalog entry matches its DuckDB oracle: `Verify.dump` writes the
  * whole catalog at sf0.01 and `tools/compare_oracle.py` compares every
  * value of every entry — the same dump and compare as a full
  * `runMain graft.Verify` run. sf0.01, because the auto-banding oracles are
  * spliced for its 500-row embedding corpus.
  */
class CatalogOracleSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.01"

  test("every catalog entry matches its DuckDB oracle at sf0.01") {
    val entries = QueryCatalog.all
    assert(entries.filter(_.oracle.isEmpty).map(_.name).isEmpty,
      "every catalog entry needs an oracle")
    withTempDir("oracle") { out =>
      assert(Verify.dump(spark, sf, out, entries).isEmpty)
      val log = new StringBuilder
      val code = Seq("python3", "tools/compare_oracle.py", sf, out)
        .!(ProcessLogger(l => log.append(l).append('\n'),
          l => log.append(l).append('\n')))
      assert(code === 0, log)
      val lines = log.toString.linesIterator.toSeq
      assert(lines.contains(s"OK ${entries.size}"), log)
      assert(lines.contains("BAD 0"), log)
    }
  }
}
