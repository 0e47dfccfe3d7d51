package graft.taxi

import graft.SparkSpec
import graft.TempDirs.withTempDir
import graft.tools.Codegen

/** The session's generated-class cache holds a whole pass of the taxi
  * program, so a repeated pass reuses its compiled code. With Spark's
  * default 100 entries the fixture pass's ~110 classes cycle through the
  * LRU and the repeat recompiles most of them.
  */
class CodegenCacheSpec extends SparkSpec {

  /** One fixture pass: clean + features into the program's sink, the
    * table read back, every analytic to the noop sink.
    */
  private def pass(): Unit = {
    withTempDir("taxi-codegen") { out =>
      RunPipeline.sink(Cleaning.pipeline(TaxiFixture.raw(spark)), out)
      val table = spark.read.parquet(out)
      Analytics.queries.foreach { case (_, q) =>
        q(table).write.mode("overwrite").format("noop").save()
      }
    }
  }

  test("a repeated taxi pass compiles no generated code") {
    // nothing is asserted of the first pass: earlier suites in this JVM
    // may have compiled some of its classes already
    pass()
    val before = Codegen.compiles
    pass()
    assert(Codegen.compiles - before === 0L)
  }
}
