package graft.streaming

import graft.SparkSpec
import graft.queries.QueryCatalog
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.StreamingQueryException

/** Every catalog streaming entry runs through [[StreamScale.drain]]: run
  * twice in one JVM, it must give the same rows, leave no query active, no
  * state-store maintenance running (the providers were unloaded), and hand
  * the session back with its own shuffle-partition and state-store
  * settings, also when the query fails.
  */
class StreamEntriesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val scopedKeys = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass")

  private def sessionConf(): Seq[Option[String]] =
    scopedKeys.map(spark.conf.getOption)

  private def assertReleased(before: Seq[Option[String]]): Unit = {
    assert(spark.streams.active.isEmpty)
    assert(!StateStore.isMaintenanceRunning)
    assert(sessionConf() === before)
  }

  private val entries = QueryCatalog.all.filter(_.name.startsWith("q_stream_"))

  test("the catalog has ten streaming entries") {
    assert(entries.size === 10, entries.map(_.name))
  }

  for (q <- entries) {
    test(s"${q.name} drains twice to the same rows and restores the session") {
      assume(new java.io.File(dir).isDirectory, s"$dir is absent")
      val before = sessionConf()
      def run(): Seq[String] = {
        val rows = q.fn(spark, dir).collect().map(_.toString).toSeq
        assertReleased(before)
        rows
      }
      val first = run()
      assert(run() === first)
    }
  }

  test("a failing query is rethrown, stopped, and the session restored") {
    assume(new java.io.File(dir).isDirectory, s"$dir is absent")
    val before = sessionConf()
    val boom = udf((n: Long) =>
      if (n >= 0L) throw new IllegalStateException("boom") else n)
    // the failure comes AFTER the stateful aggregate has loaded its state
    // store, under the on-heap hint, so both scoped settings and a loaded
    // provider are in force when the batch fails
    val failing = graft.sources.Tables.loadEventsStream(spark, dir)
      .groupBy("user_id").count()
      .select(boom(col("count")).as("x"))
    val e = intercept[StreamingQueryException] {
      StreamScale.drain(spark, dir, "q_stream_failing", failing, "complete",
        heapState = true)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("boom"))))
    assertReleased(before)
  }
}
