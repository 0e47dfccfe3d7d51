package graft.tools

import graft.GraftSession
import graft.queries.{Q, QueryCatalog}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB wall-time profiler for catalog queries — the measurement tool
  * the optimization guide's §1 empirical loop needs where the Spark UI is
  * disabled (GraftSession pins spark.ui.enabled=false): a listener stamps
  * every job's start/end, so a query that decomposes into dozens of jobs
  * (the iterative graph operators, anything localCheckpoint-heavy) prints
  * its wall-time budget line by line instead of one opaque total.
  *
  * Usage: runMain graft.tools.ProfileJobs <sfDir> q1[,q2,...] [passes]
  *
  * Each query runs `passes` times (default 2 — pass 1 warms caches/JIT,
  * later passes are the steady state the bench's min-of-3 reports); every
  * pass prints its job table (job id, ms, #stages, group tag) plus the
  * pass total, so fixed per-job scheduler overhead separates from data
  * work by inspection. Each pass also prints how many classes it compiled
  * ([[Codegen.compiles]]): a later pass that still compiles is an entry
  * whose generated code misses the class cache on every run.
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    require(args.length >= 2, "usage: ProfileJobs <sfDir> q1[,q2,...] [passes]")
    val entries = QueryCatalog.select(Some(args(1)))
    val passes = args.drop(2).headOption.map(_.toInt).getOrElse(2)
    val spark = GraftSession.local("graft-profile")
    val sc = spark.sparkContext
    val starts =
      scala.collection.concurrent.TrieMap.empty[Int, (Long, Int, String)]
    val done =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Int, String)]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // last stage's callsite names the action that spawned the job —
        // the cheapest way to attribute a job to an operator line
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("")
        starts(js.jobId) = (System.nanoTime(), js.stageIds.size, site)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, nStages, site) =>
          done.add((je.jobId, (System.nanoTime() - t0) / 1000000L, nStages, site))
        }
    })
    for (Q(name, fn, _, _) <- entries) {
      for (p <- 1 to passes) {
        // clear BOTH maps between passes: a start without its end from the
        // previous pass would otherwise be attributed to this one
        done.clear()
        starts.clear()
        val compiled0 = Codegen.compiles
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val totalMs = (System.nanoTime() - t0) / 1000000L
        val compiled = Codegen.compiles - compiled0
        // the listener is async: DRAIN the bus (bounded) instead of racing
        // a fixed sleep against delivery — trailing onJobEnd events after a
        // sleep were silently dropped from the pass's job table
        if (!org.apache.spark.GraftListenerSync.waitUntilEmpty(sc, 10000L))
          System.err.println(s"[profile] listener bus did not drain in 10 s" +
            s" — $name pass $p job table may be incomplete")
        val jobs = {
          val it = done.iterator()
          val b = Seq.newBuilder[(Int, Long, Int, String)]
          while (it.hasNext) b += it.next(); b.result().sortBy(_._1)
        }
        println(s"== $name pass $p: total ${totalMs} ms, ${jobs.size} jobs, " +
          s"job-sum ${jobs.map(_._2).sum} ms, $compiled codegen compiles")
        jobs.foreach { case (id, ms, st, site) =>
          println(f"  job $id%4d  $ms%6d ms  $st%2d stages  ${site.take(60)}")
        }
      }
    }
    spark.stop()
  }
}
