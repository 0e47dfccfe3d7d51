package graft

import org.apache.spark.sql.SparkSession

/** The benchmark harness's view of [[Bench]]'s run-health canary: the same
  * fixed CPU-bound job and the same degradation envelope, so a perfbench
  * run and a catalog sweep flag a busy host by one definition.
  */
object CanaryBridge {
  def sampleMs(spark: SparkSession): Double = Bench.canarySampleMs(spark)

  def degraded(samples: Seq[Double]): Boolean = Bench.canaryDegraded(samples)
}
