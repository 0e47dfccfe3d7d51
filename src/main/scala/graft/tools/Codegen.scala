package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics

/** The one reader of Spark's generated-code compile counter. */
object Codegen {

  /** Janino compiles in this JVM so far. Each miss of Spark's JVM-wide
    * generated-class cache compiles one class, so the difference of two
    * readings is the number of classes a pass compiled.
    */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
