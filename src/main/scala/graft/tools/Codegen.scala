package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.debug.codegenStringSeq

/** The one reader of Spark's generated-code compile counter and of an
  * executed plan's generated-method sizes.
  */
object Codegen {

  /** Janino compiles in this JVM so far. Each miss of Spark's JVM-wide
    * generated-class cache compiles one class, so the difference of two
    * readings is the number of classes a pass compiled.
    */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The largest generated method, in bytecode bytes, over every
    * whole-stage-codegen subtree of `plan`; 0 for a plan with none. HotSpot
    * (C1 and C2 alike) does not compile a method over 8,000 bytecodes, so
    * such a method runs interpreted. Read it from an EXECUTED plan: an
    * adaptive plan before execution has not yet planned its query stages,
    * so it hides their subtrees. The code comes from Spark's
    * generated-class cache when the plan has run.
    */
  def maxMethodBytecode(plan: SparkPlan): Int =
    codegenStringSeq(plan).map(_._3.maxMethodCodeSize).maxOption.getOrElse(0)
}
