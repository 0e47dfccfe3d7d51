package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.GraftListenerSync
import org.apache.spark.sql.SparkSession

/** State one benchmark run shares with its workload: the session, the
  * directories, the seed, the tracer, the record of
  * operations and the per-layer samples.
  *
  * @param work  scratch directory of this run (inputs, sink outputs)
  * @param data  directory of the read-only catalog tables
  */
final class Run(
    val spark: SparkSession,
    val work: String,
    val data: String,
    val seed: Long,
    val tracer: Tracer) {

  /** False during warm-up: operations then count neither as attempted nor as latencies. */
  var recording = false
  /** Set while a traced pass runs: per-operation counter deltas come from it. */
  var counters: Option[Counters] = None

  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  /** Latencies (ms) of operations in untraced passes. */
  val opMs = ArrayBuffer.empty[Double]
  private var lastDelta = Map.empty[String, Long]

  private val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val peaks = mutable.LinkedHashMap.empty[String, Double]

  /** Block until the listener bus has delivered every queued event. */
  def sync(): Unit = GraftListenerSync.waitUntilEmpty(spark.sparkContext, 30000L)

  /** One closed-loop operation: a single Spark action, timed from outside.
    * A failure is recorded and the run goes on. Returns the latency in ms.
    */
  def op(name: String)(body: => Unit): Double = {
    val before = counters.map { c => sync(); c.snapshot() }
    val t0 = System.nanoTime()
    val ok =
      try { tracer.span(name)(body); true }
      catch {
        case NonFatal(e) =>
          failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          false
      }
    val ms = (System.nanoTime() - t0) / 1e6
    for (c <- counters; b <- before) { sync(); lastDelta = Counters.delta(c.snapshot(), b) }
    if (recording) {
      attempted += 1
      if (!ok) failed += 1
      if (!tracer.enabled) opMs += ms
    }
    ms
  }

  /** Counter deltas of the last operation of a traced pass. */
  def lastOp(key: String): Long = lastDelta.getOrElse(key, 0L)

  /** Per-layer sample, kept only while tracing; reported as the median. */
  def sample(name: String, v: Double): Unit =
    if (tracer.enabled) samples.getOrElseUpdate(name, ArrayBuffer.empty) += v

  /** Per-layer sample, kept only while tracing; reported as the maximum. */
  def peak(name: String, v: Double): Unit =
    if (tracer.enabled) peaks(name) = math.max(peaks.getOrElse(name, v), v)

  def perLayer: Map[String, Double] =
    samples.map { case (k, xs) => k -> Probe.median(xs.toSeq) }.toMap ++ peaks
}

/** One untimed output check. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A closed-loop workload: one client issuing one Spark action at a time. */
trait Workload {
  /** Build this workload's inputs; set-up runs it several times. */
  def prepare(): Unit
  /** One measured pass. */
  def pass(): Unit
  /** The untimed pass that ends set-up. */
  def warmUp(): Unit
  /** Extra measurements after a traced pass (stage self times, counts). */
  def probe(): Unit = ()
  /** Untimed output checks, run once after the measured passes. */
  def checks(): Seq[Check]
  /** Extra fields for the result file. */
  def extra: Map[String, Any] = Map.empty
}
