package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.util.QueryExecutionListener

/** Measurement helpers: everything is timed from outside the library. */
object Probe {
  /** Full evaluation of every output column, nothing shipped to the driver. */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** JIT compile time so far: a pass that still compiles runs slower. */
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Spark-layer counters summed over every task, stage and job the listener
  * bus delivers while registered. Scheduler delay follows the Spark UI's
  * definition: task duration minus run, deserialize, result-serialize and
  * result-fetch time.
  */
final class Counters extends SparkListener {
  private val sums = Counters.Keys.map(_ -> new AtomicLong).toMap
  private def add(k: String, v: Long): Unit = sums(k).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      val fetch = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      add("scheduler_delay_ms", math.max(0L, i.finishTime - i.launchTime -
        m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime - fetch))
      add("executor_cpu_ns", m.executorCpuTime + m.executorDeserializeCpuTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.diskBytesSpilled)
      add("scan_bytes", m.inputMetrics.bytesRead)
    }
  }

  def snapshot(): Map[String, Long] = sums.map { case (k, v) => k -> v.get }
}

object Counters {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "scheduler_delay_ms",
    "executor_cpu_ns", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "scan_bytes")

  def delta(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before(k)) }
}

/** Captures the executed plans of successful actions; reports the largest
  * generated method (bytecode bytes) over their whole-stage-codegen
  * subtrees — the compile statistics Spark also feeds to CodegenMetrics.
  */
final class Plans extends QueryExecutionListener {
  private val seen = new ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def drainMaxMethodBytecode(): Int = {
    val sizes = Iterator.continually(seen.poll()).takeWhile(_ != null).flatMap { qe =>
      Try(codegenStringSeq(qe.executedPlan).map(_._3.maxMethodCodeSize)).getOrElse(Nil)
    }
    sizes.maxOption.getOrElse(0)
  }
}

/** One traced layer call; `parent` indexes the enclosing span, -1 at top. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int)

/** In-memory spans, recorded only while `enabled`; written out once at
  * the end of the run.
  */
final class Tracer {
  var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += Span(name, System.nanoTime(), -1L, open.headOption.getOrElse(-1))
      open = id :: open
      try body
      finally {
        open = open.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Duration in seconds of the most recent finished span named `name`. */
  def lastS(name: String): Double =
    spans.findLast(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).getOrElse(0.0)

  def size: Int = spans.size

  def json: String = spans.map { s =>
    Json(Map("name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent))
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def apply(v: Any): String = v match {
    case s: String       => quote(s)
    case b: Boolean      => b.toString
    case d: Double       => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int          => n.toString
    case n: Long         => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other           => quote(String.valueOf(other))
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}
