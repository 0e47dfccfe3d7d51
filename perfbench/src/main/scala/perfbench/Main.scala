package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.{CanaryBridge, GraftSession}

/** One benchmark run of one workload in a fresh JVM.
  *
  * Usage: perfbench.Main --workload <taxi_pipeline|catalog_core>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *
  * Set-up (session, data, one warm-up pass) is timed and the run-health
  * canary sampled; then passes run back to back until `seconds` have
  * elapsed and at least [[MinPasses]] have run, and the canary is sampled
  * again. With tracing on, every untraced pass is paired with a traced one
  * (spans, Spark counters, plan codegen statistics) and its probes. Output
  * checks run last, untimed. Everything is written to `<work>/result.json`;
  * spans to `<work>/spans.json`.
  */
object Main {
  private val SetupReps = 3
  /** The pass median of an untraced run always has three passes behind it:
    * the first passes after warm-up still run slower while the JIT settles,
    * so a median over however many passes fit the window would shift with
    * that count.
    */
  private val MinPasses = 3
  private val t0 = System.nanoTime()

  /** Phase marks in the JVM log, seconds since main started. */
  private def mark(phase: String): Unit = println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%8.2f s  $phase")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = opt("work")
    val code =
      try { runOnce(opt, work); 0 }
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          Files.writeString(Paths.get(s"$work/result.json"),
            Json(Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")))
          3
      }
    sys.exit(code)
  }

  private def runOnce(opt: Map[String, String], work: String): Unit = {
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.builder("perfbench", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    mark("session ready")

    val tracer = new Tracer
    val run = new Run(spark, work, opt("data"), opt("seed").toLong, tracer)
    val w: Workload = workload match {
      case "taxi_pipeline" => new TaxiPipeline(run)
      case "catalog_core"  => new CatalogCore(run)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val dataS = (1 to SetupReps).map(_ => Probe.secondsOf(w.prepare()))
    mark("data prepared")
    val warmS = Probe.secondsOf(w.warmUp())
    // wall time since JVM start, with the repeated data step counted once at its median
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 -
      dataS.sum + Probe.median(dataS)
    val setupJitS = Probe.jitS
    run.recording = true
    // run-health canary around the measured passes; set-up has warmed the JVM
    val canaryBefore = CanaryBridge.sampleMs(spark)
    mark("set-up done")

    val counters = new Counters
    val plans = new Plans
    def tracedPass(): Double = {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(plans)
      tracer.enabled = true
      run.counters = Some(counters)
      run.sync()
      val before = counters.snapshot()
      val gc0 = Probe.gcS
      val wall = Probe.secondsOf(tracer.span("pass")(w.pass()))
      val gc = Probe.gcS - gc0
      run.sync()
      val d = Counters.delta(counters.snapshot(), before)
      spark.listenerManager.unregister(plans)
      Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
        .foreach(k => run.sample(s"spark.$k", d(k).toDouble))
      run.sample("spark.scheduler_delay_s", d("scheduler_delay_ms") / 1e3)
      run.sample("spark.executor_cpu_s", d("executor_cpu_ns") / 1e9)
      run.sample("spark.gc_s", gc)
      run.peak("spark.codegen_max_method_bytecode", plans.drainMaxMethodBytecode().toDouble)
      w.probe()
      run.counters = None
      tracer.enabled = false
      run.sync()
      spark.sparkContext.removeSparkListener(counters)
      wall
    }

    val passS = ArrayBuffer.empty[Double]
    val passCpuS = ArrayBuffer.empty[Double]
    val passJitS = ArrayBuffer.empty[Double]
    val tracedS = ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (opt("seconds").toDouble * 1e9).toLong
    def untracedPass(): Unit = {
      val cpu0 = Probe.processCpuS
      val jit0 = Probe.jitS
      passS += Probe.secondsOf(w.pass())
      passCpuS += Probe.processCpuS - cpu0
      passJitS += Probe.jitS - jit0
    }
    // a traced run pairs each untraced pass with a traced one, alternating
    // which goes first so that passes getting faster favour neither kind
    val minPasses = if (trace) 2 else MinPasses
    while (passS.size < minPasses || System.nanoTime() < deadline) {
      val tracedFirst = trace && passS.size % 2 == 1
      if (tracedFirst) tracedS += tracedPass()
      untracedPass()
      if (trace && !tracedFirst) tracedS += tracedPass()
    }
    mark("passes done")
    val canaryAfter = CanaryBridge.sampleMs(spark)

    val checks = w.checks()
    mark("checks done")
    val perLayer =
      if (trace) run.perLayer + ("trace.overhead_s" -> (Probe.median(tracedS.toSeq) - Probe.median(passS.toSeq)))
      else Map.empty[String, Double]
    if (trace) Files.writeString(Paths.get(s"$work/spans.json"), tracer.json)

    val result = Map(
      "workload" -> workload,
      "seed" -> run.seed,
      "host" -> Map(
        "cores" -> cores,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions")),
      "canary_ms" -> Seq(canaryBefore, canaryAfter),
      "degraded" -> CanaryBridge.degraded(Seq(canaryBefore, canaryAfter)),
      "setup_s" -> setupS,
      "setup" -> Map("session_s" -> sessionS, "data_s" -> dataS, "warmup_s" -> warmS, "jit_s" -> setupJitS),
      "pass_s" -> passS,
      "pass_cpu_s" -> passCpuS,
      "pass_jit_s" -> passJitS,
      "traced_pass_s" -> tracedS,
      "op_ms" -> run.opMs,
      "attempted" -> (run.attempted + checks.size),
      "failed" -> (run.failed + checks.count(!_.ok)),
      "failures" -> (run.failures ++ checks.filterNot(_.ok).map(c => s"${c.name}: ${c.detail}")),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "peak_rss_mb" -> Probe.peakRssMb,
      "per_layer" -> perLayer,
      "spans" -> tracer.size) ++ w.extra
    Files.writeString(Paths.get(s"$work/result.json"), Json(result))
    mark("result written")
    spark.stop()
    mark("session stopped")
  }
}
