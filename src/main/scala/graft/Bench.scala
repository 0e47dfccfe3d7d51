package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum, xxhash64}
import graft.operators.OperatorCaches

object Bench {

  /** Force FULL evaluation of every output column via the no-op sink.
    *
    * `.count()` is NOT a benchmark harness: Catalyst prunes columns the
    * count doesn't need, and for an entry ending in an aggregate that
    * prunes the aggregate EXPRESSIONS themselves — a global (no-key)
    * aggregate's row count is known without computing a single metric, so
    * count() measures the scan skeleton and skips the operator. Measured
    * on q_bootstrap_ci at sf0.1: 0.93 s under count() vs 51 s under full
    * evaluation — a 55× fiction. The noop datasource materializes every
    * output row on the executors (all columns computed, nothing shipped
    * to the driver), which is what a user consuming the result pays.
    */
  private def exec(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Run-health canary: a fixed, tiny, CPU-bound job (4M xxhash64 over a
    * generated range — no I/O, no cache dependence, overhead+compute in
    * fixed proportion) timed at run start / middle / end. The round-6
    * driver bench posted a 2.4× uniformly-inflated total that only an
    * out-of-band re-run could falsify: the family-median outlier
    * re-measure compares entries against an equally-degraded median, so a
    * contended HOST is invisible to it. The canary is the absolute
    * yardstick that survives uniform degradation — its nominal cost is
    * pinned here, measured warm on the round-6 judge hardware (local[32]
    * and the local[4] spec session both land 15–45 ms; fresh-JVM spread
    * stays under 2×). Two untimed warmups precede the first sample so JIT
    * cold-start doesn't masquerade as contention.
    *
    * Calibration (this hardware, warm): local[32] observations 101–151 ms
    * across repeated fresh-JVM runs, local[4] spec session 95–122 ms —
    * per-core work sizing is what puts both in one envelope. Nominal is
    * the rough center; the ceiling at 2.5× nominal clears the observed
    * noise band by 2× while still firing on the kind of sustained
    * contention that produced BENCH_r06 (its sbt wall ran 5× normal).
    * A mild 1.5× squeeze is indistinguishable from JVM noise at this
    * floor and intentionally does not fire.
    */
  private[graft] val CanaryNominalMs = 120.0
  /** Absolute arm: any canary median above this ⇒ host degraded. 2.5× the
    * pinned nominal — the r6 incident ran 1.5–17× inflated, and honest
    * fresh-JVM variance of the fixed job stays well under this.
    */
  private[graft] val CanaryCeilingMs = 2.5 * CanaryNominalMs
  /** Spread arm: max/min across the run's canaries ⇒ contention that came
    * and went mid-run (uniform inflation is caught by the absolute arm).
    * 3.0, not lower: a full-catalog run measured start 219 / end 80 ms on
    * a clean host — the canary itself keeps getting faster as C2 warms
    * Spark's scheduler over 100+ queries, so start-vs-end legitimately
    * spans ~2.7×. Mid-run contention below 3× that also stays under the
    * absolute ceiling is accepted as undetectable at this noise floor.
    */
  private[graft] val CanarySpreadCeiling = 3.0

  /** One canary observation: median of 3 back-to-back runs of the fixed
    * job (median, not min — min would hide exactly the contention this
    * exists to detect; median still sheds one-off GC pauses). Work is
    * 1M hashes PER CORE, not a fixed total: per-core work makes the
    * nominal portable across session widths (the bench runs one thread per
    * host core, the spec session local[4] — both must sit inside one envelope), and
    * host contention shows up as per-core throughput loss either way.
    */
  private[graft] def canarySampleMs(spark: SparkSession): Double = {
    val rows = spark.sparkContext.defaultParallelism.toLong << 20
    val t = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      spark.range(rows).select(sum(xxhash64(col("id")))).head()
      (System.nanoTime() - t0) / 1e6
    }.sorted
    t(2)
  }

  private[graft] def canaryDegraded(canaries: Seq[Double]): Boolean =
    canaries.nonEmpty &&
      (canaries.max > CanaryCeilingMs ||
        canaries.max / canaries.min > CanarySpreadCeiling)

  /** How many of the slowest entries get a post-sweep isolated re-measure
    * for the line's "isolated" map. 5 covers every entry the r7
    * adjudication found regime-divergent (the big dedup family); each
    * costs passes× its own runtime, so the tail adds ~30-60 s to a full
    * sweep — bounded, and only the slowest entries pay it.
    */
  private[graft] val IsolatedTopN = 5
  /** How many of the slowest entries get isolated re-measures for the FULL
    * side artifact (bench_full.json). The r9 adjudication went blind on
    * every name-matched in-run regression because the 1920-char line could
    * only afford 5 isolated slots and all 5 went to new entries; the side
    * file has no byte budget, so it carries a top-40 (raised 20 → 40 in
    * r12: with ~305/329 entries in-run-omitted at sf0.1, 20 slots
    * under-covered the tail the adjudication must diff — the r11
    * walk_cooc drift question would have self-answered with the wider
    * map) — wide enough that consecutive rounds share isolated
    * measurements for the entries that matter (the slow tail is stable
    * round-over-round) and cross-round diffs can be
    * isolated-to-isolated. Entries named in SPARK_GRAFT_ISOLATE (comma
    * list) are measured IN ADDITION, so a specific watch set can be
    * adjudicated without riding the top-40.
    */
  private[graft] val IsolatedSideN = 40
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional durable checkpoint dir — the CLUSTER shape for the
    // iterative graph/CC operators (their per-round lineage cuts prefer
    // checkpoint() when a dir is set; localCheckpoint otherwise). On the
    // single-JVM harness localCheckpoint keeps every round's state in the
    // one block manager, which is what walled kcore at ×100
    // (BENCH_SF10 addendum 12); a disk dir moves round state off-heap.
    // cleanCheckpoints is on (GraftSession), so superseded rounds delete.
    sys.env.get("SPARK_GRAFT_CKPT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)
    // optional comma-separated query filter for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // catalog order (stable), so family grouping below is contiguous
    val selected = queries.QueryCatalog.all
      .map(q => q.name -> q.fn)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Loop shape: per-QUERY min-of-N with operator caches released at query-
    // FAMILY boundaries — NOT per-pass sweeps over the whole catalog. The
    // r4 per-pass sweep kept 104 queries' sketch caches resident at once;
    // they evicted each other ("already cached" churn) and full-run times
    // ran 2-4x the same query measured alone (6.5 s vs 2.3 s ngram_jaccard,
    // 5.4 s vs 1.6 s join_salted). Back-to-back samples reproduce isolated-
    // run semantics: sample 1 builds the family's sketch caches, samples
    // 2..N measure warm steady state, and the min is the same number
    // SPARK_GRAFT_ONLY reports. Within a family (shared name prefix:
    // dedup_*, ann_*, taxi_*...) caches stay warm on purpose — those
    // queries share sketch-table plans, and warm reuse is the realistic
    // pipeline steady state; between families the working set is released
    // (correctness-neutral: a released cache just recomputes).
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt)
    def family(name: String): String = name.stripPrefix("q_").takeWhile(_ != '_')
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // run-health canary: warm once untimed, then sample at start / middle /
    // end of the query loop — the timestamps bracketing the timed region
    val canaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    // two untimed warmups: one is not enough — C2 tier-up still inflates
    // the next observation ~1.4× (measured 151/105/101 with a single one)
    canarySampleMs(spark); canarySampleMs(spark)
    canaries += canarySampleMs(spark)
    val midpoint = selected.size / 2
    var prevFamily = ""
    for (((name, fn), qIdx) <- selected.zipWithIndex) {
      if (qIdx == midpoint && qIdx > 0) canaries += canarySampleMs(spark)
      val fam = family(name)
      if (fam != prevFamily) {
        // drop the previous family's sketch caches and let the pause land
        // HERE, between timed regions, not inside the next query.
        // State-store hygiene rides the same boundary: streaming entries
        // unload their own providers after a clean drain, but a FAILED
        // entry skips that line — leaked RocksDB natives + maintenance
        // work would then tax every later family (the r13 driver bench's
        // in-run-vs-isolated 3-9x gaps). A no-op when nothing is loaded.
        graft.streaming.StreamScale.unloadStateStores()
        OperatorCaches.release(spark)
        System.gc()
        prevFamily = fam
      }
      val samples = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        // a failed query records -1.0 and its exception class — never its
        // elapsed time, and never silence that lets an executor OOM
        // masquerade as a slow neighbor. The FIRST failing class is kept:
        // a later sample often fails differently (cache poisoned by the
        // first crash) and would mask the root cause
        try { exec(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
        catch { case t: Throwable =>
          failures.getOrElseUpdate(name, t.getClass.getSimpleName.stripSuffix("$")); -1.0 }
      }
      results(name) = if (samples.exists(_ < 0)) -1.0 else samples.min
    }
    // Within-family warm reuse is deliberate (those queries share sketch-
    // table plans, and warm steady state is what a pipeline sees), but it
    // can also leave one entry paying its neighbors' cache-eviction churn:
    // r5 posted dedup_simhash at 3.60 s full-run vs 0.69 s isolated. Any
    // entry exceeding 2x the median of its family SIBLINGS (own time
    // excluded — with it included, a 2-family's slower member was its own
    // median and could never trip) gets ONE isolated re-measure — caches
    // released first, exactly SPARK_GRAFT_ONLY's semantics — and reports
    // the better of the two: the number a user running that query alone
    // would see. (Reporting min(warm-run, isolated) deliberately mixes the
    // two cache regimes; the per-entry number is "best honest run".)
    // Families of one have no siblings (never an offender); failures stay
    // failures.
    val byName = selected.toMap
    for ((_, names) <- selected.map(_._1).groupBy(family) if names.size >= 2) {
      for (name <- names if results(name) >= 0) {
        val siblings = names.filter(_ != name).map(results(_)).filter(_ >= 0).sorted
        if (siblings.nonEmpty && results(name) > 2 * siblings((siblings.size - 1) / 2)) {
          OperatorCaches.release(spark)
          System.gc()
          val iso = (1 to passes).map { _ =>
            val t0 = System.nanoTime()
            try { exec(byName(name)(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
            // NonFatal only: an OOM/fatal error here means the JVM/Spark
            // state is no longer trustworthy — let it abort the sweep
            // rather than silently publishing numbers from a corrupted run
            catch { case scala.util.control.NonFatal(_) => Double.MaxValue }
          }.min
          if (iso < results(name)) results(name) = iso
        }
      }
    }
    // Regime disambiguation (r7 adjudication finding): in-run numbers can
    // run up to 6x the same query measured alone (dedup_simhash 5.4 s
    // in-catalog vs 926 ms isolated — neighbor cache/GC churn, not host
    // contention; the canary proves the host clean). Cross-round per-query
    // comparison on in-run numbers is noise-dominated, so after the sweep
    // the N slowest successful entries get ONE isolated re-measure each
    // (caches released first — exactly SPARK_GRAFT_ONLY's semantics) and
    // the line ships BOTH regimes: "queries" = in-run, "isolated" = the
    // alone-number for the entries where the regimes can differ most.
    // Next-round verdicts should diff isolated-to-isolated.
    val isolated = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Side-artifact width: the top IsolatedSideN slowest (slowest-first, so
    // the line's take(IsolatedTopN) digest is exactly the old top-5), plus
    // any SPARK_GRAFT_ISOLATE-requested names that ran successfully — the
    // watch-set hook for adjudicating a suspected regression without
    // waiting for it to reach the slow tail.
    val requested = sys.env.get("SPARK_GRAFT_ISOLATE")
      .map(_.split(",").toSeq).getOrElse(Seq.empty)
      .filter(n => results.get(n).exists(_ >= 0))
    val slowest = results.toSeq.filter(_._2 >= 0).sortBy(-_._2)
      .take(IsolatedSideN).map(_._1)
    for (name <- (slowest ++ requested).distinct) {
      OperatorCaches.release(spark)
      System.gc()
      val iso = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        try { exec(byName(name)(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
        // NonFatal only — same rationale as the family re-measure above
        catch { case scala.util.control.NonFatal(_) => Double.MaxValue }
      }.min
      if (iso < Double.MaxValue) isolated(name) = iso
    }
    OperatorCaches.release(spark)
    // end observation AFTER the release: the canary gauges HOST health, so
    // it must not price in our own still-resident working set (at a ×100
    // tier the last family's caches pushed the end observation to 2.5 s —
    // self-load, not contention)
    canaries += canarySampleMs(spark)
    val counterEx = queries.QueryCatalog.all.filter(_.counterExample)
      .map(_.name).filter(results.contains)
    // FULL side artifact first (no byte budget — every in-run timing, the
    // whole isolated map, failures as an object), THEN the 1920-char line
    // as the digest the driver parses. The side path is env-overridable so
    // scale-tier runs can keep their artifacts apart; write failures must
    // not cost the round its stdout line, hence the non-fatal catch.
    // A SPARK_GRAFT_ONLY-filtered run must NOT clobber the round's
    // FULL-catalog artifact (round-10 iteration runs silently reduced it
    // to one query between full runs) — filtered runs only write when the
    // caller names an explicit side path.
    val fullPath = sys.env.get("SPARK_GRAFT_BENCH_FULL")
      .orElse(if (only.isEmpty) Some("bench_full.json") else None)
    fullPath.foreach { fp =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(fp),
        renderFull(results.toSeq, failures.toSeq, sfDir.split('/').last,
          canaries.toSeq, counterEx, isolated.toSeq, passes))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] side artifact write failed: ${e.getMessage}") }
    }
    println(renderLine(results.toSeq, failures.toSeq, sfDir.split('/').last,
      canaries.toSeq, counterEx, isolated.toSeq.take(IsolatedTopN)))
    spark.stop()
  }

  /** Render the FULL bench artifact (bench_full.json): everything the
    * 1920-char stdout line's budget ladder sheds, with full query names and
    * no omission rungs. The stdout line stays the driver contract (it
    * parses the last 2000 chars); this file is the round-over-round
    * comparison record — VERDICT r9's "What's wrong #1" was the line
    * dropping 160/252 per-query timings and every name-matched isolated
    * slot, leaving regressions unadjudicable. Schema (pinned by
    * BenchLineSpec):
    *   schema        1 (bump on breaking change)
    *   sf / unit / passes / total_ms — run identity; unit is always "ms"
    *   canary        [start, mid, end] integer ms; degraded — same envelope
    *                 as the line (trust nothing when degraded:true)
    *   queries       EVERY entry, full "q_" names, in-run integer ms,
    *                 -1 for failures
    *   isolated      alone-measured ms for the IsolatedSideN slowest plus
    *                 SPARK_GRAFT_ISOLATE requests — diff THESE cross-round
    *   failed        {name: ExceptionClass} in occurrence order
    *   counterexamples  the catalog's flagged scale counter-examples
    */
  private[graft] def renderFull(
      results: Seq[(String, Double)],
      failures: Seq[(String, String)],
      sfName: String,
      canary: Seq[Double],
      counterExamples: Seq[String],
      isolated: Seq[(String, Double)],
      passes: Int): String = {
    def js(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def msMap(m: Seq[(String, Double)]): String = m.map { case (k, v) =>
      js(k) + ":" + (if (v < 0) "-1" else math.round(v * 1000).toString)
    }.mkString("{", ",", "}")
    val ok = results.map(_._2).filter(_ >= 0)
    val totalMs = math.round((if (ok.nonEmpty) ok.sum else 0.0) * 1000)
    val failedObj = failures.map { case (k, e) => js(k) + ":" + js(e) }
      .mkString("{", ",", "}")
    val cex = counterExamples.map(js).mkString("[", ",", "]")
    val canaryJson = canary.map(math.round).mkString("[", ",", "]")
    s"""{"schema":1,"sf":${js(sfName)},"unit":"ms","passes":$passes,""" +
      s""""total_ms":$totalMs,"canary":$canaryJson,""" +
      s""""degraded":${canaryDegraded(canary)},""" +
      s""""queries":${msMap(results)},"isolated":${msMap(isolated)},""" +
      s""""failed":$failedObj,"counterexamples":$cex}"""
  }

  /** Render the one-line JSON result the driver parses. Pure — unit-tested
    * with forced failures in BenchLineSpec so a format drift (the contract
    * with the external driver) fails a test, not a round.
    *
    * The driver keeps only the LAST 2000 chars of output and JSON-parses
    * the line it finds there (round 1's 2.4 KB line outran it and the
    * round lost its bench numbers), so the whole line must stay < ~1.9 KB
    * (the 2000-char tail also holds sbt's ~75-char [success] trailer,
    * hence the 1920 ceiling). Per-query times are INTEGER MILLISECONDS
    * ("unit":"ms"): 3-4 digits for everything the catalog runs, vs 4+ for
    * 2-decimal seconds — full 1 ms resolution at fewer bytes per entry,
    * and no adaptive-precision cliff where sub-second queries all collapse
    * to "0.1". The "q_" prefix is stripped from keys (every catalog name
    * carries it) and sf reported as its basename. Failures record -1 in
    * queries plus "name:ExceptionClass" in failed, IN OCCURRENCE ORDER —
    * an array of STRINGS, so a consumer of the r4 shape
    * ("failed":["ann_lsh"]) still parses and prefix-matching still
    * resolves the query name. If the full-name line exceeds the ceiling,
    * keys (including failed names) abbreviate to their shortest UNIQUE
    * prefix (floor 6 chars — uniqueness comes from lcp+1, the floor only
    * buys prefix stability; 8 stopped fitting at 106 queries), like git
    * object abbreviation: prefix-stable and collision-free by construction. A failure-heavy round can blow
    * the budget through the failed array alone (each entry carries an
    * exception class), so under deep pressure the line first omits its
    * fastest successful entries (declared via "omitted":k) and only as
    * the true last resort truncates the failed list from the tail with a
    * "+k more" marker until the line fits — better k unnamed failures
    * than a mid-JSON driver truncation losing the whole round's numbers.
    *
    * The run-health canary renders as "canary":[ms,ms,ms] (start/mid/end
    * observations, integer ms) plus "degraded":true|false from the pinned
    * envelope — so a contended-host artifact like BENCH_r06 (2.4×
    * uniformly inflated, falsified only by an out-of-band re-run)
    * self-reports instead of reading as a regression. Both fields are
    * always present: an explicit false is the "this number is
    * trustworthy" statement, and ~35 bytes fits the budget.
    *
    * "counterexamples" lists the catalog entries flagged
    * Q.counterExample — correct-on-fixture shapes retained as measured
    * x100 scale failures (BENCH_SF10.md) — so the artifact carries their
    * status instead of prose archaeology. "isolated" maps the slowest
    * entries to their post-sweep alone-measured ms (same integer-ms unit):
    * in-run vs isolated regimes were adjudicated to diverge up to 6x on
    * cache-heavy entries, and cross-round comparison should diff
    * isolated-to-isolated. Both keys render through the same
    * abbreviation map as "queries", and both sit ABOVE failure
    * truncation in the budget ladder. Ladder order (round-9 revision —
    * the r8 line lost 4 of 5 isolated entries to the old order, exactly
    * the field cross-round comparison needs): full names → floor-6
    * abbreviation → floor-1 abbreviation WITH everything (key compression
    * is cheaper than information loss; floor-1 sacrifices only
    * cross-round prefix stability) → drop counterexamples (re-derivable
    * from the catalog source; isolated measurements are not re-derivable
    * after the run) → omit up to 16 of the FASTEST in-run timings
    * ("omitted":k marker) keeping the isolated tail whole → shrink
    * isolated from the tail → deeper fastest omission → truncate failures
    * as the last resort ("queries"/"failed" are the load-bearing
    * contract).
    */
  private[graft] def renderLine(
      results: Seq[(String, Double)],
      failures: Seq[(String, String)],
      sfName: String,
      canary: Seq[Double] = Seq.empty,
      counterExamples: Seq[String] = Seq.empty,
      isolated: Seq[(String, Double)] = Seq.empty): String = {
    def short(k: String): String = k.stripPrefix("q_")
    val shortKeys = results.map { case (k, _) => short(k) }
    def lcp(a: String, b: String): Int =
      a.zip(b).takeWhile { case (x, y) => x == y }.size
    // floor 6 buys prefix stability across rounds; uniqueness comes from
    // lcp+1 alone, so the last-resort budget rungs may drop the floor to 1
    // (maximal compression, still collision-free by construction)
    def abbrevMap(floor: Int): Map[String, String] = {
      val m = shortKeys.map { k =>
        val longest = shortKeys.filter(_ != k).map(o => lcp(k, o)).maxOption.getOrElse(0)
        k -> k.take(math.max(floor, longest + 1))
      }.toMap
      require(m.values.toSeq.distinct.size == shortKeys.size,
        "bench key abbreviation collided")
      m
    }
    val abbrevOf: Map[String, String] = abbrevMap(6)
    val ok = results.map(_._2).filter(_ >= 0)
    val totalMs = math.round((if (ok.nonEmpty) ok.sum else 0.0) * 1000)
    def line(abbrev: Boolean, keepFailed: Int, keepIso: Int, keepCex: Boolean,
        keys: Map[String, String] = abbrevOf, dropFastest: Int = 0): String = {
      // a failures key absent from results (can't happen today, but the
      // map is built from results only) falls back to the un-abbreviated
      // short name rather than throwing away the whole line
      def key(k: String): String =
        if (abbrev) keys.getOrElse(short(k), short(k)) else short(k)
      val kept = failures.take(keepFailed)
        .map { case (k, err) => "\"" + key(k) + ":" + err + "\"" }
      val marker =
        if (failures.size > keepFailed) Seq("\"+" + (failures.size - keepFailed) + " more\"")
        else Nil
      val failed = (kept ++ marker).mkString("[", ",", "]")
      // deep-pressure rung: omit the k fastest SUCCESSFUL entries (the
      // least informative numbers) and say so via "omitted":k — a
      // parseable line missing its cheapest timings beats a mid-JSON
      // driver truncation losing the whole round. -1 rows stay for every
      // failure the failed list still NAMES (row and diagnostic pair up);
      // failures truncated down to the "+k more" marker shed their -1
      // rows with them — at a 149-entry catalog failing wholesale, the
      // all--1 queries map alone overflows the tail budget
      val truncatedFailures: Set[String] =
        failures.drop(keepFailed).map(_._1).toSet
      val dropped: Set[String] =
        (if (dropFastest <= 0) Set.empty[String]
         else results.filter(_._2 >= 0).sortBy { case (k, v) => (v, k) }
           .take(dropFastest).map(_._1).toSet) ++
        results.collect { case (k, v) if v < 0 && truncatedFailures(k) => k }
      val qs = results.filterNot(r => dropped.contains(r._1)).map { case (k, v) =>
        "\"" + key(k) + "\":" + (if (v < 0) "-1" else math.round(v * 1000).toString)
      }.mkString("{", ",", "}")
      val omittedField =
        if (dropped.isEmpty) "" else s""""omitted":${dropped.size},"""
      // an undamaged line renders both extras even when empty (the
      // explicit "nothing flagged / nothing re-measured" statement);
      // degraded rungs omit a field entirely instead of shipping husks
      val cexField =
        if (keepCex)
          Some("\"counterexamples\":" +
            counterExamples.map(k => "\"" + key(k) + "\"").mkString("[", ",", "]"))
        else None
      val isoField =
        if (keepIso > 0 || keepCex)
          Some("\"isolated\":" + isolated.take(keepIso).map { case (k, v) =>
            "\"" + key(k) + "\":" + math.round(v * 1000).toString
          }.mkString("{", ",", "}"))
        else None
      val extraFields = (cexField.toSeq ++ isoField.toSeq).map(_ + ",").mkString
      val canaryJson = canary.map(math.round).mkString("[", ",", "]")
      val degraded = canaryDegraded(canary)
      s"""{"metric":"total","value":$totalMs,"unit":"ms","queries":$qs,"failed":$failed,$omittedField$extraFields"canary":$canaryJson,"degraded":$degraded,"sf":"$sfName"}"""
    }
    // round-9 ladder: compress keys to floor-1 BEFORE shedding any
    // information — isolated re-measures are the one artifact that cannot
    // be reconstructed after the run (counterexamples re-derive from the
    // catalog, failures re-reproduce, key stability is cosmetic), so they
    // outrank everything except the failed list. Under widths no real
    // round produces (every query 10x slower than the slowest ever
    // recorded), fastest-entry omission kicks in BEFORE failure
    // truncation: a failure's name+class is the one diagnostic the line
    // exists for, a sub-second timing is the cheapest to lose.
    lazy val tightKeys = abbrevMap(1)
    val nOk = results.count(_._2 >= 0)
    val geometricDrops =
      Iterator.iterate(1)(_ * 2).takeWhile(_ < nOk) ++ Iterator(nOk)
    val attempts =
      Iterator(
        line(false, failures.size, isolated.size, true),
        line(true, failures.size, isolated.size, true),
        line(true, failures.size, isolated.size, true, tightKeys),
        line(true, failures.size, isolated.size, false, tightKeys)) ++
      // fastest-omission rungs BEFORE shedding isolated: the cheapest
      // in-run timings (marked "omitted":k, parseable) buy the whole
      // isolated tail — the slowest entries' alone-measured numbers are
      // worth more than the fastest entries' in-run ones. Rungs are
      // ADAPTIVE (round-10 revision): the r9 fixed list topped out at 160
      // and stopped covering once the catalog passed ~290 entries in the
      // all-4-digit stress regime — the ladder fell through to isolated
      // shedding, exactly what it was built to prevent. Doubling rungs up
      // to two-thirds keep the queries map the load-bearing bulk; the two
      // deep rungs (keep the 24 / 12 slowest) are reached only under
      // widths no real round produces, and a 12-slowest map + the whole
      // isolated tail still beats a full map with no isolated numbers
      ((Iterator.iterate(2)(_ * 2).takeWhile(_ <= nOk * 2 / 3).toSeq ++
        Seq(nOk * 2 / 3, nOk - 24, nOk - 12))
        .filter(k => k > 0 && k < nOk).distinct.sorted).iterator
        .map(k => line(true, failures.size, isolated.size, false, tightKeys,
          dropFastest = k)) ++
      (isolated.size - 1 to 0 by -1).iterator
        .map(line(true, failures.size, _, false, tightKeys)) ++
      geometricDrops
        .map(k => line(true, failures.size, 0, false, tightKeys, dropFastest = k)) ++
      (failures.size - 1 to 0 by -1).iterator
        .map(line(true, _, 0, false, tightKeys, dropFastest = nOk))
    attempts.find(_.length <= 1920)
      .getOrElse(line(true, 0, 0, false, tightKeys, dropFastest = nOk))
  }
}
