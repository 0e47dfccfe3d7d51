package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench stdout line is the contract with the external driver (it
  * keeps the last 2000 output chars and JSON-parses what it finds there) —
  * pin the format with forced failures so drift fails a test, not a round.
  */
class BenchLineSpec extends AnyFunSuite {

  private val names = queries.QueryCatalog.all.map(_.name)

  /** The real catalog at a realistic spread: log-uniform 50 ms .. 15 s
    * (the committed sweeps span 40 ms to 11 s), seeded so runs agree.
    */
  private val realistic: Seq[(String, Double)] = {
    val rnd = new scala.util.Random(7)
    names.map(_ -> 0.05 * math.pow(300, rnd.nextDouble()))
  }

  private def omittedOf(line: String): Int =
    "\"omitted\":([0-9]+)".r.findFirstMatchIn(line).map(_.group(1).toInt).getOrElse(0)

  /** Keys of the line's "queries" object. */
  private def queryKeys(line: String): Seq[String] = {
    val qs = "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(line).get.group(1)
    "\"([^\"]+)\":".r.findAllMatchIn(qs).map(_.group(1)).toSeq
  }

  test("failures render -1 plus a name:ExceptionClass STRING entry") {
    val line = Bench.renderLine(
      Seq("q_fast" -> 0.1234, "q_boom" -> -1.0, "q_slow" -> 2.0),
      Seq("q_boom" -> "OutOfMemoryError"),
      "sf0.1")
    assert(line.contains("\"q_boom\":-1"), line)
    assert(line.contains("\"failed\":[\"q_boom:OutOfMemoryError\"]"), line)
    // the total excludes the failed query's wall time
    assert(line.contains("\"value\":2123"), line)
    assert(line.contains("\"sf\":\"sf0.1\""), line)
  }

  test("a failure-heavy round truncates the failed list instead of blowing the tail budget") {
    // every catalog query failing with a long exception class — the
    // sf-dir-misconfiguration incident shape
    val results = names.map(_ -> -1.0)
    val failures = names.map(_ -> "QueryExecutionAnalysisException")
    val line = Bench.renderLine(results, failures, "sf0.1")
    assert(line.length <= Bench.LineBudget, s"line ${line.length} chars")
    // failures are reported in occurrence order, truncated with a marker;
    // the first one survives under its full name
    assert(line.contains(
      "\"failed\":[\"" + names.head + ":QueryExecutionAnalysisException\""), line.take(200))
    assert(line.contains(" more\""), line.takeRight(120))
  }

  test("the REAL catalog's line stays under the driver's tail budget at worst-case widths") {
    // actual catalog names (static — no session needed to build them),
    // every query at a 5-digit-ms time: wider than anything the bench has
    // ever recorded, so growth headroom is part of the pin
    assert(names.size >= 105, s"catalog shrank? ${names.size}")
    val results = names.map(_ -> 99.999)
    val line = Bench.renderLine(results, Seq.empty, "sf0.1")
    assert(line.length <= Bench.LineBudget, s"line ${line.length} chars for ${names.size} queries")
    // shape: one object, queries object with one entry per result, empty failed
    assert(line.startsWith("{\"metric\":\"total\",\"value\":"), line.take(60))
    assert(line.contains("\"failed\":[]"), line.takeRight(60))
    // at this synthetic width (every query 100 s) the line omits the
    // fastest entries — but it must SAY so, and the ledger must balance:
    // rendered + omitted covers the whole catalog
    val omitted = omittedOf(line)
    assert(queryKeys(line).size + omitted === names.size, s"missing entries (omitted=$omitted)")
  }

  test("a failed name absent from results falls back to its short name, not a throw") {
    // a failures entry outside the results keys renders under the name
    // as given. The wide filler names overflow the budget, so the line
    // omits fast entries while the ghost failure must still render.
    val results = (1 to 90).map(i => f"q_z$i%02d_quite_long_query_name_padding_wide" -> 99.999)
    val line = Bench.renderLine(results, Seq("q_ghost_query" -> "IOException"), "sf0.1")
    assert(line.length <= Bench.LineBudget, s"line ${line.length} chars")
    assert(omittedOf(line) > 0, line.takeRight(200))
    assert(line.contains("\"failed\":[\"q_ghost_query:IOException\"]"), line.takeRight(200))
  }

  test("every key in the REAL catalog's line is a full catalog name") {
    val results = realistic.map { case (k, v) => k -> (if (k == names.last) -1.0 else v) }
    val iso = results.sortBy(-_._2).take(Bench.IsolatedTopN)
    val line = Bench.renderLine(results, Seq(names.last -> "IOException"), "sf0.1",
      Seq(120.0, 120.0, 120.0), iso)
    assert(line.length <= Bench.LineBudget, s"line ${line.length} chars")
    val isoKeys = "\"isolated\":\\{([^}]*)\\}".r.findFirstMatchIn(line).toSeq
      .flatMap(m => "\"([^\"]+)\":".r.findAllMatchIn(m.group(1)).map(_.group(1)))
    val failedKeys = "\"([^\":]+):IOException\"".r.findAllMatchIn(line).map(_.group(1)).toSeq
    val keys = queryKeys(line) ++ isoKeys ++ failedKeys
    assert(queryKeys(line).nonEmpty && isoKeys.size == Bench.IsolatedTopN && failedKeys.size == 1)
    assert(keys.forall(names.toSet), keys.filterNot(names.toSet).toString)
  }

  test("the kept entries are exactly the slowest ones") {
    val line = Bench.renderLine(realistic, Seq.empty, "sf0.1")
    val omitted = omittedOf(line)
    assert(omitted > 0, "a realistic full-name line should not fit whole")
    val slowestFirst = realistic.sortBy { case (k, v) => (-v, k) }.map(_._1)
    assert(queryKeys(line).toSet === slowestFirst.dropRight(omitted).toSet)
    // catalog order is kept among the survivors
    assert(queryKeys(line) === names.filter(queryKeys(line).toSet))
  }

  test("when entries are omitted, rendering one more would overflow") {
    for (scale <- Seq(0.25, 2.5, 25.0)) {
      val results = realistic.map { case (k, v) => k -> v * scale }
      val line = Bench.renderLine(results, Seq.empty, "sf0.1")
      val k = omittedOf(line)
      assert(k > 0, s"nothing omitted at x$scale")
      // the next entry back in is the slowest omitted one; its bytes plus
      // a separator, with the "omitted" field re-counted for k - 1
      val (name, v) = results.sortBy { case (n, t) => (t, n) }.apply(k - 1)
      val entry = "\"" + name + "\":" + math.round(v * 1000) + ","
      val field = (n: Int) => if (n > 0) s""""omitted":$n,""".length else 0
      val oneMore = line.length + entry.length - field(k) + field(k - 1)
      assert(line.length <= Bench.LineBudget && oneMore > Bench.LineBudget,
        s"omitted $k at x$scale: line ${line.length}, one more $oneMore")
    }
  }

  test("canary observations and the degraded verdict render in the line") {
    val results = Seq("q_fast" -> 0.1)
    val n = Bench.CanaryNominalMs
    val clean = Bench.renderLine(results, Seq.empty, "sf0.1", Seq(n, n, n))
    assert(clean.contains(s""""canary":[${math.round(n)},${math.round(n)},${math.round(n)}]"""), clean)
    assert(clean.contains("\"degraded\":false"), clean)
    // the r6 shape: uniform ~3x inflation must self-report
    val hot = Bench.renderLine(results, Seq.empty, "sf0.1",
      Seq(n * 3, n * 3.1, n * 3))
    assert(hot.contains("\"degraded\":true"), hot)
    // a canary-less call (spec/direct use) still renders valid JSON
    val bare = Bench.renderLine(results, Seq.empty, "sf0.1")
    assert(bare.contains("\"canary\":[]") && bare.contains("\"degraded\":false"), bare)
  }

  test("isolated re-measures render under full names beside the in-run time") {
    val line = Bench.renderLine(
      Seq("q_embed_neardup_auto" -> 1.5, "q_dedup_simhash" -> 5.416, "q_fast" -> 0.1),
      Seq.empty, "sf0.1", Seq.empty,
      isolated = Seq("q_dedup_simhash" -> 0.926))
    // isolated carries the alone-measured number; "queries" keeps in-run
    assert(line.contains("\"isolated\":{\"q_dedup_simhash\":926}"), line)
    assert(line.contains("\"q_dedup_simhash\":5416"), line)
    // the line fits whole: nothing omitted, no counter-example list (that
    // lives in bench_full.json), and an empty isolated map is the explicit
    // "nothing re-measured" statement
    assert(!line.contains("\"omitted\"") && !line.contains("counterexamples"), line)
    val bare = Bench.renderLine(Seq("q_fast" -> 0.1), Seq.empty, "sf0.1")
    assert(bare.contains("\"isolated\":{}"), bare)
  }

  test("the REAL catalog's line carries the FULL isolated tail at realistic widths") {
    // the line a real sweep prints: real catalog names, a full
    // isolated tail, 4-digit-ms times for every entry (wider than any
    // recorded round — r8's slowest was 3.3 s). Fastest entries are
    // omitted before any isolated entry: the isolated re-measures are the
    // one artifact that cannot be reconstructed after the run.
    val results = names.map(_ -> 9.999)
    val iso = results.take(Bench.IsolatedTopN).map { case (k, _) => k -> 9.999 }
    val line = Bench.renderLine(results, Seq.empty, "sf0.1", Seq(120.0, 120.0, 120.0), iso)
    assert(line.length <= Bench.LineBudget, s"line ${line.length} chars")
    val isoJson = "\"isolated\":\\{([^}]*)\\}".r.findFirstMatchIn(line).map(_.group(1))
    assert(isoJson.isDefined, s"isolated dropped entirely: ${line.takeRight(300)}")
    val isoCount = isoJson.get.count(_ == ':')
    assert(isoCount === Bench.IsolatedTopN,
      s"isolated carries $isoCount of ${Bench.IsolatedTopN} entries: ${isoJson.get}")
  }

  test("under budget pressure the extras degrade before failures do") {
    // 5-digit-ms worst case: extras are additive diagnostics and must be
    // the first things dropped — the line still fits and still carries
    // the full failed list
    val results = names.map(_ -> 99.999)
    val iso = results.take(Bench.IsolatedTopN).map { case (k, _) => k -> 99.999 }
    val line = Bench.renderLine(results, Seq("q_dedup_simhash" -> "OutOfMemoryError"),
      "sf0.1", Seq(120.0, 120.0, 120.0), iso)
    assert(line.length <= Bench.LineBudget, s"line ${line.length} chars")
    assert(line.contains(":OutOfMemoryError"), "failure dropped before extras")
  }

  test("bench_full.json carries EVERY entry under full names — no budget ladder") {
    // the side artifact exists because the line omits entries to fit its
    // budget; pin that the side artifact never does: full catalog at worst-case widths, all names
    // unabbreviated, all timings present, valid JSON shape markers intact
    val qs = queries.QueryCatalog.all
    val results = qs.map(_.name -> 99.999)
    val cex = qs.filter(_.counterExample).map(_.name)
    val iso = results.take(Bench.IsolatedSideN).map { case (k, _) => k -> 9.999 }
    val full = Bench.renderFull(results, Seq("q_dedup_simhash" -> "OutOfMemoryError"),
      "sf0.1", Seq(120.0, 120.0, 120.0), cex, iso, passes = 3)
    assert(full.startsWith("""{"schema":1,"sf":"sf0.1","unit":"ms","passes":3,"""), full.take(80))
    // every catalog entry appears under its FULL name with its timing
    for (q <- qs) assert(full.contains("\"" + q.name + "\":"), s"missing ${q.name}")
    // the isolated map keeps all IsolatedSideN entries (the r9 line kept 5)
    val isoJson = "\"isolated\":\\{([^}]*)\\}".r.findFirstMatchIn(full).map(_.group(1))
    assert(isoJson.exists(_.count(_ == ':') == Bench.IsolatedSideN), isoJson.toString)
    // r10 directive (closed in r12): the side map must cover the slow
    // tail — pin the width so a silent narrowing can't recur
    assert(Bench.IsolatedSideN >= 40,
      s"IsolatedSideN=${Bench.IsolatedSideN}; the adjudication map needs >= 40")
    // failures render as an object (name -> class), counterexamples as an array
    assert(full.contains("\"failed\":{\"q_dedup_simhash\":\"OutOfMemoryError\"}"), full.takeRight(400))
    assert(full.contains("\"counterexamples\":[\"" + cex.head + "\""), full.takeRight(400))
    assert(full.contains("\"degraded\":false"), full.take(200))
  }

  test("bench_full failure rows render -1 and the canary envelope is shared with the line") {
    val full = Bench.renderFull(Seq("q_ok" -> 1.5, "q_boom" -> -1.0),
      Seq("q_boom" -> "IOException"), "sf1",
      Seq(120.0, 500.0, 120.0), Seq.empty, Seq.empty, passes = 1)
    assert(full.contains("\"q_boom\":-1"), full)
    assert(full.contains("\"total_ms\":1500"), full)
    // 500 ms breaches the spread arm (500/120 > 3) — same verdict as the line
    assert(full.contains("\"degraded\":true"), full)
  }

  test("a name selection fails on an unknown or empty list, naming the unknown names") {
    val sel = queries.QueryCatalog.select(Some("q_embed_neardup_auto_t90,q_embed_neardup_auto"))
    // catalog order, whatever order the list gives
    assert(sel.map(_.name) === names.filter(_.startsWith("q_embed_neardup_auto")))
    assert(queries.QueryCatalog.select(None).map(_.name) === names)
    val err = intercept[IllegalArgumentException](
      queries.QueryCatalog.select(Some("q_embed_neardup_auto,q_no_such_entry")))
    assert(err.getMessage.contains("q_no_such_entry") &&
      !err.getMessage.contains("q_embed_neardup_auto"), err.getMessage)
    intercept[IllegalArgumentException](queries.QueryCatalog.select(Some(" , ")))
  }

  test("an isolate request fails on a misspelled or unselected name, naming it") {
    val selected = Seq("q_filter_project", "q_embed_neardup_auto")
    assert(Bench.isolateRequest(None, selected).isEmpty)
    assert(Bench.isolateRequest(Some("q_embed_neardup_auto, q_filter_project"), selected) ===
      names.filter(selected.contains))
    val typo = intercept[IllegalArgumentException](
      Bench.isolateRequest(Some("q_filter_projcet"), selected))
    assert(typo.getMessage.contains("q_filter_projcet"), typo.getMessage)
    val outside = intercept[IllegalArgumentException](
      Bench.isolateRequest(Some("q_embed_neardup_auto,q_embed_neardup_auto_t90"), selected))
    assert(outside.getMessage.endsWith(": q_embed_neardup_auto_t90"), outside.getMessage)
  }

  test("the JSON string escaper names newline, CR and tab and code-escapes other controls") {
    assert(Bench.js("a\"b\\c\nd\re\tf\u0001") === "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001\"")
  }
}
