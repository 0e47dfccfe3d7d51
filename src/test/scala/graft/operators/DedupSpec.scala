package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "the quick brown fox jumps over a lazy dog"),   // near dup of 1
      (4L, "completely different content about spark sql engines"),
      (5L, "spark sql engines process completely different content"), // shares vocab w/ 4
      (6L, "short text")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps the lowest id per identical text") {
    val kept = Dedup.exact(docs).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Array(1L, 3L, 4L, 5L, 6L))
    val groups = Dedup.exactGroups(docs).collect()
    val dup = groups.filter(_.getAs[Long]("copies") == 2L)
    assert(dup.length === 1 && dup.head.getAs[Long]("keep_id") === 1L)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minHashLsh(docs, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical → jaccard 1.0
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("minhash jaccard estimate equals true jaccard for identical docs") {
    val j = Dedup.minHashLsh(docs, threshold = 0.5)
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .select("jaccard").head().getDouble(0)
    assert(j === 1.0)
  }

  test("portable minhash finds the same dup structure as the xxhash64 path") {
    // the xxhash64 family this once ran against is gone; the reference is
    // now the exact posting-list Jaccard, which banding must not lose
    // pairs against on clear duplicates (J = 1.0, 0.4) or invent any for
    // clear non-pairs (doc 6; docs 4/5 at J = 0.25)
    def norm(a: Long, b: Long) = (math.min(a, b), math.max(a, b))
    val p = Dedup.minHashLsh(docs, threshold = 0.3)
      .collect().map(r => norm(r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Dedup.ngramJaccard(docs, threshold = 0.3)
      .collect().map(r => norm(r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(p.keySet === exact.keySet)
    assert(p.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    p.foreach { case (k, j) => assert(j === exact(k), s"pair $k") }
  }

  test("portable simhash: identical docs collide at hamming 0, unrelated don't") {
    val pairs = Dedup.simHashPairs(docs, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) === 0)
    assert(!pairs.contains((1L, 4L)))
  }

  test("simHashSketch (aggregate path) is bit-identical to the simHash column") {
    val viaCol = docs.select(col("doc_id").cast("long").as("id"),
      Dedup.simHashHof(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaAgg = Dedup.simHashSketch(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg === viaCol)
  }

  test("simhash: identical docs at hamming 0; unrelated docs far apart") {
    val pairs = Dedup.simHashPairs(docs, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) === 0)
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((4L, 6L)))
  }

  test("simhash recall is complete up to maxHamming (blocks derived by pigeonhole)") {
    // exhaustive ground truth: all pairs with bit_count(xor) <= 20
    import org.apache.spark.sql.functions.{bit_count, col}
    val sk = docs.select(col("doc_id").cast("long").as("id"),
      Dedup.simHashHof(col("text")).as("sh"))
    val truth = sk.as("a").join(sk.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("int").as("h"))
      .filter(col("h") <= 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.simHashPairs(docs, maxHamming = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found === truth)
  }

  test("ngram jaccard computes the exact similarity") {
    val rows = Dedup.ngramJaccard(docs, threshold = 0.1)
      .collect().map(r => ((r.getLong(1), r.getLong(0)), r.getDouble(2))).toMap
    // doc1 vs doc2 identical: J = 1.0 (keys are (id_b, id_a) order-insensitive here)
    val j12 = rows.getOrElse((2L, 1L), rows((1L, 2L)))
    assert(j12 === 1.0)
    // doc1 vs doc3: 7 shingles each ("the quick brown", ... ) differing in
    // the 3 shingles containing "a"/"the" → |∩|=4, |∪|=10 → 0.4
    val j13 = rows.getOrElse((3L, 1L), rows((1L, 3L)))
    assert(j13 === 0.4)
  }

  test("ngram jaccard maxDf removes ubiquitous shingles from the sets") {
    import spark.implicits._
    // "x y z" appears in all four docs (df = 4); the a/b pair and the c/d
    // pair each share one PRIVATE shingle besides it. With maxDf = 3 the
    // ubiquitous gram leaves every set, so similarity is computed over
    // the reduced sets — exact, deterministic, and the cross-pair overlap
    // that rode ONLY on the common gram disappears.
    val corpus = Seq(
      (1L, "x y z p q r"),   // grams: xyz yzp zpq pqr
      (2L, "x y z p q s"),   // shares xyz yzp zpq with 1
      (3L, "x y z m n o"),
      (4L, "x y z m n u")
    ).toDF("doc_id", "text")
    val unfiltered = Dedup.ngramJaccard(corpus, threshold = 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // all six pairs overlap on the shared "x y z" prefix grams
    assert(unfiltered.contains((1L, 3L)) && unfiltered.contains((2L, 4L)))
    val filtered = Dedup.ngramJaccard(corpus, threshold = 0.1, maxDf = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // xyz (df 4) is gone from every set; yzp (df 2) survives for the 1-2
    // pair, yzm (df 2) for 3-4 — J over REDUCED sets: doc1 {yzp zpq pqr},
    // doc2 {yzp zpq pqs}: inter 2, union 4 -> 0.5
    assert(filtered((1L, 2L)) === 0.5)
    assert(filtered((3L, 4L)) === 0.5)
    // cross pairs shared only the dropped gram -> no longer near-dups
    assert(!filtered.contains((1L, 3L)) && !filtered.contains((2L, 4L)) &&
      !filtered.contains((1L, 4L)) && !filtered.contains((2L, 3L)))
  }

  test("repeated spans flags exactly the positions of shared n-token windows") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "one two three four five unique tail here"),
      (2L, "prefix words one two three four five other"),  // shares a 5-window with 1
      (3L, "totally different content with no overlap at all"),
      (4L, "loop loop loop loop loop loop loop")            // self-repeating
    ).toDF("doc_id", "text")
    val flagged = Dedup.repeatedSpans(corpus, n = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // doc1 pos 0 = "one two three four five" == doc2 pos 2
    assert(flagged.contains((1L, 0)) && flagged.contains((2L, 2)))
    // doc4: all three 5-windows are "loop"*5 → every position flagged
    assert(Set((4L, 0), (4L, 1), (4L, 2)).subsetOf(flagged))
    // no other doc1/doc2 window repeats; doc3 entirely clean
    assert(!flagged.exists(_._1 == 3L))
    assert(flagged === Set((1L, 0), (2L, 2), (4L, 0), (4L, 1), (4L, 2)))
  }

  test("docs shorter than the window are never flagged or cut") {
    import spark.implicits._
    // identical 2-token docs, window 5: no 5-token window exists
    val shorts = Seq((1L, "tiny doc"), (2L, "tiny doc")).toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(shorts, n = 5).isEmpty)
    val cut = Dedup.cutRepeatedSpans(shorts, n = 5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_cut")).toMap
    assert(cut(1L) === "tiny doc" && cut(2L) === "tiny doc")
  }

  test("cutting repeated spans keeps the canonical occurrence, cuts the rest") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "one two three four five unique tail here"),
      (2L, "prefix words one two three four five other"),
      (3L, "totally different content with no overlap at all"),
      (4L, "loop loop loop loop loop loop loop")
    ).toDF("doc_id", "text")
    val cut = Dedup.cutRepeatedSpans(corpus, n = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text_cut"), r.getAs[Long]("n_cut_tokens"))).toMap
    // doc1 holds the canonical occurrence → untouched
    assert(cut(1L) === ("one two three four five unique tail here", 0L))
    // doc2's copy of the window (tokens 2..6) is cut
    assert(cut(2L) === ("prefix words other", 5L))
    assert(cut(3L)._2 === 0L)
    // doc4 self-repeats: the canonical window (tokens 0..4) survives intact
    // even though overlapping non-canonical windows cover tokens 1..6 —
    // only the suffix outside the keeper window (tokens 5,6) is cut
    assert(cut(4L) === ("loop loop loop loop loop", 2L))
  }

  test("strict span cut removes cross-gram fragments the default mode keeps") {
    import spark.implicits._
    // docC(id=2) "a b c d e": window X="a b c" is canonical IN docC
    // ((2,0) < docB's (3,0)); window Y="b c d" is canonical in docA
    // ((1,0) < (2,1)), so docC's copy of Y (tokens 1..3) is non-canonical
    // but overlaps docC's keeper X window (tokens 0..2)
    val corpus = Seq(
      (1L, "b c d x y"),
      (2L, "a b c d e"),
      (3L, "a b c q r")
    ).toDF("doc_id", "text")
    def run(strict: Boolean): Map[Long, (String, Long)] =
      Dedup.cutRepeatedSpans(corpus, n = 3, strict = strict)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("text_cut"), r.getAs[Long]("n_cut_tokens"))).toMap
    val default = run(strict = false)
    val strictM = run(strict = true)
    // canonical homes untouched in both modes
    assert(default(1L)._2 === 0L && strictM(1L)._2 === 0L)
    assert(default(3L) === ("q r", 3L) && strictM(3L) === ("q r", 3L))
    // docC default: Y's tokens {1,2,3} minus keeper-X cover {0,1,2} → cut
    // only token 3 (the 'd' fragment survives... inside X's kept window)
    assert(default(2L) === ("a b c e", 1L))
    // docC strict: X's keeper cover no longer shields Y's span → tokens
    // {1,2,3} all cut; keeper X is eroded, but no copy of Y survives
    assert(strictM(2L) === ("a e", 3L))
  }

  test("incremental dedup keeps only texts unseen in the base corpus") {
    import spark.implicits._
    val base = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "alpha beta"),     // exact dup of base 1 → dropped
      (11L, "gamma delta"),    // exact dup of base 2 → dropped
      (12L, "epsilon zeta")    // genuinely new → kept
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalExact(fresh, base).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(12L))
    // self-dedup degenerates to empty
    assert(Dedup.incrementalExact(base, base).isEmpty)
  }

  test("incremental near-dup dedup probes a sketch table, never base text") {
    import spark.implicits._
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "spark engines compile declarative plans into distributed physical stages"),
      (3L, "completely unrelated base document about cooking pasta with garlic")
    ).toDF("doc_id", "text")
    // the persisted state: (id, sig) ONLY — no text column exists to scan
    val sketches = Dedup.minHashSketchTable(base)
    assert(sketches.columns.toSeq.sorted === Seq("id", "sig"))
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "spark engines compile declarative plans into distributed physical stages now"),
      (12L, "entirely fresh content that matches nothing in the base corpus at all")
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalMinHash(batch, sketches)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // 10 = exact copy (est 1.0), 11 = near dup (one appended word,
    // est >> 0.5) -> both dropped; 12 survives
    assert(kept === Array(12L))
  }

  test("operator-internal caches are tracked and releasable") {
    OperatorCaches.releaseAll()
    assert(OperatorCaches.liveCount === 0)
    val pairs = Dedup.minHashLsh(docs, threshold = 0.3)
    val before = pairs.count()
    assert(OperatorCaches.liveCount > 0)
    OperatorCaches.releaseAll()
    assert(OperatorCaches.liveCount === 0)
    // releasing is correctness-neutral: the frame recomputes from lineage
    assert(pairs.count() === before)
  }

  test("winnowing: shared-run guarantee, density, short-doc clamp") {
    import spark.implicits._
    val k = 4; val w = 8
    val rnd = new scala.util.Random(7)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(5000)}").mkString(" ")
    val run = words(k + w - 1) // any shared run >= w+k-1 tokens must collide
    val d = Seq(
      (1L, words(60) + " " + run + " " + words(60)),
      (2L, words(55) + " " + run + " " + words(70)),
      (3L, words(80)),
      (4L, "tiny doc") // < k tokens: exactly one whole-doc gram, one window
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(d, k = k, w = w)
      .select(col("doc_id"), col("winnow_fps")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // Schleimer guarantee: docs 1 and 2 share at least one fingerprint
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty)
    // density ≈ 2/(w+1) of gram positions, loosely bounded
    val g1 = 60 + (k + w - 1) + 61 - (k - 1)
    assert(fps(1L).size < g1 / 2 && fps(1L).size > g1 / 20,
      s"selected ${fps(1L).size} of $g1 grams")
    assert(fps(4L).size === 1)
    // deterministic under repartition (narrow, hash-only)
    val again = Dedup.winnowFingerprints(d.repartition(5), k = k, w = w)
      .select(col("doc_id"), col("winnow_fps")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(again === fps)
  }

  test("native Portable60Grams is lockstep with the HOF winnowing pipeline") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    def words(n: Int) = Seq.fill(n)(s"t${rnd.nextInt(300)}").mkString(" ")
    val d = ((1L to 40L).map(i => (i, words(1 + rnd.nextInt(60)))) ++
      Seq((100L, "a"), (101L, "a b"), (102L, "a b c d e f g h"),
          (103L, "  padded   whitespace  run  "))).toDF("doc_id", "text")
    for ((k, w) <- Seq((4, 8), (1, 1), (3, 4), (8, 2))) {
      val native = Dedup.winnowFingerprints(d, k = k, w = w)
        .select("doc_id", "winnow_fps").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val hof = Dedup.winnowFingerprintsHof(d, k = k, w = w)
        .select("doc_id", "winnow_fps").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(native === hof, s"k=$k w=$w")
    }
    // and the native values really are the portable contract: hash of the
    // gram STRING, so an engine hashing "a b" reproduces element 0
    val direct = Dedup.winnowFingerprints(
      Seq((1L, "a b")).toDF("doc_id", "text"), k = 2, w = 1)
      .select("winnow_fps").head().getSeq[Long](0)
    assert(direct === Seq(PortableHash.portable60("a b")))
    // interpreted path (nullSafeEval) agrees with the codegen path both
    // expressions took above — same lockstep bar as MinHashSignature
    val conf = spark.conf
    val underCodegen = Dedup.winnowFingerprints(d, k = 4, w = 8)
      .select("doc_id", "winnow_fps").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val prevWs = conf.get("spark.sql.codegen.wholeStage")
    val prevFm = conf.get("spark.sql.codegen.factoryMode")
    try {
      conf.set("spark.sql.codegen.wholeStage", "false")
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = Dedup.winnowFingerprints(d, k = 4, w = 8)
        .select("doc_id", "winnow_fps").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(interpreted === underCodegen)
    } finally {
      conf.set("spark.sql.codegen.wholeStage", prevWs)
      conf.set("spark.sql.codegen.factoryMode", prevFm)
    }
  }

  test("incremental winnow probe flags re-crawls against a persisted index") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    def words(n: Int) = Seq.fill(n)(s"u${rnd.nextInt(5000)}").mkString(" ")
    val baseDocs = (1L to 20L).map(i => (i, words(60))).toDF("doc_id", "text")
    val baseIdx = Dedup.winnowPostings(baseDocs)
    // new batch: doc 101 = verbatim copy of base 1's tail half (shared run
    // >> w + k - 1 → guaranteed hit), doc 102 = fresh text (no hit)
    val tail1 = baseDocs.filter(col("doc_id") === 1).head().getString(1)
      .split(" ").drop(30).mkString(" ")
    val batch = Seq((101L, tail1), (102L, words(60))).toDF("doc_id", "text")
    val hits = Dedup.winnowIncremental(batch, baseIdx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((101L, 1L)), s"guaranteed probe hit missing: $hits")
    assert(!hits.exists(_._1 == 102L), s"fresh doc flagged: $hits")
    OperatorCaches.releaseAll()
  }

  test("winnowing near-dup pairs find planted dups; maxDf caps hub grams") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def words(n: Int) = Seq.fill(n)(s"v${rnd.nextInt(5000)}").mkString(" ")
    val shared = words(40)
    val hub = words(12) // boilerplate every doc carries
    val d = ((1L to 2L).map(i => (i, words(30) + " " + shared + " " + words(30))) ++
      (3L to 30L).map(i => (i, words(50) + " " + hub))).toDF("doc_id", "text")
    val pairs = Dedup.winnowNearDupPairs(d, minShared = 2, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"planted pair missing: $pairs")
    // the hub boilerplate is carried by 28 docs > maxDf=10: its
    // fingerprints are dropped, so no hub-only pair can form
    val hubPairs = pairs.filter { case (a, b) => a >= 3L && b >= 3L }
    assert(hubPairs.isEmpty, s"hub-driven pairs leaked: $hubPairs")
    OperatorCaches.releaseAll()
  }

  test("containmentPairs catches a short doc quoted inside a long one") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def words(n: Int) = Seq.fill(n)(s"c${rnd.nextInt(4000)}").mkString(" ")
    val article = words(20)
    val d = Seq(
      (1L, article),                                   // the short original
      (2L, words(80) + " " + article + " " + words(80)), // aggregator quoting it
      (3L, words(90))                                  // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === 1)
    assert(got.head._1 === 1L && got.head._2 === 2L && got.head._3 === 1.0)
    // jaccard at the same threshold misses it: union is dominated by doc 2
    val j = Dedup.ngramJaccard(d, threshold = 0.7).collect()
    assert(j.isEmpty)
    OperatorCaches.releaseAll()
  }

  test("containmentPairs candidate gate: fires with a sized diagnosis, passes under the ceiling unchanged") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // near-identical docs (30 shared words + a 2-word unique tail): at
    // t=0.3 the prefix keeps ~70% of each ranked list, so the shared
    // high-df grams sit inside the prefix despite rare-first ranking and
    // the estimate goes df-head-quadratic — the regime the gate exists for
    val body = Seq.fill(30)(s"w${rnd.nextInt(100000)}").mkString(" ")
    val d = (1L to 40L).map(i => (i, body + s" u${i}a u${i}b")).toDF("doc_id", "text")
    val est = Dedup.expectedContainmentCandidates(d, threshold = 0.3)
    assert(est >= 40L * 39 / 2, s"boilerplate corpus estimate too low: $est")
    // tiny ceiling: fail fast, diagnosis names the levers
    val ex = intercept[IllegalArgumentException] {
      Dedup.containmentPairs(d, threshold = 0.3, maxExpectedCandidates = 10)
    }
    assert(ex.getMessage.contains("maxDf"), ex.getMessage)
    assert(ex.getMessage.contains("expectedContainmentCandidates"), ex.getMessage)
    // generous ceiling: results identical to the ungated operator
    val gated = Dedup.containmentPairs(d, threshold = 0.3,
      maxExpectedCandidates = est.toDouble + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = Dedup.containmentPairs(d, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gated === plain)
    OperatorCaches.releaseAll()
  }

  test("containmentPairs prefix filter is lossless vs brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vocab = (0 until 60).map(i => s"t$i")
    def doc() = Seq.fill(12 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val rows = (1L to 40L).map(i => (i, doc()))
    val d = rows.toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getDouble(2))).toMap
    def sh(s: String) = {
      val t = s.split(" ").toSeq
      (if (t.length < 3) Seq(t.mkString(" "))
       else t.sliding(3).map(_.mkString(" ")).toSeq).distinct.toSet
    }
    val sets = rows.map { case (i, s) => i -> sh(s) }.toMap
    val brute = (for {
      a <- rows.map(_._1); b <- rows.map(_._1)
      if a != b
      (small, big) = if (sets(a).size < sets(b).size) (a, b)
        else if (sets(a).size > sets(b).size) (b, a)
        else (math.min(a, b), math.max(a, b))
      if (small, big) == (a, b)
      c = BigDecimal(sets(small).intersect(sets(big)).size.toDouble / sets(small).size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= 0.3
    } yield (small, big) -> c).toMap
    assert(got === brute, s"spark=${got.size} brute=${brute.size}")
    OperatorCaches.releaseAll()
  }

  test("lineDedup keeps each distinct line only at its first occurrence") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha\nboiler\nbeta"),
      (2L, "boiler\ngamma\nboiler"), // cross-doc dup + in-doc dup of 'boiler'
      (3L, "boiler"),                // all lines removed
      (4L, "delta\nalpha")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, split(col("text"), "\n"))
      .select("doc_id", "n_lines", "n_kept", "text_dedup")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .sortBy(_._1)
    assert(out(0) === ((1L, 3, 3, "alpha\nboiler\nbeta")))
    assert(out(1) === ((2L, 3, 1, "gamma"))) // both 'boiler' copies struck
    assert(out(2) === ((3L, 1, 0, "")))      // empty doc survives as a row
    assert(out(3) === ((4L, 2, 1, "delta"))) // 'alpha' first seen in doc 1
  }

  test("lineDedupIncremental strikes base-owned lines everywhere, first-occurrence for fresh") {
    import spark.implicits._
    val linesOf = split(col("text"), "\n")
    val base = Seq((100L, "boiler\nold")).toDF("doc_id", "text")
    val digests = Dedup.lineDigests(base, linesOf)
    val batch = Seq(
      (1L, "boiler\nfresh"), // 'boiler' owned by base; 'fresh' first here
      (2L, "fresh\nnew")     // 'fresh' already won in doc 1
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedupIncremental(batch, digests, linesOf)
      .select("doc_id", "n_kept", "text_dedup")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(_._1)
    assert(out(0) === ((1L, 1, "fresh")))
    assert(out(1) === ((2L, 1, "new")))
  }
}
