package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Property tests for the dedup sketches: invariants over seeded random
  * corpora and graphs, not just crafted fixtures.
  */
class DedupPropertySpec extends SparkSpec {

  private val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi")

  private def randomDocs(seed: Long, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map { i =>
      val len = 3 + rnd.nextInt(25)
      i -> Seq.fill(len)(words(rnd.nextInt(words.size))).mkString(" ")
    }
  }

  test("minhash jaccard estimates track true jaccard within banding recall") {
    import spark.implicits._
    // 120 random docs plus exact duplicates of the first 30 (ids +1000):
    // every duplicate pair has J=1 and MUST collide in all 16 bands
    val base = randomDocs(7L, 120)
    val docs = (base ++ base.take(30).map { case (i, t) => (i + 1000L, t) })
      .toDF("doc_id", "text")
    val reported = Dedup.minHashLsh(docs, threshold = 0.0, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every reported pair's jaccard is the TRUE shingle jaccard (the
    // verify join recomputes it exactly), so all values lie in (0, 1]
    assert(reported.values.forall(j => j > 0.0 && j <= 1.0))
    // complete recall on the planted J=1 pairs, each reported as exactly 1
    for (i <- 0L until 30L)
      assert(reported.get((i, i + 1000L)).contains(1.0), s"missing dup pair $i")
  }

  test("span cut equals a brute-force reference in BOTH modes on random corpora") {
    import spark.implicits._
    // straight-line reimplementation of the cut semantics over string
    // grams — quadratic, driver-side, obviously-correct
    def refCut(docs: Seq[(Long, String)], n: Int, strict: Boolean)
        : Map[Long, (String, Long)] = {
      val toks = docs.map { case (id, t) =>
        id -> t.trim.toLowerCase.split("\\s+").toSeq }.toMap
      val wins = for {
        (id, ts) <- toks.toSeq; if ts.size >= n
        p <- 0 to ts.size - n
      } yield (id, p, ts.slice(p, p + n).mkString(" "))
      val byGram = wins.groupBy(_._3).filter(_._2.size > 1)
      val keeper = byGram.map { case (g, occ) =>
        g -> occ.map(w => (w._1, w._2)).min }
      val nk = for {
        (g, occ) <- byGram.toSeq; (id, p, _) <- occ
        if (id, p) != keeper(g); i <- p until p + n
      } yield (id, i, g)
      val kp = for {
        (g, occ) <- byGram.toSeq; (id, p, _) <- occ
        if (id, p) == keeper(g); i <- p until p + n
      } yield (id, i, g)
      val kpAny = kp.map(t => (t._1, t._2)).toSet
      val kpByGram = kp.toSet
      val cut = nk.filter(t =>
          if (strict) !kpByGram.contains(t)
          else !kpAny.contains((t._1, t._2)))
        .map(t => (t._1, t._2)).toSet
      docs.map { case (id, _) =>
        val ts = toks(id)
        val kept = ts.zipWithIndex.collect {
          case (t, i) if !cut.contains((id, i)) => t }
        id -> (kept.mkString(" "), (ts.size - kept.size).toLong)
      }.toMap
    }
    // tiny vocab + long docs force heavy window repetition (within and
    // across docs), hitting keeper overlap, chains, and self-repeats
    val tiny = Vector("a", "b", "c", "d")
    for (seed <- Seq(3L, 17L, 41L); strict <- Seq(false, true)) {
      val rnd = new scala.util.Random(seed)
      val corpus = (0L until 12L).map { i =>
        val len = rnd.nextInt(16) // includes docs below the n=3 floor
        i -> Seq.fill(len)(tiny(rnd.nextInt(tiny.size))).mkString(" ")
      }
      val got = Dedup.cutRepeatedSpans(corpus.toDF("doc_id", "text"),
          n = 3, strict = strict)
        .select("doc_id", "text_cut", "n_cut_tokens")
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(got === refCut(corpus, n = 3, strict = strict),
        s"seed=$seed strict=$strict")
    }
  }

  test("prefix-filtered ngram jaccard equals brute-force all-pairs exactly") {
    import spark.implicits._
    // random docs plus mutated copies (0–60% of tokens replaced) → pairs
    // spread across every similarity band, including both threshold sides
    for (seed <- Seq(11L, 23L)) {
      val rnd = new scala.util.Random(seed * 31)
      val base = randomDocs(seed, 40)
      val mutated = base.map { case (i, t) =>
        val toks = t.split(" ")
        val m = toks.map(w =>
          if (rnd.nextDouble() < 0.6 * rnd.nextDouble())
            words(rnd.nextInt(words.size))
          else w)
        (i + 1000L, m.mkString(" "))
      }
      val docs = (base ++ mutated).toDF("doc_id", "text")
      val sh = docs.select(col("doc_id").as("id"),
        Dedup.shingles(col("text"), 3).as("sh"))
      val truth = sh.as("a").crossJoin(sh.as("b"))
        .filter(col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id"),
          round(size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
            (size(col("a.sh")) + size(col("b.sh")) -
              size(array_intersect(col("a.sh"), col("b.sh")))), 4).as("j"))
        .filter(col("j") >= 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val got = Dedup.ngramJaccard(docs, threshold = 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got === truth, s"seed $seed")
      assert(truth.nonEmpty, s"seed $seed produced no pairs — weak test")
    }
  }

  test("maxDf ngram jaccard equals brute force over df-filtered sets") {
    import spark.implicits._
    // maxDf semantics = ubiquitous-shingle REMOVAL before similarity; the
    // independent truth is brute-force Jaccard over the df-filtered sets,
    // computed via a totally different path (explode + df count + rebuild
    // + crossJoin) than the operator's inverted index + prefix filters.
    // A shared boilerplate suffix on half the docs manufactures the df
    // head the filter must cut.
    for (seed <- Seq(7L, 19L)) {
      val rnd = new scala.util.Random(seed * 17)
      val base = randomDocs(seed, 40)
      val mutated = base.map { case (i, t) =>
        val toks = t.split(" ")
        val m = toks.map(w =>
          if (rnd.nextDouble() < 0.5 * rnd.nextDouble())
            words(rnd.nextInt(words.size))
          else w)
        (i + 1000L, m.mkString(" "))
      }
      val docs = (base ++ mutated).map { case (i, t) =>
        if (i % 2 == 0) (i, t + " common boiler plate suffix") else (i, t)
      }.toDF("doc_id", "text")
      val maxDf = 10
      val sh = docs.select(col("doc_id").as("id"),
        Dedup.shingles(col("text"), 3).as("sh"))
      val p = sh.select(col("id"), explode(col("sh")).as("g"))
      val keepG = p.groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("g")
      // the filter must BIND, or this test degenerates to the plain one
      assert(p.select("g").distinct().count() > keepG.count(), s"seed $seed")
      val fsh = p.join(keepG, Seq("g"))
        .groupBy("id").agg(collect_set(col("g")).as("sh"))
      val truth = fsh.as("a").crossJoin(fsh.as("b"))
        .filter(col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id"),
          round(size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
            (size(col("a.sh")) + size(col("b.sh")) -
              size(array_intersect(col("a.sh"), col("b.sh")))), 4).as("j"))
        .filter(col("j") >= 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val got = Dedup.ngramJaccard(docs, threshold = 0.3, maxDf = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got === truth, s"seed $seed")
      assert(truth.nonEmpty, s"seed $seed produced no pairs — weak test")
    }
  }

  test("simhash of identical text is identical; hamming bounded by 64") {
    import spark.implicits._
    val docs = randomDocs(11L, 80).toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(docs, maxHamming = 64).collect()
    assert(pairs.nonEmpty)
    for (r <- pairs) {
      val h = r.getInt(2)
      assert(h >= 0 && h <= 64)
    }
    // self-consistency: duplicate text rows hash identically (hamming 0)
    val dup = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val d = Dedup.simHashPairs(dup, maxHamming = 0).collect()
    assert(d.length === 1 && d.head.getInt(2) === 0)
  }

  test("hammingPairs equals brute force over random 64-bit sketches") {
    import spark.implicits._
    // the pigeonhole banding is a recall GUARANTEE, not a probability:
    // pairs within maxHamming must match brute force EXACTLY, across
    // random sketches and several radii (incl. 0 and a wide 12)
    val rnd = new scala.util.Random(99)
    val sketches = (1L to 120L).map { i =>
      // half the sketches are perturbations of a shared base so small
      // hamming distances actually occur
      val base = if (i % 2 == 0) 0x5a5a5a5a5a5a5a5aL else rnd.nextLong()
      val flips = rnd.nextInt(8)
      val s = (1 to flips).foldLeft(base)((acc, _) => acc ^ (1L << rnd.nextInt(64)))
      (i, s)
    }
    val df = sketches.toDF("id", "sh")
    for (maxH <- Seq(0, 3, 12)) {
      val truth = (for {
        (ia, sa) <- sketches; (ib, sb) <- sketches if ia < ib
        h = java.lang.Long.bitCount(sa ^ sb) if h <= maxH
      } yield (ia, ib, h)).toSet
      val got = Dedup.hammingPairs(df, maxHamming = maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === truth, s"maxHamming=$maxH")
      assert(maxH == 0 || truth.nonEmpty, s"maxHamming=$maxH found no pairs — weak test")
    }
  }

  test("hammingPairs equals brute force on a dead-region (48-bit) domain") {
    import spark.implicits._
    // the strided-banding change is motivated by low-entropy CONTIGUOUS
    // bit regions (60-bit portable sketches, correlated dHash gradients);
    // prove results stay exact when bits 48–63 are constant — the layout
    // where contiguous blocks at maxHamming = 6 had an entirely dead block
    val rnd = new scala.util.Random(7)
    val sketches = (1L to 100L).map { i =>
      val base = if (i % 2 == 0) 0x0000123456789abcL else rnd.nextLong() & 0xffffffffffffL
      val flips = rnd.nextInt(9)
      val s = (1 to flips).foldLeft(base)((acc, _) => acc ^ (1L << rnd.nextInt(48)))
      (i, s)
    }
    val df = sketches.toDF("id", "sh")
    for (maxH <- Seq(3, 6)) {
      val truth = (for {
        (ia, sa) <- sketches; (ib, sb) <- sketches if ia < ib
        h = java.lang.Long.bitCount(sa ^ sb) if h <= maxH
      } yield (ia, ib, h)).toSet
      val got = Dedup.hammingPairs(df, maxHamming = maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === truth, s"maxHamming=$maxH")
      assert(truth.nonEmpty, s"maxHamming=$maxH found no pairs — weak test")
    }
  }

  test("expectedHammingCandidates: exact bucket arithmetic, strided spread") {
    import spark.implicits._
    // (1) the estimate IS the banded join's candidate count: replay the
    // strided gather on the driver and compare exactly
    val rnd = new scala.util.Random(13)
    val small = (1L to 60L).map(i => (i, rnd.nextLong() & 0xfffffffL))
    val maxH = 4
    val chunks = maxH + 1
    def gather(sh: Long, blk: Int): Long =
      (blk until 64 by chunks).zipWithIndex.foldLeft(0L) { case (acc, (pos, j)) =>
        acc | (((sh >>> pos) & 1L) << j)
      }
    val expect = (0 until chunks).map { blk =>
      small.map(_._2).distinct.groupBy(gather(_, blk)).values
        .map(g => g.size.toLong * (g.size - 1)).sum
    }.sum
    val got = Dedup.expectedHammingCandidates(small.toDF("id", "sh"), maxH)
    assert(got === expect)

    // (2) the motivating bound: 2,000 sketches whose top 16 bits are
    // constant, radius 6. A contiguous layout has an entirely dead block
    // (floor n·(n−1) candidates from it alone); the strided layout must
    // land well below that floor because no block loses more than 3 of
    // its ~9 positions to the dead region
    val n = 2000
    val dead = (1L to n.toLong).map(i => (i, rnd.nextLong() & 0xffffffffffffL))
    val est = Dedup.expectedHammingCandidates(dead.toDF("id", "sh"), maxHamming = 6)
    assert(est > 0L)
    assert(est < n.toLong * (n - 1) / 2,
      s"strided banding should beat a single dead block's floor: $est")

    // (3) the opt-in pre-flight gate: a ceiling under the estimate fails
    // fast with a diagnosis; at/above it (and at the lazy default) the
    // frame constructs and still returns exact pairs
    val err = intercept[IllegalArgumentException] {
      Dedup.hammingPairs(dead.toDF("id", "sh"), maxHamming = 6,
        maxExpectedCandidates = est - 1.0)
    }
    assert(err.getMessage.contains("candidate pairs"))
    assert(err.getMessage.contains("expectedHammingCandidates"))
    Dedup.hammingPairs(dead.toDF("id", "sh"), maxHamming = 6,
      maxExpectedCandidates = est.toDouble)
    OperatorCaches.releaseAll()
  }

  test("star and min-label components agree across many random graphs") {
    import spark.implicits._
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val n = 40 + rnd.nextInt(40)
      val m = n + rnd.nextInt(3 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val pairs = edges.toDF("id_a", "id_b")
      val star = Dedup.starComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val prop = Dedup.minLabelComponents(pairs, rounds = 100).get
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star === prop, s"divergence at seed=$seed n=$n m=$m")
      // every label is a member of its own component (root is reachable)
      assert(star.forall { case (_, c) => star.get(c).contains(c) })
    }
  }

  test("shingle count is max(1, tokens - k + 1) for distinct tokens") {
    import spark.implicits._
    for (len <- Seq(1, 2, 3, 4, 10, 30)) {
      val text = (0 until len).map(i => s"w$i").mkString(" ")
      val n = Seq((1L, text)).toDF("doc_id", "text")
        .select(size(Dedup.shingles(col("text"), 3)).as("n")).head().getInt(0)
      assert(n === math.max(1, len - 2), s"len=$len")
    }
    // degenerate: high-repetition text dedups shingles below the bound
    val rep = Seq((1L, Seq.fill(20)("same").mkString(" "))).toDF("doc_id", "text")
      .select(size(Dedup.shingles(col("text"), 3)).as("n")).head().getInt(0)
    assert(rep === 1)
  }
}
