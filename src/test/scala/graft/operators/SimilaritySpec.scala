package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private lazy val vecs = {
    import spark.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // identical to query
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // close
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // orthogonal
      (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),  // opposite
      (5L, Array(0.5f, 0.5f, 0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
  }

  test("brute-force top-k ranks by cosine with id tie-break") {
    val top = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") =!= 0), Seq(1.0, 0.0, 0.0, 0.0), k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.map(_._1).toSeq === Seq(1L, 2L, 5L))
    assert(top(0)._2 === 1.0)
    assert(top(1)._2 === math.rint(0.9 / math.sqrt(0.82) * 10000) / 10000)
  }

  test("ANN LSH with multiprobe recovers the exact nearest neighbor") {
    val ann = Similarity.annTopK(vecs.filter(col("vec_id") =!= 0),
      Seq(1.0, 0.0, 0.0, 0.0), dim = 4, k = 2, nPlanes = 8, probeHamming = 3)
      .collect().map(_.getLong(0))
    assert(ann.contains(1L))
  }

  test("near-dup pairs finds identical vectors above threshold") {
    // caller-supplied corpus size; the auto-mode test below counts it
    val pairs = Similarity.cosineNearDupPairs(vecs, dim = 4, threshold = 0.95,
      n = Some(6L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
    assert(!pairs.exists(p => p._2 == 4L)) // opposite vector never matches
  }

  test("auto banding: width tracks corpus size, bands hit the recall target") {
    def recall(t: Double, w: Int, b: Int): Double = {
      val p = 1.0 - math.acos(t) / math.Pi
      1.0 - math.pow(1.0 - math.pow(p, w), b)
    }
    // cost-optimal width grows with corpus size at fixed threshold (the
    // candidate term b·n/2^w pushes w up ~log2(n)); no 63-bit pack
    // ceiling anymore — per-band keys (lshBandKeys) lift it
    val widths = Seq(1000L, 100000L, 10000000L).map { n =>
      val (np, b) = Similarity.autoCosineBanding(0.95, n, dim = 64)
      assert(np % b == 0, s"n=$n -> ($np, $b)")
      assert(recall(0.95, np / b, b) >= 0.95, s"recall miss at n=$n: ($np, $b)")
      np / b
    }
    assert(widths == widths.sorted && widths.distinct.size > 1, widths.toString)
    // low threshold: recall demands many bands; among the widths that can
    // still hit 95% within the band cap, modeled cost picks the widest
    // (fewest candidates) — and the recall target still holds
    val (npLow, bLow) = Similarity.autoCosineBanding(0.25, 5000L, dim = 64)
    assert(npLow % bLow == 0 && bLow <= 64)
    assert(recall(0.25, npLow / bLow, bLow) >= 0.95, s"($npLow, $bLow)")
  }

  test("near-dup pairs in auto mode finds the same clear dups") {
    val pairs = Similarity.cosineNearDupPairs(vecs, dim = 4, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
    assert(!pairs.exists(p => p._2 == 4L))
  }

  test("int8 quantization: bounded round-trip error, zero-vector safe, tinyint payload") {
    import spark.implicits._
    val vecs8 = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.003f, 0.001f, -0.002f, 0.0015f)), // small dynamic range
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f))            // all-zero: scale 0
    ).toDF("vec_id", "embedding")
    val quant = Similarity.quantizeInt8(vecs8)
    // payload really is tinyint (the 8x shuffle-width claim)
    assert(quant.schema("qv").dataType.simpleString === "array<tinyint>")
    val rows = quant.select(col("id"), col("scale"),
        Similarity.dequantize(col("qv"), col("scale")).as("d"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Double](2))).toList
    val orig = vecs8.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    for ((id, scale, d) <- rows) {
      // per-component reconstruction error is at most half a grid step
      orig(id).zip(d).foreach { case (x, xd) =>
        assert(math.abs(x - xd) <= scale / 2 + 1e-12, s"id=$id x=$x xd=$xd scale=$scale")
      }
      // max-magnitude component hits the grid end: |q| = 127, so the
      // reconstruction is max|x| up to IEEE division/multiply round-trip
      if (scale > 0)
        assert(math.abs(d.map(math.abs).max - orig(id).map(math.abs).max) <= 1e-12)
    }
    // the all-zero vector survives (scale 0 -> zeros, no division blowup)
    val z = rows.find(_._1 == 3L).get
    assert(z._2 === 0.0 && z._3.forall(_ === 0.0))
  }

  test("int8 quantization error bound holds across seeded random vectors") {
    import spark.implicits._
    // one batch, one job: 300 vectors of mixed dimension (1-8) and
    // magnitude (1e-6 .. 1e6), seeded — sweeps the regimes the unit test
    // can't (negative-heavy, near-clamp, tiny dynamic range) against the
    // scheme's analytic guarantee |x - dq| <= scale/2
    val rnd = new scala.util.Random(42)
    val data = (1L to 300L).map { i =>
      val dim = 1 + rnd.nextInt(8)
      val mag = math.pow(10.0, rnd.nextInt(13) - 6)
      (i, Array.fill(dim)((rnd.nextDouble() * 2 - 1) * mag))
    }
    val out = Similarity.quantizeInt8(data.toDF("vec_id", "embedding"))
      .select(col("id"), col("scale"), col("qv"),
        Similarity.dequantize(col("qv"), col("scale")).as("d"))
      .collect()
    assert(out.length === 300)
    val orig = data.toMap
    for (r <- out) {
      val (id, scale) = (r.getLong(0), r.getDouble(1))
      assert(r.getSeq[Byte](2).forall(q => q >= -127 && q <= 127))
      orig(id).zip(r.getSeq[Double](3)).foreach { case (x, xd) =>
        // scale/2 is the real-arithmetic bound; the 1e-9 relative slack
        // covers the IEEE division/multiply round-trip
        assert(math.abs(x - xd) <= scale / 2 * (1 + 1e-9),
          s"id=$id x=$x xd=$xd scale=$scale")
      }
    }
  }

  test("auto mode fails fast in the GW-infeasible regime with a diagnosis") {
    // (t=0.25, n=5e5): BENCH_SF10 §5's measured scale-killer — the
    // estimate (~1.7e11 candidate pairs) must refuse BEFORE any Spark
    // work, naming the number and the scale paths, instead of dying in a
    // generic SparkException 20 minutes into the band join
    val est = Similarity.expectedAutoCandidatePairs(0.25, 500000L, dim = 64)
    assert(est > 1e10, f"regime drifted: estimate $est%.2e")
    val err = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(vecs, dim = 64, threshold = 0.25,
        n = Some(500000L))
    }
    assert(err.getMessage.contains("candidate pairs"))
    assert(err.getMessage.contains("annTopKAuto"))
    assert(err.getMessage.contains("ivfTopK"))
    // the ceiling is caller-overridable: forcing constructs the frame
    // (no job runs — caller-supplied n keeps construction pure)
    Similarity.cosineNearDupPairs(vecs, dim = 64, threshold = 0.25,
      n = Some(500000L), maxExpectedCandidatePairs = 1e12)
    // and the feasible regime passes through untouched: t=0.9 at the same
    // corpus size derives near-linear candidates, far under the ceiling
    assert(Similarity.expectedAutoCandidatePairs(0.9, 500000L, dim = 64) < 1e9)
    Similarity.cosineNearDupPairs(vecs, dim = 64, threshold = 0.9,
      n = Some(500000L))
    // the constructed-but-never-run frames above are REGISTERED in the
    // CacheManager with a deliberately ill-typed plan (dim 64 over 4-dim
    // vectors); drop them here or a later test's cache activity re-plans
    // them (recache-by-condition) and trips the dim check mid-suite
    OperatorCaches.releaseAll()
  }

  test("signSketch packs component signs; binaryTopK matches a driver replay") {
    import spark.implicits._
    // 300 seeded 64-d vectors; the full shortlist+rerank path must equal
    // an exact driver-side replay of the same deterministic rules
    val rnd = new scala.util.Random(21)
    val corpus = (1L to 300L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val df = corpus.toDF("vec_id", "embedding")
    val qv = Array.fill(64)(rnd.nextGaussian())
    def sketch(v: Seq[Double]): Long =
      v.take(60).zipWithIndex.map { case (x, j) => if (x >= 0) 1L << j else 0L }
        .reduce(_ | _)
    val qs = sketch(qv.toSeq)
    def cosr(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      math.rint(d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum)) * 1e4) / 1e4
    }
    val m = 50
    val expectShort = corpus
      .map { case (i, v) =>
        (i, java.lang.Long.bitCount(sketch(v.map(_.toDouble).toSeq) ^ qs)) }
      .sortBy { case (i, h) => (h, i) }.take(m).map(_._1).toSet
    val expectTop = corpus.filter(c => expectShort(c._1))
      .map { case (i, v) => (i, cosr(v.map(_.toDouble).toSeq, qv.toSeq)) }
      .sortBy { case (i, s) => (-s, i) }.take(10)
    val got = Similarity.binaryTopK(df, qv.toSeq, k = 10, m = m)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === expectTop)
    // and the shortlist is doing its job: recall@10 vs brute force is
    // high on isotropic data (sign sketches preserve angle ordering)
    val brute = Similarity.bruteForceTopK(df, qv.toSeq, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(got.map(_._1).count(brute) >= 6, s"recall collapsed: $got")
  }

  test("random projection: driver replay, JL neighbor preservation, stability") {
    import spark.implicits._
    val dimIn = 64; val dimOut = 16
    val sm = Similarity.signMatrix(dimIn, dimOut, "rp")
    assert(sm.length === dimOut && sm.forall(_.length === dimIn))
    assert(sm.flatten.forall(x => x == 1.0 || x == -1.0))
    // parity-derived: roughly balanced, and stable across calls
    val plus = sm.flatten.count(_ > 0)
    assert(plus > dimIn * dimOut / 3 && plus < dimIn * dimOut * 2 / 3)
    assert(Similarity.signMatrix(dimIn, dimOut, "rp") === sm)
    assert(Similarity.signMatrix(dimIn, dimOut, "other") !== sm)
    val rnd = new scala.util.Random(31)
    // real neighbor structure (pure isotropic noise has none for ANY
    // dimension reduction to preserve): ids 1-10 are the query plus small
    // perturbations, the rest unrelated gaussians
    val base = Array.fill(dimIn)(rnd.nextGaussian().toFloat)
    val corpus = (0L, base) +:
      ((1L to 10L).map(i => (i, base.map(x => x + 0.15f * rnd.nextGaussian().toFloat))) ++
       (11L to 200L).map(i => (i, Array.fill(dimIn)(rnd.nextGaussian().toFloat))))
    val df = corpus.toDF("vec_id", "embedding")
    val proj = df.select(col("vec_id"),
        Similarity.randomProject(col("embedding"), dimIn, dimOut).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // exact driver replay of the left-fold + 4dp grid
    def replay(v: Seq[Double]): Seq[Double] =
      (0 until dimOut).map { j =>
        val s = v.indices.foldLeft(0.0)((acc, i) => acc + v(i) * sm(j)(i))
        math.rint(s * 1e4) / 1e4
      }
    corpus.take(20).foreach { case (i, v) =>
      assert(proj(i) === replay(v.map(_.toDouble).toSeq), s"vec $i") }
    assert(proj.values.forall(_.length === dimOut))
    // JL: projected top-10 by cosine overlaps the raw top-10 substantially
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val q = corpus.head._2.map(_.toDouble).toSeq
    val rawTop = corpus.tail.map { case (i, v) => (i, cos(v.map(_.toDouble).toSeq, q)) }
      .sortBy(-_._2).take(10).map(_._1).toSet
    val projTop = corpus.tail.map { case (i, _) => (i, cos(proj(i), proj(0L))) }
      .sortBy(-_._2).take(10).map(_._1).toSet
    assert(rawTop === (1L to 10L).toSet) // sanity: the plant IS the raw top-10
    assert(rawTop.intersect(projTop).size >= 8,
      s"JL neighbor preservation collapsed: ${rawTop.intersect(projTop).size}/10")
  }

  test("semDedup: dominance drops within clusters, keep-diverse rank order") {
    import spark.implicits._
    // two well-separated clusters around orthogonal axes; each cluster
    // holds a tight near-dup pack plus one outlier. Expected behavior is
    // replayed on the driver from the operator's stated rules, so the
    // assertion is the full contract, not a spot value
    val rnd = new scala.util.Random(5)
    def around(axis: Int, jitter: Double): Array[Float] = {
      val v = Array.fill(8)(rnd.nextGaussian() * jitter)
      v(axis) += 10.0
      v.map(_.toFloat)
    }
    val rows = (1L to 20L).map(i => (i, around(if (i % 2 == 0) 0 else 3, 0.2))) ++
      Seq((21L, around(0, 8.0)), (22L, around(3, 8.0))) // outliers
    val df = rows.toDF("vec_id", "embedding")
    val centroids = Similarity.sampleCentroids(df, 2, "vec_id", "embedding")
    val out = Similarity.semDedup(df, centroids, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    assert(out.length === rows.length)
    // replay: assignment by rounded-cosine argmax (cid-max ties), rank by
    // (csim asc, id), dominance drop
    def cos6(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      BigDecimal(d / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val vecsById = rows.map { case (i, v) => i -> v.map(_.toDouble).toSeq }.toMap
    val assigned = rows.map { case (i, _) =>
      val best = centroids.map { case (cid, cv) => (cos6(vecsById(i), cv), cid) }.max
      (i, best._2, best._1)
    }
    val ranked = assigned.groupBy(_._2).flatMap { case (cl, members) =>
      members.sortBy { case (i, _, cs) => (cs, i) }.zipWithIndex
        .map { case ((i, _, _), r) => (i, cl, r + 1) }
    }.toSeq
    val rankOf = ranked.map { case (i, _, r) => i -> r }.toMap
    val clusterOf = ranked.map { case (i, cl, _) => i -> cl }.toMap
    val expect = ranked.map { case (i, cl, r) =>
      val dropped = ranked.exists { case (j, cl2, r2) =>
        cl2 == cl && r2 < r && cos6(vecsById(i), vecsById(j)) >= 0.9 }
      (i, cl, r, dropped)
    }.sortBy(_._1)
    assert(out.sortBy(_._1).toSeq === expect)
    // sanity on structure: packs dropped down to survivors, outliers kept
    val droppedIds = out.filter(_._4).map(_._1).toSet
    assert(droppedIds.nonEmpty)
    assert(!droppedIds.contains(21L) && !droppedIds.contains(22L))
    // the keep-diverse rule: each cluster's rank-1 (least centroid-like)
    // member is never dropped
    val rank1 = out.filter(_._3 == 1).map(_._1)
    assert(rank1.forall(i => !droppedIds.contains(i)))

    // lockstep: the broadcast-join assignment path (the large-k·d shape)
    // must agree row-for-row with the literal-argmax path, including the
    // (sim, cid) tie rule
    val joined = Similarity.semDedup(df, centroids, threshold = 0.9,
        assignByJoin = Some(true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    assert(joined.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)

    // two-level with ONE super-cluster routes every document through the
    // single coarse cell to an argmax over ALL centroids — exactly the
    // flat assignment. Exercises the whole two-level plan (super argmax,
    // centroid routing, member join) against the flat truth
    val twoLevel = Similarity.semDedup(df, centroids, threshold = 0.9,
        superClusters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    assert(twoLevel.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
    OperatorCaches.releaseAll()
  }

  test("PQ encode matches brute-force argmin and ADC ranks a planted near-dup first") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val dim = 16
    def vec() = Seq.fill(dim)(rnd.nextDouble() * 2 - 1)
    val q = vec()
    // vec 1 = tiny perturbation of the query; the rest random
    val rows = (1L, q.map(_ + 0.001)) +: (2L to 40L).map(i => (i, vec()))
    val df = rows.toDF("vec_id", "embedding")
    val cbs = Similarity.pqSampleCodebooks(df, m = 4, k = 8)
    val codes = Similarity.pqEncode(df, cbs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def d2(a: Seq[Double], b: Seq[Double]) =
      r6(a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + (x - y) * (x - y) })
    rows.foreach { case (id, v) =>
      val want = (0 until 4).map { j =>
        val sub = v.slice(j * 4, j * 4 + 4)
        cbs(j).zipWithIndex.map { case (cw, c) => (d2(sub, cw), c) }.min._2
      }
      assert(codes(id) === want, s"vec $id codes")
    }
    val top = Similarity.pqTopK(Similarity.pqEncode(df, cbs), cbs, q, topK = 5)
      .collect().map(_.getLong(0))
    assert(top.head === 1L, s"planted near-dup not first: ${top.toSeq}")
    OperatorCaches.releaseAll()
  }

  test("hardNegatives: cross-label top-k, never self/same-label, matches brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(6)(rnd.nextDouble() * 2 - 1)
    val rows = (0L until 60L).map(i => (i, vec(), (i % 3).toInt))
    val df = rows.toDF("vec_id", "embedding", "label")
    val anchors = df.filter(col("vec_id") < 4)
    val got = Similarity.hardNegatives(anchors, df, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    val byAnchor = got.groupBy(_._1)
    assert(byAnchor.keySet === Set(0L, 1L, 2L, 3L))
    assert(byAnchor.values.forall(_.length == 5))

    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val all = rows.map { case (id, v, y) => (id, v, y) }
    (0L until 4L).foreach { aId =>
      val (_, av, ay) = all(aId.toInt)
      val want = all
        .filter { case (id, _, y) => y != ay && id != aId }
        .map { case (id, v, _) => (r4(cos(av, v)), id) }
        .sortBy { case (s, id) => (-s, id) }
        .take(5).map { case (s, id) => (aId, id, s) }
      val g = byAnchor(aId).sortBy { case (_, id, s) => (-s, id) }.toSeq
      assert(g === want, s"anchor $aId")
      // every mined negative carries a different label than the anchor
      g.foreach { case (_, id, _) => assert(all(id.toInt)._3 != ay) }
    }
    OperatorCaches.releaseAll()
  }

  test("kCenterCoreset picks one point per planted direction, radius non-increasing") {
    import spark.implicits._
    // three well-separated unit directions, 10 near-copies each; ids
    // grouped so the chosen cluster is identifiable by id range
    val dirs = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val rows = for {
      (d, c) <- dirs.zipWithIndex
      i <- 0 until 10
    } yield (c * 100L + i, d.zipWithIndex.map { case (x, j) =>
      x + (if (j == 3) 0.01f * i else 0f) })
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.kCenterCoreset(df, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === 3)
    assert(got(0) === ((1L, 0L, 0.0)), "seed = min id, radius 0")
    // one pick per cluster (farthest-point never doubles up while a
    // whole direction is uncovered)
    assert(got.map(_._2 / 100).toSet === Set(0L, 1L, 2L))
    // G(k) curve: radii non-increasing after the seed
    assert(got(1)._3 >= got(2)._3)
    assert(got(1)._3 > 0.9, "cross-direction distance ~1")
  }

  test("kCenterCoreset matches an exact driver replay on seeded vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val rows = Seq.tabulate(80)(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val got = Similarity.kCenterCoreset(rows.toDF("vec_id", "embedding"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cosD(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      r4(1.0 - d / (math.sqrt(ad.map(x => x * x).sum)
        * math.sqrt(bd.map(x => x * x).sum)))
    }
    var centers = Vector((0L, rows.head._2, 0.0))
    while (centers.size < 5) {
      val scored = rows.map { case (id, v) =>
        (id, v, centers.map(c => cosD(v, c._2)).min)
      }
      val best = scored.sortBy { case (id, _, d) => (-d, id) }.head
      centers = centers :+ ((best._1, best._2, best._3))
    }
    assert(got.toSeq === centers.zipWithIndex.map {
      case ((id, _, r), i) => (i + 1L, id, r) })
    OperatorCaches.releaseAll()
  }

  test("kCenterCoreset: zero vectors sit at distance 1 and never dominate") {
    import spark.implicits._
    val rows = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 0f)), (2L, Array(-1f, 0f)))
    val got = Similarity.kCenterCoreset(rows.toDF("vec_id", "embedding"), k = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    // the antipodal vector (distance 2) beats the zero vector (distance 1)
    assert(got(1) === ((2L, 2.0)))
  }

  test("mmrRerank matches a driver-side greedy replay on seeded vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    val cands = for (q <- 0L to 1L; i <- 0L until 12L) yield {
      val v = Array.fill(8)(rnd.nextDouble() * 2 - 1)
      (q, q * 100 + i, (rnd.nextInt(8000) + 1000).toLong, v)
    }
    val df = cands.toDF("qid", "id", "rel_u", "v")
    val got = Similarity.mmrRerank(df, col("qid"), col("id"), col("rel_u"),
        col("v"), k = 4)
      .orderBy("qid", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // driver replay with the same 1e-4 sim grid and min-id tie-break
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def simU(a: Array[Double], b: Array[Double]): Long =
      BigDecimal(cos(a, b) * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val exp = (0L to 1L).flatMap { q =>
      val cs = cands.filter(_._1 == q).map(c => (c._2, c._3, c._4))
      val seed = cs.minBy(c => (-c._2, c._1))
      var sel = Vector(seed)
      for (t <- 2 to 4) {
        val rem = cs.filterNot(c => sel.exists(_._1 == c._1))
        val pick = rem.minBy { c =>
          val ms = sel.map(s => simU(c._3, s._3)).max
          (-(7L * c._2 - 3L * ms), c._1)
        }
        sel = sel :+ pick
      }
      sel.zipWithIndex.map { case (c, i) => (q, (i + 1).toLong, c._1) }
    }
    assert(got.toSeq === exp.map(e => (e._1, e._2, e._3)))
  }

  test("mmrRerank: near-duplicate of the seed is displaced by a diverse pick") {
    import spark.implicits._
    // c1 (seed, rel 9000), c2 a near-clone of c1 with rel 8900,
    // c3 orthogonal with rel 5000: pure relevance ranks c2 second, MMR
    // at lambda 7/10 ranks c3 second (7*8900 - 3*~10000 < 7*5000 - 3*0)
    val df = Seq(
      (0L, 1L, 9000L, Array(1.0, 0.0)),
      (0L, 2L, 8900L, Array(1.0, 1e-9)),
      (0L, 3L, 5000L, Array(0.0, 1.0))).toDF("qid", "id", "rel_u", "v")
    val got = Similarity.mmrRerank(df, col("qid"), col("id"), col("rel_u"),
        col("v"), k = 3)
      .orderBy("rank").collect().map(_.getLong(2))
    assert(got.toSeq === Seq(1L, 3L, 2L))
  }

  test("mmrRerank: queries with fewer than k candidates stop early") {
    import spark.implicits._
    val df = Seq(
      (0L, 1L, 100L, Array(1.0, 0.0)), (0L, 2L, 90L, Array(0.0, 1.0)),
      (1L, 5L, 50L, Array(1.0, 0.0))).toDF("qid", "id", "rel_u", "v")
    val got = Similarity.mmrRerank(df, col("qid"), col("id"), col("rel_u"),
        col("v"), k = 4)
      .orderBy("qid", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((0L, 1L, 1L), (0L, 2L, 2L), (1L, 1L, 5L)))
  }
}
