package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`). New scope
  * beyond the reference. All math is built from higher-order array
  * functions (zip_with / aggregate) over double-cast vectors — no UDFs, no
  * driver-side loops; top-k goes through orderBy+limit which Catalyst plans
  * as TakeOrderedAndProject (per-partition heap + driver merge of k rows,
  * never a full sort).
  *
  * Scale path: brute force is one narrow pass — O(N·d) FLOPs, embarrassingly
  * parallel, fine when the scan is the bottleneck anyway. The LSH variants
  * cut candidates by bucketing on random-hyperplane sign bits; at cluster
  * scale you additionally bucket-partition the table at rest so a query
  * touches only matching partitions. Both at-rest layouts are demonstrated
  * with file-count-verified partition pruning in PlanShapeSpec: the IVF
  * table partitioned by centroid_id, and the LSH table partitioned by
  * bucket with the multiprobe bit_count(bucket XOR q) <= h predicate
  * evaluated against directory values at planning time.
  */
object Similarity {

  /** Cast a float vector column to double for numerically stable math. */
  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Collect one row's vector as the query (by id), as doubles. */
  def collectQueryVec(df: DataFrame, id: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Double] =
    df.filter(col(idCol) === id).select(toDouble(col(vecCol)))
      .head().getSeq[Double](0).toSeq

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine via the native codegen'd expression (graftnative.CosineSimilarity):
    * one fused primitive-double loop inside WholeStageCodegen.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftnative.CosineSimilarity(a, b)

  /** Reference formulation from built-in higher-order functions (interpreted
    * lambda dispatch per element) — kept as the correctness oracle for the
    * native expression and as the fallback composition.
    */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Exact brute-force top-k by cosine against a literal query vector.
    * Deterministic tie-break on id. Returns (id, sim).
    */
  def bruteForceTopK(
      df: DataFrame,
      queryVec: Seq[Double],
      k: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = array(queryVec.map(lit): _*)
    // rank by the ROUNDED similarity + id tiebreak: ranking on the raw
    // float makes the top-k cut ulp-sensitive (a different accumulation
    // order in another engine/run flips near-ties at the boundary)
    df.select(
        col(idCol).cast("long").as(idCol),
        round(cosine(toDouble(col(vecCol)), q), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    * traversal) over cosine distance — the diverse-subset selector for
    * training-data curation: each round adds the corpus point FARTHEST
    * from the chosen set, so k points 2-approximate the optimal k-center
    * cover. The emitted `radius` sequence (distance of each pick at
    * selection time) is the classic G(k) coverage curve — read it to
    * choose k.
    *
    * Distributed shape: the chosen centers are k·d driver doubles (the
    * assignExpr/k-means-centroid precedent); each round is ONE narrow
    * corpus pass — min over ≤k literal-center cosine distances — plus a
    * top-1 TakeOrderedAndProject. No per-round shuffle, no state between
    * rounds beyond the center list. k rounds total; cost k·|corpus|·d
    * multiply-adds, embarrassingly parallel.
    *
    * Determinism contract: per-center distance is round(1 - cos, 4) (the
    * bruteForceTopK grid), the running min is over ROUNDED values, and
    * the argmax tiebreaks on min id — so the selection chain replays
    * engine-for-engine. Seed = the minimum id (no RNG). Zero vectors sit
    * at distance 1 from everything (explicit guard, same CASE in the
    * oracle).
    *
    * Returns (rank 1-based, vec_id, radius) — radius of rank 1 is 0.
    */
  def kCenterCoreset(
      df: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "need k >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val base = OperatorCaches.persistTracked(
      df.filter(col(vecCol).isNotNull)
        .select(col(idCol).cast("long").as("id"),
          toDouble(col(vecCol)).as("v")))
    def distTo(center: Seq[Double]): Column = {
      val c = array(center.map(lit): _*)
      val nc = math.sqrt(center.map(x => x * x).sum)
      if (nc == 0) lit(1.0)
      else when(l2Norm(col("v")) === 0.0, lit(1.0))
        .otherwise(round(lit(1.0) - cosine(col("v"), c), 4))
    }
    val first = base.orderBy("id").limit(1).head()
    var centers = Vector((first.getLong(0),
      first.getSeq[Double](1).toVector, 0.0))
    while (centers.size < k) {
      val d = centers.map(c => distTo(c._2)).reduce(least(_, _))
      val nxt = base.select(col("id"), col("v"), d.as("d"))
        .orderBy(col("d").desc, col("id")).limit(1).head()
      centers = centers :+ ((nxt.getLong(0),
        nxt.getSeq[Double](1).toVector, nxt.getDouble(2)))
    }
    centers.zipWithIndex
      .map { case ((id, _, r), i) => (i + 1L, id, r) }
      .toDF("rank", idCol, "radius")
  }

  /** Per-vector symmetric int8 scalar quantization for embedding columns —
    * the storage/shuffle compression lever for vector corpora at scale:
    * 8x smaller than the DOUBLE[] Spark would otherwise shuffle (4x vs
    * float32 at rest), with relative error bounded by scale/2 ≤ max|x|/254
    * per component. scale = max|x|/127; q_i = floor(x_i/scale + 0.5)
    * clamped to [-127, 127] (explicit half-up — Spark's round() and an
    * oracle engine's may disagree on halfway cases, floor(x+0.5) cannot);
    * an all-zero vector quantizes to zeros with scale 0.
    *
    * PER-VECTOR (not per-corpus) scaling keeps the op a narrow map — no
    * global max pass, no broadcast, embarrassingly parallel at any corpus
    * size — and adapts the grid to each vector's own dynamic range. Every
    * arithmetic step (max/abs, IEEE division, floor, clamp, multiply) is
    * bit-deterministic across engines, so quantize→dequantize→similarity
    * is exactly replayable by an independent SQL engine with no rounding
    * escape hatch needed until the final cosine (4 dp as everywhere).
    */
  def quantizeInt8(
      df: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val v = toDouble(col(vecCol))
    df.select(col(idCol).cast("long").as("id"), v.as("v"))
      .withColumn("scale",
        aggregate(col("v"), lit(0.0), (acc, x) => greatest(acc, abs(x))) / lit(127.0))
      .withColumn("qv", transform(col("v"), x =>
        when(col("scale") === 0.0, lit(0.0))
          .otherwise(greatest(lit(-127.0), least(lit(127.0),
            floor(x / col("scale") + lit(0.5)).cast("double"))))
          .cast("tinyint")))
      .select(col("id"), col("scale"), col("qv"))
  }

  /** Reconstruct an approximate double vector from (qv, scale) — composes
    * with every operator here that takes an embedding column (cosine,
    * bruteForceTopK, the LSH sketches): quantized-at-rest, dequantized
    * per-expression inside codegen, never materialized wide.
    */
  def dequantize(qv: Column, scale: Column): Column =
    transform(qv, q => q.cast("double") * scale)

  // --------------------------------------------------- product quantization
  // PQ (Jégou et al. 2011): split each d-dim vector into m subvectors,
  // quantize each against its own k-codeword codebook → an m-byte code per
  // vector (here 64 bits for d=64, m=8, k=16 — a 64× compression of the
  // double[] form), and answer queries with an Asymmetric Distance
  // Computation: a per-query m×k lookup table of exact query-to-codeword
  // distances, so scoring a vector is m table lookups + adds, never
  // touching the original vector. THE memory-bound ANN layout at corpus
  // scale — the scan shuffles codes, not vectors. Codebooks here are the
  // hash-deterministic sample [[sampleCentroids]] uses (subspace j's
  // codewords = the j-th subvectors of the SAME k sampled vectors), so an
  // independent engine re-derives them; swap in per-subspace
  // [[kmeansCentroids]]-trained codebooks without changing the plan.

  /** m codebooks of k codewords each (m × k × d/m), sampled
    * hash-deterministically. Driver holds k·d doubles, same bound as IVF.
    */
  def pqSampleCodebooks(
      df: DataFrame,
      m: Int = 8,
      k: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Array[Seq[Double]]] = {
    val samples = sampleCentroids(df, k, idCol, vecCol) // ordered (hash, id)
    val d = samples.head._2.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val dsub = d / m
    Array.tabulate(m)(j => samples.map(_._2.slice(j * dsub, (j + 1) * dsub)))
  }

  /** Squared L2 between a vector-expression slice and a literal codeword. */
  private def l2sqLit(sub: Column, cw: Seq[Double]): Column =
    aggregate(zip_with(sub, array(cw.map(lit): _*), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, e) => acc + e)

  /** PQ encode: (id, codes array<int> of length m). Each code is the
    * argmin-distance codeword in its subspace, compared on the 6 dp grid
    * with index tie-break (the [[assignExpr]] determinism rule). Narrow
    * map — the codebooks ride along as ~k·d literal doubles.
    */
  def pqEncode(
      df: DataFrame,
      codebooks: Array[Array[Seq[Double]]],
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    val v = toDouble(col(vecCol))
    val codes = array((0 until m).map { j =>
      val sub = slice(v, j * dsub + 1, dsub)
      array_min(array(codebooks(j).zipWithIndex.map { case (cw, c) =>
        struct(round(l2sqLit(sub, cw), 6).as("d"), lit(c).as("c"))
      }.toIndexedSeq: _*)).getField("c")
    }: _*)
    df.select(col(idCol).cast("long").as("id"), codes.as("codes"))
  }

  /** ADC top-k over PQ codes: the query's exact distance to every codeword
    * (m×k lookup table, computed once driver-side with the same fold order
    * and 6 dp grid both engines use) makes each row's approximate distance
    * m `element_at`s + adds — then TakeOrderedAndProject keeps the global
    * top-k. Returns (vec_id, adc_dist) nearest-first (squared L2).
    */
  def pqTopK(
      encoded: DataFrame,
      codebooks: Array[Array[Seq[Double]]],
      queryVec: Seq[Double],
      topK: Int = 10,
      idCol: String = "vec_id"): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lut: Array[Array[Double]] = Array.tabulate(m) { j =>
      val q = queryVec.slice(j * dsub, (j + 1) * dsub)
      codebooks(j).map(cw =>
        r6(q.zip(cw).foldLeft(0.0) { case (a, (x, y)) => a + (x - y) * (x - y) }))
        .toArray
    }
    val score = (0 until m).map { j =>
      element_at(array(lut(j).map(lit).toIndexedSeq: _*),
        element_at(col("codes"), j + 1) + lit(1))
    }.reduce(_ + _)
    encoded
      .select(col("id").as(idCol), round(score, 4).as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(topK)
  }

  /** Seed-derived ±1 sign matrix for [[randomProject]] (dimOut rows ×
    * dimIn cols), from the parity of the portable 60-bit hash of
    * "seed:j:i" — so an independent engine (the DuckDB oracle, a later
    * non-Spark reader of the projected vectors) re-derives the exact
    * matrix from the seed string alone. Computed ONCE on the driver and
    * spliced as a literal: projection then costs zero hash work per row.
    */
  def signMatrix(dimIn: Int, dimOut: Int, seed: String): Seq[Seq[Double]] =
    (0 until dimOut).map(j => (0 until dimIn).map(i =>
      if ((PortableHash.portable60(s"$seed:$j:$i") & 1L) == 0L) 1.0 else -1.0))

  /** Signed random projection (Johnson–Lindenstrauss via Achlioptas-style
    * ±1 entries): v ∈ R^dimIn → p ∈ R^dimOut, p_j = Σ_i v_i·s_ji with the
    * seed-derived sign matrix above. The dimensionality-reduction
    * pre-stage of a vector pipeline at scale: project 4× smaller, then
    * run the brute-force / ANN machinery over the short vectors — the
    * shuffle and compare cost drops with the dimension while JL keeps
    * relative distances within (1±ε) w.h.p.
    *
    * A narrow map with a LITERAL matrix (no runtime hashing, no
    * broadcast, no shuffle). Each component is an explicit LEFT-FOLD sum
    * (functions.aggregate) rounded to 4 dp — the repo's cross-engine
    * float boundary — so an oracle replaying the same fold order gets the
    * identical grid value and everything downstream (cosine, top-k cuts)
    * compares exactly.
    */
  def randomProject(
      v: Column,
      dimIn: Int,
      dimOut: Int,
      seed: String = "rp"): Column = {
    val sgn = typedLit(signMatrix(dimIn, dimOut, seed))
    // vector cast bound once as a lambda variable: referenced inside the
    // per-output-dim lambda it would re-run the O(dimIn) cast per dim
    element_at(transform(array(toDouble(v)), vv =>
      transform(sequence(lit(0), lit(dimOut - 1)), j =>
        round(aggregate(
          zip_with(vv, element_at(sgn, (j + 1).cast("int")), (x, s) => x * s),
          lit(0.0), (acc, t) => acc + t), 4))), 1)
  }

  /** Component-sign binary sketch: bit j = [v_{j+1} ≥ 0], packed into a
    * long — the 1-bit quantization of an embedding (60 components ⇒ 60
    * bits, the repo's portable-sketch convention: DuckDB's `<<` errors at
    * the sign bit, and 60 bits keep the sketch spliceable into any oracle
    * without two's-complement assembly). For roughly isotropic embedding
    * distributions the hamming distance between sign sketches is a
    * monotone proxy for angle (each agreeing sign bit is one axis-aligned
    * hyperplane both vectors fall on the same side of — the identity-basis
    * special case of [[lshBucket]]'s random hyperplanes), which is what
    * makes an 8-byte shortlist key out of a 256-byte vector.
    */
  def signSketch(v: Column, bits: Int = 60): Column = {
    require(bits > 0 && bits <= 60, "bits must be in [1, 60]")
    (0 until bits).map { j =>
      when(element_at(v, j + 1) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** KNN via binary-sketch shortlist + exact re-rank — the two-stage
    * retrieval every production vector store runs: (1) hamming top-`m`
    * over 8-byte sign sketches (a TakeOrderedAndProject heap over a
    * narrow scan — the corpus vectors never sort, never shuffle), (2)
    * exact cosine top-`k` over the m survivors only. At 100 TB the
    * sketch column lives beside the vector column at rest (8 bytes vs
    * 256), stage 1 reads ONLY the sketch column (columnar pruning), and
    * stage 2 re-reads just m rows by id — the scan:FLOP ratio drops by
    * the m/N shortlist factor. Approximate by design (sign bits lose
    * magnitude); rank-quality is spec'd with recall-vs-brute-force
    * assertions, and both stages are deterministic (hamming, then rounded
    * cosine, id tiebreaks) so the whole path replays in an oracle.
    */
  def binaryTopK(
      df: DataFrame,
      queryVec: Seq[Double],
      k: Int = 10,
      m: Int = 100,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val qSketch = queryVec.take(60).zipWithIndex
      .map { case (x, j) => if (x >= 0) 1L << j else 0L }
      .reduce(_ | _)
    val shortlist = df.select(
        col(idCol).cast("long").as(idCol),
        toDouble(col(vecCol)).as("v"))
      .withColumn("hd",
        bit_count(signSketch(col("v")).bitwiseXOR(lit(qSketch))).cast("int"))
      .orderBy(col("hd").asc, col(idCol))
      .limit(m)
    val q = array(queryVec.map(lit): _*)
    shortlist
      .select(col(idCol), round(cosine(col("v"), q), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic random hyperplanes (seeded), as literal arrays — the
    * bucketing projection is a pure narrow map.
    *
    * Components are rounded to 4 decimals so every plane is exactly
    * replayable as a SQL literal in an independent engine (the DuckDB
    * oracle for q_ann_lsh splices these values verbatim): a 4-dp decimal
    * parses to the identical double in any IEEE engine, whereas a raw
    * nextGaussian would round-trip through text. Rounding a hyperplane
    * DIRECTION this coarsely is harmless — buckets only depend on dot-
    * product signs.
    */
  private[graft] def hyperplanes(
      dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(math.round(rnd.nextGaussian() * 1e4) / 1e4))
  }

  /** Sign-bit bucket id (nPlanes bits packed into a long) for each vector. */
  def lshBucket(v: Column, dim: Int, nPlanes: Int = 16, seed: Long = 42L): Column = {
    // JVM shifts are mod 64: plane 64+ would silently alias onto low bits
    require(nPlanes > 0 && nPlanes <= 63, "nPlanes must be in [1, 63]")
    // one native fused loop (HyperplaneBands, b = 1: the single band IS
    // the packed bucket) instead of nPlanes chained dot/when/or nodes —
    // at the widths autoAnnParams derives (w tracks log2 n, up to 62)
    // the chained form dominated the x100 ann scan. Value-identical on
    // every in-domain vector (lockstep-spec'd vs the HOF fold); the two
    // deliberate strictness deltas: a NULL vector now yields a NULL
    // bucket (the row leaves candidate generation — the fold's artifact
    // bucket 0 rode through it), and a wrong-length vector fails loudly
    // instead of silently bucketing on null-padded dots.
    element_at(lshBandKeys(v, dim, nPlanes, 1, seed), 1)
  }

  /** Reference HOF formulation of [[lshBucket]] (one interpreted-or-chained
    * dot per plane) — the independent correctness oracle for the native
    * pack's lockstep spec, never the hot path.
    */
  private[graft] def lshBucketHof(
      v: Column, dim: Int, nPlanes: Int = 16, seed: Long = 42L): Column = {
    require(nPlanes > 0 && nPlanes <= 63, "nPlanes must be in [1, 63]")
    val planes = hyperplanes(dim, nPlanes, seed)
    planes.zipWithIndex.foldLeft(lit(0L)) { case (acc, (p, i)) =>
      val d = dot(v, array(p.map(lit): _*))
      acc.bitwiseOR(when(d >= 0, lit(1L << i)).otherwise(lit(0L)))
    }
  }

  /** ANN top-k: prefilter to buckets within `probeHamming` bits of the
    * query's bucket (multiprobe), then exact cosine on survivors. At rest,
    * cluster the table by `bucket` so this becomes a partition-pruned scan.
    */
  def annTopK(
      df: DataFrame,
      queryVec: Seq[Double],
      dim: Int,
      k: Int = 10,
      nPlanes: Int = 16,
      probeHamming: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = array(queryVec.map(lit): _*)
    // driver-side bucket of the query: evaluate the same plane dots locally
    val planes = hyperplanes(dim, nPlanes)
    val qBucket = planes.zipWithIndex.foldLeft(0L) { case (acc, (p, i)) =>
      val d = p.zip(queryVec).map { case (a, b) => a * b }.sum
      if (d >= 0) acc | (1L << i) else acc
    }
    val vd = toDouble(col(vecCol))
    // rank on the ROUNDED similarity + id tiebreak, same as bruteForceTopK:
    // a raw-float cut is ulp-sensitive across engines/summation orders
    df.select(col(idCol).cast("long").as(idCol), vd.as("v"),
        lshBucket(vd, dim, nPlanes).as("bucket"))
      .filter(bit_count(col("bucket").bitwiseXOR(lit(qBucket))) <= probeHamming)
      .select(col(idCol), round(cosine(col("v"), q), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Auto (nPlanes, probeHamming) for [[annTopKAuto]] — the query-side
    * twin of [[autoCosineBanding]], closing the last fixed-bucket LSH
    * surface (a pinned 16-plane bucket fixes the bucket space, so probed
    * candidates grow linearly with per-bucket occupancy — fine at one
    * tier, a silent recall/cost drift across tiers).
    *
    * Same Goemans–Williamson agreement probability p = 1 − arccos(t)/π,
    * but annTopK probes ONE w-bit bucket space within Hamming radius h of
    * the query's bucket, so:
    *
    *   recall(w, h)  = Σ_{i≤h} C(w,i) · (1−p)^i · p^(w−i)   ≥ 0.95
    *   candidates(w) ≈ n · Σ_{i≤h} C(w,i) / 2^w             (random far
    *                   vectors agree with the query w.p. ~1/2 per bit)
    *
    * For each width the radius is the SMALLEST h (≤ hCap) reaching 95%
    * recall at the target similarity; among feasible widths pick the one
    * minimizing modeled per-query work: signature FLOPs (w·dim per corpus
    * vector, amortized over the scan that computes buckets) + exact-cosine
    * verification (~2·dim FLOPs per candidate). Wider buckets cost more
    * signature work and need a larger radius (per-bit agreement decays the
    * bucket-match probability), but shrink occupancy n/2^w geometrically —
    * the optimum width tracks ~log2(n), exactly the knob the fixed
    * nPlanes = 16 never turned. If no width reaches 95% within hCap (low
    * target at huge n), fall back to the widest cap-feasible probe,
    * best-effort — same policy as autoCosineBanding.
    *
    * Pure function of (simTarget, n, dim): the q_ann_lsh_auto oracle
    * replays the derivation at catalog-build time and splices the derived
    * planes, so any change here must keep both sides in lockstep.
    */
  private[graft] def autoAnnParams(
      simTarget: Double, n: Long, dim: Int, hCap: Int = 8): (Int, Int) = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, simTarget))) / math.Pi
    def choose(w: Int, i: Int): Double =
      (0 until i).map(j => (w - j).toDouble / (j + 1)).product
    def recall(w: Int, h: Int): Double =
      (0 to h).map(i => choose(w, i) * math.pow(1 - p, i) * math.pow(p, w - i)).sum
    def hFor(w: Int): Option[Int] =
      (0 to math.min(w, hCap)).find(recall(w, _) >= 0.95)
    def cost(w: Int): Double = {
      val h = hFor(w).getOrElse(hCap)
      val probed = (0 to h).map(choose(w, _)).sum
      w.toDouble * dim + n.toDouble * probed / math.pow(2.0, w) * 2.0 * dim
    }
    val feasible = (2 to 62).filter(w => hFor(w).isDefined)
    val w = if (feasible.nonEmpty) feasible.minBy(cost) else 2
    (w, hFor(w).getOrElse(math.min(w, hCap)))
  }

  /** [[annTopK]] with the bucket width and probe radius derived from
    * (similarity target, corpus size, dim) instead of pinned — the
    * scale-safe query-side configuration. `n` as in [[cosineNearDupPairs]]:
    * supply it when known (zero Spark jobs at construction);
    * with `n = None` the count doubles as the cache materialization of
    * the projected frame the bucket scan then reads.
    */
  def annTopKAuto(
      df: DataFrame,
      queryVec: Seq[Double],
      dim: Int,
      k: Int = 10,
      simTarget: Double = 0.9,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      n: Option[Long] = None): DataFrame = {
    val projected = df.select(
      col(idCol).cast("long").as(idCol), toDouble(col(vecCol)).as("v"))
    val base =
      if (n.isDefined) projected
      else OperatorCaches.persistTracked(projected)
    val (w, h) = autoAnnParams(simTarget, n.getOrElse(base.count()), dim)
    val q = array(queryVec.map(lit): _*)
    val planes = hyperplanes(dim, w)
    val qBucket = planes.zipWithIndex.foldLeft(0L) { case (acc, (p, i)) =>
      val d = p.zip(queryVec).map { case (a, b) => a * b }.sum
      if (d >= 0) acc | (1L << i) else acc
    }
    base.select(col(idCol), col("v"), lshBucket(col("v"), dim, w).as("bucket"))
      .filter(bit_count(col("bucket").bitwiseXOR(lit(qBucket))) <= h)
      .select(col(idCol), round(cosine(col("v"), q), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF-style ANN: a coarse quantizer (k deterministic sample centroids)
    * assigns every vector a `centroid_id`; a query scores only the vectors
    * in the `nProbe` centroids nearest to it. At rest the table would be
    * written partitioned/clustered BY centroid_id, so each probe is a
    * partition-pruned scan touching nProbe/k of the data — the IVF
    * trade-off (recall vs fraction scanned) with no index structure beyond
    * a column.
    *
    * Centroid sampling is hash-deterministic (ids with the smallest
    * xxhash64), standing in for k-means — swap in trained centroids
    * without changing the plan shape.
    */
  /** Hash-deterministic centroid sample shared by ivfAssign and k-means
    * init: the k vectors with the smallest PORTABLE hash of their id —
    * stable across runs, partitionings, AND engines (the q_ann_ivf oracle
    * re-derives the same sample in DuckDB), unlike a head()/rand sample.
    * id tie-break is unreachable (distinct ids hash distinctly w.h.p.) but
    * makes determinism unconditional.
    */
  private[graft] def sampleCentroids(
      df: DataFrame, k: Int, idCol: String, vecCol: String): Array[(Long, Seq[Double])] =
    df.select(col(idCol).cast("long").as("cid"), toDouble(col(vecCol)).as("cv"))
      .withColumn("h", PortableHash.portable60(col("cid").cast("string")))
      .orderBy("h", "cid").limit(k)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))

  /** Max-cosine argmax over a literal centroid set — the ONE assignment
    * expression k-means training and IVF assignment both use (they must
    * agree bit-for-bit: the quantizer a query probes has to be the one the
    * trainer built). Zero-norm vectors score −2, below any real cosine, so
    * they still land in some cluster instead of a null assignment.
    *
    * The argmax compares the cosine ROUNDED to 6 dp (ties then break on
    * the larger cid via the struct's lexicographic max): a raw-float
    * argmax is ulp-sensitive to accumulation order, so an independent
    * engine replaying the assignment (the q_ann_ivf oracle) could flip
    * vectors whose two best centroids differ below float noise. 6 dp is
    * far under any meaningful centroid separation.
    */
  private[graft] def assignExpr(centroids: Array[(Long, Seq[Double])], v: Column): Column =
    array_max(array(centroids.map { case (cid, cv) =>
      struct(
        coalesce(round(cosine(v, array(cv.map(lit): _*)), 6), lit(-2.0)).as("sim"),
        lit(cid).as("cid"))
    }.toIndexedSeq: _*)).getField("cid")

  def ivfAssign(
      df: DataFrame,
      k: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, Array[(Long, Seq[Double])]) = {
    val centroids = sampleCentroids(df, k, idCol, vecCol)
    (ivfAssignWith(df, centroids, vecCol), centroids)
  }

  /** Distributed spherical k-means (Lloyd's) for IVF coarse quantization.
    *
    * Init = the same hash-deterministic sample ivfAssign uses; each round:
    * (1) assign every vector to its max-cosine centroid (narrow map — the
    * k centroids ride along as literals; past k·d ≈ 4k doubles the round
    * auto-switches to the broadcast-join packed argmax, value-identical —
    * see semDedup's switch for the measured codegen-fallback rationale),
    * (2) new centroid = elementwise mean of members via posexplode →
    * groupBy(cid, pos) avg — a map-side-combined shuffle of k·d partial
    * sums, never the vectors themselves. Driver only ever holds k·d
    * doubles. Cosine assignment + mean update = spherical k-means; the
    * mean objective is monotone, so a handful of rounds suffice for a
    * coarse quantizer. Empty clusters keep their previous centroid.
    *
    * Each round's means are ROUNDED to 7 dp before becoming the next
    * round's literals: a raw float mean is summation-order-dependent at
    * ~1e-15 relative, so no independent engine (or even a differently
    * partitioned Spark run) could reproduce the trained quantizer
    * bit-for-bit. On the 1e-7 grid both engines land on the same value
    * (noise is 8 orders of magnitude below the grid), which is what lets
    * the q_ann_ivf_kmeans oracle unroll Lloyd's in SQL. 1e-7 precision is
    * far below any meaningful centroid separation.
    */
  def kmeansCentroids(
      df: DataFrame,
      k: Int = 16,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      assignByJoin: Option[Boolean] = None): Array[(Long, Seq[Double])] = {
    var centroids: Array[(Long, Seq[Double])] =
      sampleCentroids(df, k, idCol, vecCol)
        .zipWithIndex.map { case ((_, cv), i) => (i.toLong, cv) }
    if (iters == 0) return centroids
    val dim = centroids.headOption.map(_._2.length).getOrElse(0)
    // same large-k switch as semDedup: past ~4k literal doubles the
    // argmax expression outgrows codegen (silent interpreted fallback,
    // ~100× per cosine) — train through the broadcast-join packed argmax
    // instead. Value-identical (same rounded (sim, cid-max) rule), so
    // which path trained the quantizer is unobservable downstream.
    val useJoin = assignByJoin.getOrElse(k.toLong * dim > 4096L)
    val vecs = OperatorCaches.persistTracked(
      df.select(col(idCol).cast("long").as("id"),
          toDouble(col(vecCol)).as("v"))
        .filter(col("v").isNotNull))
    val spark = df.sparkSession
    import spark.implicits._
    for (_ <- 1 to iters) {
      val assignedFrame =
        if (!useJoin)
          vecs.select(assignExpr(centroids, col("v")).as("cid"), col("v"))
        else {
          val centDf = centroids.toSeq.toDF("ccid", "cv")
          bestAssignment(vecs,
            vecs.crossJoin(broadcast(centDf))
              .select(col("id"),
                packedScore(
                  coalesce(round(cosine(col("v"), col("cv")), 6), lit(-2.0)),
                  col("ccid"))))
            .select(col("cluster").as("cid"), col("v"))
        }
      val means = assignedFrame
        .select(col("cid"), posexplode(col("v")))
        .groupBy("cid", "pos").agg(round(avg("col"), 7).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      centroids = centroids.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    centroids
  }

  /** Assign `centroid_id` from a given (trained or sampled) centroid set —
    * the narrow-map half of ivfAssign, reusable with kmeansCentroids.
    */
  def ivfAssignWith(
      df: DataFrame,
      centroids: Array[(Long, Seq[Double])],
      vecCol: String = "embedding"): DataFrame =
    df.withColumn("centroid_id", assignExpr(centroids, toDouble(col(vecCol))))

  /** Query the IVF-assigned table: probe the nProbe nearest centroids, then
    * exact cosine among their members only.
    */
  def ivfTopK(
      assigned: DataFrame,
      centroids: Array[(Long, Seq[Double])],
      queryVec: Seq[Double],
      k: Int = 10,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // probe choice mirrors assignExpr's determinism: rounded similarity,
    // cid tie-break — replayable by the oracle's independent engine. The
    // rounding mode must be HALF_UP (half away from zero) to match both
    // Spark's round(,6) and DuckDB's round(): math.rint is half-to-even
    // and would pick a different probe on an exact 5e-7 boundary. A NaN
    // cosine (zero-norm centroid or query) would throw in BigDecimal, so
    // it scores -2 — below any real cosine, mirroring assignExpr's
    // coalesce — and is probed last, deterministically by cid.
    val probes = centroids
      .sortBy { case (cid, cv) =>
        val c = cos(cv, queryVec)
        val r = if (c.isNaN) -2.0
          else BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (-r, cid) }
      .take(nProbe).map(_._1)
    bruteForceTopK(
      assigned.filter(col("centroid_id").isin(probes.toIndexedSeq: _*)),
      queryVec, k, idCol, vecCol)
  }

  /** SemDeDup — semantic deduplication by cluster-partitioned pairwise
    * cosine (Abbas et al. 2023, arXiv:2303.09540): assign every vector to
    * its max-cosine centroid, then compare pairs ONLY within a cluster
    * and drop any vector that has cosine ≥ `threshold` with a
    * higher-priority clustermate. Priority follows the paper's
    * keep-diverse rule — LOWEST similarity to the own centroid ranks
    * first (rounded 6 dp, id tiebreak), so the survivors of a semantic
    * duplicate group are the atypical examples, not the mode. Dominance
    * semantics (dropped iff ANY lower-rank neighbor is within threshold):
    * unlike sequential greedy it needs no iteration, is
    * order-deterministic, and over-drops only inside chained groups —
    * exactly the members a second greedy pass would re-examine.
    *
    * Returns (id, cluster, rank, dropped) for every input vector.
    *
    * Scale shape: the centroid assignment is narrow either way — k·d
    * literal doubles riding the plan for small k, a broadcast centroid
    * table + map-side-combined struct-max past ~4k doubles (auto-switched,
    * value-identical; `assignByJoin` forces a path) — and the quadratic is
    * confined within clusters: one shuffle of (id, vector) by cluster id,
    * Σ n_c² candidate pairs instead of n². At corpus scale pick k ≈ n / target
    * cluster size (SemDeDup used 50k clusters for LAION-440M, ~9k
    * vectors/cluster) and train with [[kmeansCentroids]]; a skewed
    * cluster bounds the worst partition, so cap it by splitting hot
    * clusters with a second-level assignment over their members (same
    * operator, members-only input) before pairing.
    */
  def semDedup(
      df: DataFrame,
      centroids: Array[(Long, Seq[Double])],
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      assignByJoin: Option[Boolean] = None,
      superClusters: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = df.select(col(idCol).cast("long").as("id"),
      toDouble(col(vecCol)).as("v"))
    val dim = centroids.headOption.map(_._2.length).getOrElse(0)
    // three assignment paths. Flat (superClusters = 0): two value-
    // identical forms (lockstep-spec'd), switched on k·d — small centroid
    // sets ride the plan as ONE argmax expression (no join at all); past
    // ~4k literal doubles that expression outgrows codegen, so large k
    // broadcasts a centroid TABLE and takes max over (sim, cid) structs —
    // the same lexicographic tie rule array_max applies, so both agree
    // bit-for-bit with every IVF consumer. Two-level (superClusters = s >
    // 0): coarse-then-fine argmax — n·(s + k/s) cosines instead of n·k,
    // the next decade's assignment shape; APPROXIMATE (the best centroid
    // can live outside the chosen super-cluster) but every step pinned to
    // the same rounded-argmax rules, so it replays in an oracle.
    val useJoin = assignByJoin.getOrElse(centroids.length.toLong * dim > 4096L)
    // the packed-long argmax (join / two-level paths) carries cid in 41
    // bits — amplified fixture ids top out ~1e11, far inside
    require(centroids.forall { case (cid, _) => cid >= 0 && cid < (1L << 41) },
      "centroid ids must fit 41 bits for packed argmax")
    val assigned =
      if (superClusters > 0) assignTwoLevel(vecs, centroids, superClusters)
      else if (!useJoin) {
        val best = array_max(array(centroids.map { case (cid, cv) =>
          struct(
            coalesce(round(cosine(col("v"), array(cv.map(lit): _*)), 6), lit(-2.0))
              .as("sim"),
            lit(cid).as("cid"))
        }.toIndexedSeq: _*))
        vecs.withColumn("b", best)
          .select(col("id"), col("v"),
            col("b.cid").as("cluster"), col("b.sim").as("csim"))
      } else {
        val spark = df.sparkSession
        import spark.implicits._
        val centDf = centroids.toSeq.toDF("cid", "cv")
        // broadcast nested-loop: narrow over the corpus (k rows replicated
        // to every task, the vectors never shuffle for assignment); the
        // per-doc argmax goes through the PACKED-long max (see
        // bestAssignment) so it hash-aggregates instead of sort-aggregating
        bestAssignment(vecs,
          vecs.crossJoin(broadcast(centDf))
            .select(col("id"),
              packedScore(
                coalesce(round(cosine(col("v"), col("cv")), 6), lit(-2.0)),
                col("cid"))))
      }
    // persisted: the pair join consumes it twice, and the assignment
    // (k cosines per row) must not re-run per consumer
    val ranked = OperatorCaches.persistTracked(
      assigned.withColumn("rank", row_number().over(
        Window.partitionBy("cluster").orderBy(col("csim").asc, col("id").asc))))
    // within-cluster dominance: a is dropped iff SOME lower-rank b is
    // within threshold. Equi-join on cluster (the deliberate quadratic
    // confinement); left_semi so the pair stream never materializes
    val droppedIds = ranked.as("a").join(ranked.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("b.rank") < col("a.rank") &&
          round(cosine(col("a.v"), col("b.v")), 6) >= threshold,
        "left_semi")
      .select(col("id"))
    ranked
      .join(droppedIds.withColumn("dropped", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"), col("rank"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
  }

  /** (rounded-sim, cid) packed into ONE long for aggregation-side argmax:
    * sim6 = round(sim·1e6) ∈ [−2e6, 1e6] shifted non-negative into the top
    * 22 bits, cid in the low 41 (ids to 2.2e12 — far past any amplified
    * tier). max(packed) is EXACTLY lexicographic max over (sim6, cid) —
    * the same tie rule as array_max over (sim, cid) structs — but a
    * primitive-long max HASH-aggregates with map-side combine, where
    * max(struct) falls to SortAggregate and sorts the full scored stream
    * twice around the exchange (measured 36 s → 2 s on the ×100
    * assignment; the vector column must also stay OUT of the aggregate —
    * [[bestAssignment]] joins it back by id instead).
    */
  private val SimShift = 2000000L
  private def packedScore(sim6: Column, cid: Column): Column =
    shiftleft(round(sim6 * 1e6, 0).cast("long") + SimShift, 41)
      .bitwiseOR(cid).as("packed")

  /** Finish an argmax assignment from packed scores: one hash-aggregated
    * max per id, then re-attach the vector by id (an equi-join of two
    * id-unique sides — cheaper than dragging the array through the agg).
    */
  private def bestAssignment(vecs: DataFrame, scored: DataFrame): DataFrame = {
    val best = scored.groupBy("id").agg(max(col("packed")).as("p"))
      .select(col("id"),
        col("p").bitwiseAND(lit((1L << 41) - 1)).as("cluster"),
        ((shiftrightunsigned(col("p"), 41) - SimShift).cast("double") / 1e6)
          .as("csim"))
    vecs.join(best, Seq("id"))
      .select(col("id"), col("v"), col("cluster"), col("csim"))
  }

  /** Scalar twin of [[assignExpr]]'s scoring: 6-dp HALF_UP rounded cosine
    * (matches Spark round() and DuckDB round()), NaN → −2.0 — for the
    * driver-side pieces of two-level assignment.
    */
  private def cosRound6(a: Seq[Double], b: Seq[Double]): Double = {
    val d = a.zip(b).map { case (x, y) => x * y }.sum
    val c = d / (math.sqrt(a.map(x => x * x).sum) *
      math.sqrt(b.map(x => x * x).sum))
    if (c.isNaN) -2.0
    else BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Two-level centroid assignment: hash-pick `s` of the centroids as
    * super-centroids (portable order — an oracle re-derives the pick),
    * route each centroid to its best super on the driver (k·s scalar
    * cosines), then per document argmax over supers (s·d literals in the
    * plan) and a broadcast hash-join to ONLY the chosen super's members —
    * n·k/s scored rows instead of n·k. Every argmax uses the same rounded
    * (sim, id-max) rule as [[assignExpr]].
    */
  private[graft] def assignTwoLevel(
      vecs: DataFrame,
      centroids: Array[(Long, Seq[Double])],
      s: Int): DataFrame = {
    require(s > 0 && s <= centroids.length,
      s"superClusters $s out of range for ${centroids.length} centroids")
    val supers = centroids
      .sortBy { case (cid, _) => (PortableHash.portable60(cid.toString), cid) }
      .take(s)
    val sidOf: Map[Long, Long] = centroids.map { case (cid, cv) =>
      cid -> supers.map { case (sid, sv) => (cosRound6(cv, sv), sid) }.max._2
    }.toMap
    val spark = vecs.sparkSession
    import spark.implicits._
    val centDf = centroids.toSeq
      .map { case (cid, cv) => (cid, sidOf(cid), cv) }
      .toDF("cid", "sid", "cv")
    // stage 1 ALSO goes through the broadcast-join + packed-argmax form,
    // not the literal array_max expression: at s = 28 supers the literal
    // form embeds 28×64 doubles in one generated method, blows the
    // codegen size limit, and silently falls back to interpreted eval —
    // measured 35 s for 5.6M cosines at ×100 where this form does the
    // same work in ~1 s. A joined sid column is also immune to the
    // CollapseProject re-inlining that re-evaluated the argmax once per
    // (doc × member) row downstream.
    val superDf = supers.toSeq.toDF("sid", "sv")
    val sidBest = vecs.crossJoin(broadcast(superDf))
      .select(col("id"),
        packedScore(
          coalesce(round(cosine(col("v"), col("sv")), 6), lit(-2.0)),
          col("sid")))
      .groupBy("id").agg(max(col("packed")).as("p"))
      .select(col("id"), col("p").bitwiseAND(lit((1L << 41) - 1)).as("sid"))
    bestAssignment(vecs,
      vecs.join(sidBest, Seq("id"))
        .join(broadcast(centDf), Seq("sid"))
        .select(col("id"),
          packedScore(
            coalesce(round(cosine(col("v"), col("cv")), 6), lit(-2.0)),
            col("cid"))))
  }

  /** Per-band LSH keys through the native [[org.apache.spark.sql.graftnative.HyperplaneBands]]
    * expression: `b` keys of `w` sign bits each, band i over planes
    * [i·w, (i+1)·w) of the same deterministic 4-dp hyperplane sequence
    * [[lshBucket]] packs. Identical key VALUES to slicing the single-long
    * bucket (lockstep-spec'd) — but with no w·b ≤ 63 ceiling, and one
    * fused codegen loop instead of w·b interpreted HOF dot products.
    */
  private[graft] def lshBandKeys(
      v: Column, dim: Int, w: Int, b: Int, seed: Long = 42L): Column =
    org.apache.spark.sql.graftnative.HyperplaneBands(
      v, hyperplanes(dim, w * b, seed).flatten, dim, w, b)

  /** Reference HOF formulation of [[lshBandKeys]] (interpreted lambda
    * dispatch per plane) — the correctness oracle for the native
    * expression's lockstep spec, never the hot path.
    */
  private[graft] def lshBandKeysHof(
      v: Column, dim: Int, w: Int, b: Int, seed: Long = 42L): Column = {
    val planes = hyperplanes(dim, w * b, seed)
    array((0 until b).map { i =>
      (0 until w).foldLeft(lit(0L)) { case (acc, j) =>
        val d = dot(v, array(planes(i * w + j).map(lit): _*))
        acc.bitwiseOR(when(d >= 0, lit(1L << j)).otherwise(lit(0L)))
      }
    }: _*)
  }

  /** Embedding near-duplicate pairs: bucket-join on band signatures of the
    * hyperplane bits (several narrow bands so near pairs collide in ≥1
    * band), verify exact cosine ≥ threshold. id_a < id_b; no cartesian.
    * Output is UNSORTED — determinism ordering belongs to the caller (the
    * catalog entries add it), not a pair-cardinality range shuffle inside
    * every composed pipeline.
    *
    * Banding: a fixed band width fixes the bucket space, so candidate
    * volume grows with per-bucket occupancy SQUARED — measured 16.5× cost
    * for 10× vectors at 16 planes / 4 bands (BENCH_SF1.md) and killed at
    * x100 (BENCH_SF10.md §4). Band width must grow ~log2(n) to hold
    * occupancy constant, so [[autoCosineBanding]] picks (width, bands)
    * from (threshold, corpus size, dim), and the band keys come from the
    * native [[lshBandKeys]] — per-band longs with no 63-bit pack ceiling.
    * The corpus size comes from `n` when the caller knows it (ingest
    * pipelines know their batch size) — construction then runs no Spark
    * job at all. With `n = None` the operator counts the projected
    * (id, vector) frame AFTER persisting it, so the count doubles as the
    * cache materialization and the raw input is still scanned exactly
    * once.
    */
  /** Cost-model-derived (nPlanes, bands) for [[cosineNearDupPairs]]:
    * returns (w·b, b).
    *
    * A ≥-threshold pair agrees with a random hyperplane's sign with
    * probability p = 1 − arccos(t)/π (Goemans–Williamson), so a w-bit band
    * collides with probability p^w and b = ⌈ln(0.05)/ln(1−p^w)⌉ bands give
    * ≥95% band-collision recall. Among the widths that can still reach the
    * recall target within `bandCap` bands, pick the one minimizing the
    * modeled per-vector cost
    *
    *   signature work  w·b·dim          (one multiply-add per plane component)
    * + candidate work  b·(n/2^w)/2·C    (expected same-bucket partners per
    *                                     band; C ≈ 400 FLOP-equivalents per
    *                                     candidate row — shuffle + hash
    *                                     probe + dedup + verify amortized)
    *
    * — the standard LSH trade: wider bands cost more signature FLOPs and
    * more bands (recall decays as p^w), but shrink per-bucket occupancy
    * n/2^w geometrically, so the optimum width tracks ~log2(n) and the
    * candidate volume stays near-linear in n (the residual n^ρ band growth
    * is LSH physics, not a tuning miss). The curve is flat near its
    * minimum, so C's order of magnitude is all that matters. If NO width
    * reaches 95% within `bandCap` (low threshold at huge n — far from
    * LSH's design point), fall back to the narrowest band (w = 2, the
    * highest per-band recall) with capped bands, best-effort.
    *
    * Earlier rounds derived width from a fixed occupancy target and capped
    * w·b ≤ 63 to fit one packed long ([[lshBucket]]); the cap was itself a
    * scale ceiling (at n ≈ 10^5, t = 0.9 the recall-feasible widths no
    * longer fit), removed by the per-band [[lshBandKeys]] keys.
    *
    * Pure function of (threshold, n, dim) — the catalog oracle replays the
    * same derivation to splice the planes, so any change here must keep
    * the q_embed_neardup_auto entry's Spark and DuckDB sides in lockstep.
    */
  /** Expected LSH candidate PAIRS for [[cosineNearDupPairs]] at
    * (threshold, n, dim) — the pre-flight feasibility check for the bound
    * BENCH_SF10.md §5 measures. Random far vectors collide in a w-bit band
    * with probability 2^-w, so the derived (w, b) implies ≈ b · n²/2^(w+1)
    * verification candidates. At high thresholds the derivation holds this
    * near-linear in n (occupancy ~1); at LOW thresholds no 95%-recall
    * banding can (candidates ~ n²/(2p)^w with 2p barely above 1 — the
    * Goemans–Williamson agreement bound), and this estimate is how a
    * caller finds out BEFORE paying for it: e.g. ~1.7e11 at (0.25, 5e5),
    * vs ~3e5 at (0.9, 5e5). Per-vector ANN ([[annTopKAuto]]) or IVF are
    * the scale paths for low-similarity discovery.
    */
  def expectedAutoCandidatePairs(threshold: Double, n: Long, dim: Int): Double = {
    val (np, b) = autoCosineBanding(threshold, n, dim)
    val w = np / b
    b.toDouble * n.toDouble * (n.toDouble / math.pow(2.0, w)) / 2.0
  }

  private[graft] def autoCosineBanding(
      threshold: Double, n: Long, dim: Int, bandCap: Int = 64): (Int, Int) = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    def bandsFor(w: Int): Int = {
      val pw = math.pow(p, w)
      if (pw >= 1.0) 1
      else math.max(1, math.ceil(math.log(0.05) / math.log1p(-pw)).toInt)
    }
    val CandidateCost = 400.0
    def cost(w: Int): Double = {
      val b = math.min(bandsFor(w), bandCap)
      w.toDouble * b * dim + b * (n.toDouble / math.pow(2.0, w)) / 2.0 * CandidateCost
    }
    val feasible = (2 to 62).filter(w => bandsFor(w) <= bandCap)
    val w = if (feasible.nonEmpty) feasible.minBy(cost) else 2
    val b = math.min(bandsFor(w), bandCap)
    (w * b, b)
  }

  def cosineNearDupPairs(
      df: DataFrame,
      dim: Int,
      threshold: Double = 0.95,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      n: Option[Long] = None,
      maxExpectedCandidatePairs: Double = 1e9): DataFrame = {
    val vd = toDouble(col(vecCol))
    val projected = df.select(col(idCol).cast("long").as("id"), vd.as("v"))
    // banding params need the corpus size, but the sketch
    // expression needs the banding params — so when the caller can't
    // supply `n`, persist the (id, v) projection FIRST and let the
    // count() double as its cache materialization: the raw input is
    // scanned exactly once either way
    val base =
      if (n.isDefined) projected
      else OperatorCaches.persistTracked(projected)
    val nEff = n.getOrElse(base.count())
    // fail-fast feasibility gate: below the LSH boundary (low threshold
    // at large n — the Goemans–Williamson agreement bound analyzed in
    // BENCH_SF10.md §5) NO 95%-recall banding is sub-quadratic, and the
    // band join would die 20 minutes in with an opaque executor error.
    // Estimate the verification-candidate volume from the derived
    // banding FIRST and refuse with a diagnosis instead: e.g.
    // (t=0.25, n=5e5) estimates ~1.7e11 pairs. The ceiling's 1e9
    // default is ~one node-hour of verification work (≈400 FLOP-equiv
    // per candidate); callers who really want the quadratic override it.
    val est = expectedAutoCandidatePairs(threshold, nEff, dim)
    if (est > maxExpectedCandidatePairs)
      throw new IllegalArgumentException(
        f"cosineNearDupPairs at (threshold=$threshold%.2f, n=$nEff, " +
          f"dim=$dim) expects ~$est%.2e LSH candidate pairs — above the " +
          f"$maxExpectedCandidatePairs%.1e ceiling. This regime is below the " +
          "LSH feasibility boundary (expectedAutoCandidatePairs is the " +
          "pre-flight check); use annTopKAuto (per-vector top-k) or the IVF " +
          "path (ivfTopK) for low-similarity discovery, or " +
          "raise maxExpectedCandidatePairs to force the quadratic join.")
    val (np, nb) = autoCosineBanding(threshold, nEff, dim)
    // persist the sketch: the band-key expression (many dot
    // products) must evaluate once per vector, not once per band per join
    // side
    val sketched = OperatorCaches.persistTracked(
      base.withColumn("bands", lshBandKeys(col("v"), dim, np / nb, nb)))
    val banded = sketched.select(col("id"), col("v"),
        posexplode(col("bands")).as(Seq("band", "bv")))
    // candidate ids first (cheap longs through the shuffle + dedup), then
    // join vectors back and compute cosine once per UNIQUE candidate pair
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val vecs = sketched.select(col("id"), col("v"))
    pairs
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        // cut on the ROUNDED similarity (same rationale as bruteForceTopK):
        // a raw-float threshold is ulp-sensitive to accumulation order, so
        // an independent engine replaying the math could flip boundary pairs
        round(cosine(col("v_a"), col("v_b")), 4).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Hard-negative mining for contrastive / embedding training: for each
    * anchor vector, the k corpus vectors MOST similar to it that carry a
    * DIFFERENT label — the negatives that actually move a contrastive
    * loss (easy negatives are already far; random negatives waste batch
    * slots). The anchor side is the (bounded) mining batch — in practice
    * the anchors of the next training epoch — so it broadcasts; the
    * corpus side streams map-only through the scan, and the per-anchor
    * top-k keeps a MAP-SIDE partial heap (graftnative.TopKPerKey), so
    * the shuffle carries at most k rows per anchor per partition, never
    * the n_anchors × n_corpus score matrix. At 100 TB this is the exact
    * mining shape (one corpus pass per batch); when the corpus-side pass
    * itself must shrink, the ANN bucket operators here ([[annTopK]],
    * [[ivfTopK]]) compose in front as the candidate generator — same
    * scores, pruned candidate set.
    *
    * Similarities rank on the ROUNDED value (4 dp) with an id tie-break —
    * the same cross-engine float convention as [[bruteForceTopK]]. Output:
    * (anchor_id, neg_id, sim), exactly k rows per anchor (fewer only if
    * the corpus has < k differently-labeled vectors).
    */
  def hardNegatives(
      anchors: DataFrame,
      corpus: DataFrame,
      k: Int = 5,
      idCol: String = "vec_id",
      labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val a = anchors.select(
      col(idCol).cast("long").as("anchor_id"),
      col(labelCol).as("__ay"),
      toDouble(col(vecCol)).as("__av"))
    val c = corpus.select(
      col(idCol).cast("long").as("neg_id"),
      col(labelCol).as("__cy"),
      toDouble(col(vecCol)).as("__cv"))
    val scored = c.crossJoin(broadcast(a))
      .filter(col("__cy") =!= col("__ay") && col("neg_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("neg_id"),
        round(cosine(col("__av"), col("__cv")), 4).as("sim"))
    org.apache.spark.sql.graftnative.TopKPerKey(
      scored, keyCols = Seq("anchor_id"),
      orderCols = Seq(col("sim").desc, col("neg_id")), k = k)
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998) of a
    * per-query candidate SHORTLIST: greedily select k items maximizing
    *
    *   λ·rel(c) − (1−λ)·max_{s ∈ selected} sim(c, s)
    *
    * — the diversity-aware final stage of a retrieval pipeline (dedupe
    * near-identical hits out of the top-k the ANN stage returned).
    *
    * SHORTLIST contract: `cands` must already be bounded per query (the
    * top-N of an ANN/BM25 stage, N ≲ 100s) — the pairwise-similarity
    * self-join is per-query N², and the greedy loop is k sequential
    * bounded Spark jobs. This is the standard production shape: MMR
    * re-ranks shortlists; it never scans the corpus.
    *
    * Distributed shape: all queries advance in PARALLEL each round — the
    * per-round job is one anti-join (drop selected), one join against the
    * persisted pairwise-sim table restricted to selected partners, one
    * bounded groupBy(max), one per-query window argmax. Selected state is
    * lineage-cut per round (the bradleyTerry convention).
    *
    * Cross-engine determinism: similarities and relevances are quantized
    * to the 1e-4 unit grid (round(x·10000) — the 4-dp cosine boundary),
    * so the greedy objective
    *   score = λnum·rel_u − (λden−λnum)·max_sim_u
    * is exact BIGINT arithmetic with argmax ties broken by min id; rank 1
    * is pure max-relevance (selected set empty — the textbook seed).
    *
    * Returns (qid, rank, id, rel_u, max_sim_u) — max_sim_u NULL on the
    * seed row; ranks stop early for queries with fewer than k candidates.
    */
  def mmrRerank(
      cands: DataFrame,
      qidCol: Column,
      idCol: Column,
      relUnitsCol: Column,
      vecCol: Column,
      k: Int,
      lambdaNum: Int = 7,
      lambdaDen: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && k <= 100, "k must be in [1, 100] — MMR is a shortlist re-ranker")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      "lambda must be a rational in [0, 1]")
    val base = OperatorCaches.persistTracked(
      cands.select(qidCol.cast("long").as("qid"), idCol.cast("long").as("id"),
        relUnitsCol.cast("long").as("rel_u"), toDouble(vecCol).as("v")))
    val a = base.select(col("qid"), col("id").as("id_x"), col("v").as("vx"))
    val b = base.select(col("qid"), col("id").as("id_y"), col("v").as("vy"))
    val pairs = OperatorCaches.persistTracked(
      a.join(b, Seq("qid")).filter(col("id_x") =!= col("id_y"))
        .select(col("qid"), col("id_x"), col("id_y"),
          round(cosine(col("vx"), col("vy")) * 10000, 0).cast("long")
            .as("sim_u")))
    val slim = base.select("qid", "id", "rel_u")
    val wSeed = Window.partitionBy("qid")
      .orderBy(col("rel_u").desc, col("id").asc)
    val seed = slim
      .withColumn("rn", row_number().over(wSeed)).filter(col("rn") === 1)
      .select(col("qid"), lit(1L).as("rank"), col("id"), col("rel_u"),
        lit(null).cast("long").as("max_sim_u"))
    val lNum = lambdaNum.toLong
    val lCmp = (lambdaDen - lambdaNum).toLong
    var acc = seed.localCheckpoint()
    for (t <- 2 to k) {
      val selIds = acc.select(col("qid"), col("id").as("id_y"))
      val maxSim = pairs.join(selIds, Seq("qid", "id_y"))
        .groupBy(col("qid"), col("id_x").as("id"))
        .agg(max("sim_u").as("max_sim_u"))
      val rem = slim.join(acc.select("qid", "id"), Seq("qid", "id"),
        "left_anti")
      val wPick = Window.partitionBy("qid")
        .orderBy((lit(lNum) * col("rel_u") - lit(lCmp) * col("max_sim_u"))
          .desc, col("id").asc)
      val picked = rem.join(maxSim, Seq("qid", "id"))
        .withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
        .select(col("qid"), lit(t.toLong).as("rank"), col("id"),
          col("rel_u"), col("max_sim_u"))
      acc = acc.unionByName(picked).localCheckpoint()
    }
    acc
  }
}
