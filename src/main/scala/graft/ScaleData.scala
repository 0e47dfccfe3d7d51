package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-test data amplifier: writes a `factor`-times copy of a testdata
  * tier, for scale-proofing the catalog beyond the largest generated tier
  * (the driver ships sf0.001/0.01/0.1; ×10 of sf0.1 ≈ sf1, ×100 ≈ sf10).
  *
  * Replication preserves the properties the operators' cost models depend
  * on, rather than stamping identical rows:
  *  - Every key column shifts by replica × 10^8, ACROSS tables consistently
  *    (l_orderkey moves with o_orderkey, o_custkey with c_custkey...), so
  *    join fan-outs and key cardinalities scale linearly instead of
  *    overlapping replicas onto the same keys. Keys are int64 in every
  *    tier, so the shift stays exact far past ×100 (99 × 10^8 ≪ 2^63).
  *  - Document text is re-lettered per replica through a SEEDED ALPHABET
  *    PERMUTATION (a deterministic Fisher–Yates over a–z, applied to both
  *    cases via translate). Any letter bijection maps shingle sets
  *    bijectively, so each replica keeps the original's INTERNAL
  *    near/exact-dup structure EXACTLY — dup pairs grow linearly, like a
  *    real N× corpus — while distinct permutations keep replicas from
  *    near-matching each other. This replaces the round-5 caesar rotation,
  *    whose 26-key period made replica r+26 an exact cross-replica dup of
  *    replica r and capped the amplifier at factor 26; the permutation
  *    space is 26! and per-run distinctness is asserted outright. Pure-digit
  *    tokens survive any re-lettering unchanged; that trickle of
  *    cross-replica shared grams is harmless.
  *  - Embeddings get a per-replica ORTHOGONAL transform: component
  *    rotation by r mod dim composed with seeded ±1 sign flips. Orthogonal
  *    ⇒ norms and all within-replica cosines are preserved exactly;
  *    distinct sign patterns ⇒ replica r and r+dim no longer collide (the
  *    round-5 rotation-only scheme made replica r+dim's vectors identical
  *    to replica r's, i.e. cross-replica cosine-1 pairs past factor = dim).
  *  - Dimension tables (region, nation) stay as-is — dims don't grow with
  *    fact data.
  * Replica 0 is bit-identical to the source, so id-addressed queries
  * (collectQueryVec(id=1), derived re-crawl batches) keep their anchors.
  *
  * Usage: runMain graft.ScaleData <srcDir> <outDir> [factor]
  */
object ScaleData {

  private val Stride = 100000000L // replica key offset; source keys are << 10^8

  /** Hard factor cap: key-shift headroom (Long) allows ~9×10^10 replicas;
    * 1000 is simply far beyond any run this harness will do and keeps the
    * permutation-distinctness assertion cheap.
    */
  val MaxFactor = 1000

  private def shifted(c: String, r: Int): Column =
    (col(c) + lit(r * Stride)).as(c)

  /** Deterministic per-replica permutation of a–z (identity for r = 0).
    * Seeded Fisher–Yates: same replica index always yields the same
    * permutation, across runs and machines (java.util.Random LCG).
    */
  private[graft] def letterPerm(r: Int): String = {
    val base = "abcdefghijklmnopqrstuvwxyz".toCharArray
    if (r == 0) return new String(base)
    val rnd = new java.util.Random(0x5ca1ab1eL * 2654435761L + r)
    var i = base.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = base(i); base(i) = base(j); base(j) = t
      i -= 1
    }
    new String(base)
  }

  /** Per-replica re-lettering via the seeded permutation (both cases). */
  private def relettered(c: String, r: Int): Column =
    if (r == 0) col(c)
    else {
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val perm = letterPerm(r)
      translate(col(c), lower + lower.toUpperCase,
        perm + perm.toUpperCase).as(c)
    }

  /** Deterministic per-replica ±1 sign pattern (all +1 for r = 0). */
  private[graft] def signPattern(r: Int, dim: Int): Array[Float] = {
    if (r == 0) return Array.fill(dim)(1.0f)
    val rnd = new java.util.Random(0xf1a95eedL * 2654435761L + r)
    Array.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
  }

  /** Rotate an array column left by r mod dim, then flip signs by the
    * replica's pattern — one orthogonal transform per replica.
    */
  private def rotated(c: String, r: Int, dim: Int): Column = {
    val k = r % dim
    val rot =
      if (k == 0) col(c)
      else concat(slice(col(c), k + 1, dim - k), slice(col(c), 1, k))
    if (r == 0) rot.as(c)
    else {
      val signs = array(signPattern(r, dim).map(lit).toIndexedSeq: _*)
      zip_with(rot, signs, (x, s) => x * s).as(c)
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.builder("graft-scaledata").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, out, factor)
    spark.stop()
  }

  /** The amplifier proper, session supplied by the caller (main or spec). */
  def run(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    require(factor >= 1 && factor <= MaxFactor,
      s"factor must be in [1, $MaxFactor] (got $factor)")
    // 26! keys make a collision effectively impossible, but the linearity
    // invariant is load-bearing enough to assert rather than trust: a
    // repeated permutation would make two replicas exact cross-replica
    // text dups and quietly turn dup-pair growth quadratic
    val perms = (0 until factor).map(letterPerm)
    require(perms.distinct.size == factor,
      "letter permutations collided — dup growth would not be linear")

    // key columns per table; everything else copies through unchanged
    val keyCols: Map[String, Seq[String]] = Map(
      "customer" -> Seq("c_custkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "part" -> Seq("p_partkey"),
      "supplier" -> Seq("s_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))

    def replica(df: DataFrame, table: String, r: Int, embDim: Int): DataFrame = {
      val keys = keyCols(table)
      df.select(df.columns.map {
        case c if keys.contains(c) => shifted(c, r)
        case "text" if table == "documents" => relettered("text", r)
        case "embedding" if table == "embeddings" => rotated("embedding", r, embDim)
        case c => col(c)
      }.toIndexedSeq: _*)
    }

    for (table <- keyCols.keys.toSeq.sorted) {
      // raw read (no ts repair) so the scaled files keep the source schema
      val base = spark.read.parquet(s"$src/$table.parquet")
      // rotation dim comes from the DATA, not a constant: a hardcoded 64
      // against a different-width embedding column would silently slice
      // short/misrotated vectors into every replica. One aggregate probes
      // min and max width together: an empty table and a ragged column
      // both fail loudly here instead of misrotating rows downstream.
      val embDim =
        if (table == "embeddings") {
          val probe = base.agg(
            min(size(col("embedding"))), max(size(col("embedding")))).collect()
          require(probe.nonEmpty && !probe(0).isNullAt(0),
            s"$src/$table.parquet is empty — cannot derive embedding dim")
          val (lo, hi) = (probe(0).getInt(0), probe(0).getInt(1))
          require(lo == hi,
            s"ragged embedding column in $src/$table.parquet (widths $lo..$hi)")
          hi
        } else 0
      val scaledUp = (0 until factor).map(replica(base, table, _, embDim))
        .reduce(_ unionByName _)
      scaledUp.write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scale] $table x$factor")
    }
    for (dim <- Seq("nation", "region")) {
      spark.read.parquet(s"$src/$dim.parquet")
        .write.mode("overwrite").parquet(s"$out/$dim.parquet")
      println(s"[scale] $dim (dim, unscaled)")
    }
    println(s"[scale] wrote $out")
  }
}
