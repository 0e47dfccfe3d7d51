package graft

import graft.TempDirs.withTempDir
import org.apache.spark.sql.functions._

/** Pins the amplifier invariants the ×N scale proofs depend on — the
  * round-6 verdict's top item was a ×100 run, which the round-5 caesar
  * scheme could not produce (26-key period ⇒ replica r+26 was an exact
  * cross-replica dup of replica r).
  */
class ScaleDataSpec extends SparkSpec {

  test("letter permutations are deterministic, bijective, and distinct far past 26") {
    val perms = (0 until 200).map(ScaleData.letterPerm)
    assert(perms == (0 until 200).map(ScaleData.letterPerm), "not deterministic")
    assert(perms.head == "abcdefghijklmnopqrstuvwxyz", "replica 0 must be identity")
    perms.foreach(p => assert(p.sorted == "abcdefghijklmnopqrstuvwxyz", s"not a bijection: $p"))
    // the caesar ceiling: r and r+26 must now differ
    assert(perms.distinct.size == 200, "permutation collision")
  }

  test("sign patterns are deterministic, ±1, identity at r=0, distinct past dim") {
    val dim = 64
    val pats = (0 until 200).map(r => ScaleData.signPattern(r, dim).toSeq)
    assert(pats == (0 until 200).map(r => ScaleData.signPattern(r, dim).toSeq))
    assert(pats.head.forall(_ == 1.0f), "replica 0 must be identity")
    pats.foreach(p => assert(p.forall(s => s == 1.0f || s == -1.0f)))
    // rotation alone repeats with period dim; the sign flip must break that
    // (replica r+dim otherwise collides with replica r, cosine-1 pairs)
    assert(pats.distinct.size == 200, "sign-pattern collision")
  }

  test("×30 amplification preserves dup linearity, replica-0 identity, and vector geometry") {
    val src = "/root/testdata/sf0.001"
    withTempDir("scale-spec") { out =>
      val factor = 30 // past the old 26 ceiling on purpose
      ScaleData.run(spark, src, out, factor)

      val baseDocs = spark.read.parquet(s"$src/documents.parquet")
      val docs = spark.read.parquet(s"$out/documents.parquet")
      assert(docs.count() == factor * baseDocs.count())

      // replica 0 bit-identical (id-addressed queries keep their anchors)
      val r0 = docs.filter(col("doc_id") < 100000000L)
      assert(r0.exceptAll(baseDocs).isEmpty && baseDocs.exceptAll(r0).isEmpty)

      // linear dup growth == distinct lettered texts grow exactly ×factor
      // (a cross-replica collision — the caesar-period failure mode — would
      // make this count fall short)
      def letteredDistinct(df: org.apache.spark.sql.DataFrame): Long =
        df.filter(col("text").rlike("[A-Za-z]")).select("text").distinct().count()
      assert(letteredDistinct(docs) == factor * letteredDistinct(baseDocs))

      // per-replica internal dup structure preserved exactly: the multiset of
      // exact-dup group sizes must be identical in every replica
      val groupSizes = docs
        .withColumn("replica", (col("doc_id") / 100000000L).cast("long"))
        .groupBy("replica", "text").count()
        .groupBy("replica", "count").agg(count("*").as("n_groups"))
      assert(groupSizes.select("count", "n_groups").distinct().count() ==
        groupSizes.filter(col("replica") === 0).count())

      // embeddings: orthogonal transform ⇒ norms preserved bit-for-bit up to
      // fp addition order; compare per-vector against its replica-0 source
      val emb = spark.read.parquet(s"$out/embeddings.parquet")
        .withColumn("src_id", col("vec_id") % 100000000L)
        .withColumn("norm2", aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x * x))
      val baseNorm = spark.read.parquet(s"$src/embeddings.parquet")
        .withColumn("norm2", aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x * x))
        .select(col("vec_id").as("src_id"), col("norm2").as("base_norm2"))
      val drift = emb.join(baseNorm, "src_id")
        .select(max(abs(col("norm2") - col("base_norm2")))).head().getDouble(0)
      assert(drift < 1e-3, s"norm drift $drift — transform not orthogonal")

      // and vectors must NOT be identical across replicas (the rotation-only
      // failure mode at r ≥ dim; here any pair suffices as a canary)
      val distinctVecs = emb.select("embedding").distinct().count()
      val baseVecs = baseNorm.count()
      assert(distinctVecs > (factor - 1) * baseVecs,
        s"cross-replica vector collisions: $distinctVecs distinct of ${factor * baseVecs}")
    }
  }
}
