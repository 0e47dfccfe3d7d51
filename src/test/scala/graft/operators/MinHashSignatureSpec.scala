package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Lockstep guard for the native one-pass MinHash signature expression
  * (graftnative.MinHashSignature) against the higher-order-function
  * formulation it replaced — same contract as CosineSimilaritySpec: the
  * native codegen path must be BIT-IDENTICAL to the composed built-ins,
  * including the degenerate shapes (empty array, null array, null
  * elements), or every persisted sketch table and every DuckDB oracle
  * replaying the affine family would silently diverge.
  */
class MinHashSignatureSpec extends SparkSpec {

  private val n = 64

  private def docs = {
    import spark.implicits._
    Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "a b",
      4L -> "single",
      5L -> ("lorem ipsum dolor sit amet " * 40).trim)
      .toDF("doc_id", "text")
  }

  private def collectSigs(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap

  test("portable mode is bit-identical to the HOF formulation") {
    val sh = Dedup.portableShingleHashes(col("text"))
    val native = collectSigs(docs.select(col("doc_id"),
      Dedup.minHashSignaturePortable(sh, n)))
    val hof = collectSigs(docs.select(col("doc_id"),
      Dedup.minHashSignaturePortableHof(sh, n)))
    assert(native === hof)
    // every portable value stays in [0, p)
    assert(native.values.flatten.forall(v => v >= 0 && v < Dedup.MinHashP))
    // identical docs get identical signatures; distinct docs don't
    assert(native(1L) === native(2L))
    assert(native(1L) !== native(5L))
  }

  test("interpreted eval agrees with codegen") {
    // collect() under codegen vs the same plan with codegen disabled
    // session-wide (no whole-stage codegen, interpreted expression factory)
    val sh = Dedup.portableShingleHashes(col("text"))
    val underCodegen = collectSigs(docs.select(col("doc_id"),
      Dedup.minHashSignaturePortable(sh, n)))
    val conf = spark.conf
    val prevWs = conf.get("spark.sql.codegen.wholeStage")
    val prevFm = conf.get("spark.sql.codegen.factoryMode")
    try {
      conf.set("spark.sql.codegen.wholeStage", "false")
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = collectSigs(docs.select(col("doc_id"),
        Dedup.minHashSignaturePortable(sh, n)))
      assert(interpreted === underCodegen)
    } finally {
      conf.set("spark.sql.codegen.wholeStage", prevWs)
      conf.set("spark.sql.codegen.factoryMode", prevFm)
    }
  }

  test("non-long array input fails at analysis, not execution") {
    import spark.implicits._
    val ints = Seq((1L, Seq(1, 2, 3))).toDF("id", "sh")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(Dedup.minHashSignaturePortable(col("sh"), 8)).collect()
    }
    assert(e.getMessage.contains("array<bigint>"), e.getMessage)
  }

  test("degenerate inputs: null/empty arrays and null elements match the HOF form") {
    import spark.implicits._
    val weird = Seq(
      (1L, Seq(7L, 8L, 9L)),
      (2L, Seq.empty[Long])).toDF("id", "sh")
      .union(Seq(3L).toDF("id").select(col("id"),
        lit(null).cast("array<bigint>").as("sh")))
      .union(Seq(4L).toDF("id").select(col("id"),
        expr("array(5L, NULL, 6L)").as("sh")))
    def sigs(f: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column) =
      weird.select(col("id"), f(col("sh"), 8).as("sig")).collect()
        .map(r => r.getLong(0) -> r.getSeq[java.lang.Long](1).toSeq).toMap
    val nat = sigs(Dedup.minHashSignaturePortable)
    val hof = sigs(Dedup.minHashSignaturePortableHof)
    // every shape agrees with the HOF form exactly, null elements included
    for (id <- Seq(1L, 2L, 3L, 4L)) assert(nat(id) === hof(id), s"id $id")
    assert(nat(2L).forall(_ == null) && nat(2L).size == 8)
    assert(nat(3L).forall(_ == null))
    // a null ELEMENT is skipped: the min runs over the non-null hashes only
    val expected = weird.filter(col("id") === 1)
      .select(Dedup.minHashSignaturePortable(expr("array(5L, 6L)"), 8).as("sig"))
      .head().getSeq[java.lang.Long](0).toSeq
    assert(nat(4L) === expected)
  }
}
