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

  test("golden signature: one fixed document's 64 portable minima") {
    // literal values, not recomputed from the code under test: every
    // oracle and lockstep test above reads the affine family from
    // Dedup.affineParams, so a changed seed would pass them all while every
    // persisted sketch table stopped matching newly sketched documents
    val sig = docs.filter(col("doc_id") === 1L)
      .select(Dedup.minHashSignaturePortable(
        Dedup.portableShingleHashes(col("text")), n))
      .head().getSeq[Long](0)
    assert(sig === Seq(
      908597545L, 18099493L, 217496197L, 50842836L, 217575879L, 245732327L,
      53066765L, 212114485L, 222771607L, 17557892L, 88772421L, 122319699L,
      106753994L, 403733917L, 80959851L, 542393204L, 337584329L, 272822526L,
      750334255L, 88699122L, 237708592L, 23566146L, 357072259L, 72898836L,
      911883945L, 227768194L, 13080351L, 152428021L, 379566951L, 292986964L,
      1150426L, 376308319L, 43738811L, 1197051L, 521931668L, 88764563L,
      76427890L, 364904896L, 402709177L, 415037913L, 437058697L, 467176092L,
      39524462L, 131026933L, 281360931L, 181904200L, 325615400L, 152880375L,
      192824723L, 102760444L, 517024346L, 143463561L, 372967618L, 489513605L,
      361556475L, 225560165L, 65278492L, 151826212L, 717333605L, 434182328L,
      124786131L, 77013518L, 595139433L, 295090925L))
  }
}
