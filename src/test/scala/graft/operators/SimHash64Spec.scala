package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The per-row SimHash fingerprint ([[Dedup.simHashHof]]) against the bulk
  * aggregate sketch ([[Dedup.simHashSketch]]) on token-count and whitespace
  * extremes: a repeated long text, a single token, a two-token doc, mixed
  * case with runs of spaces, and a null text.
  */
class SimHash64Spec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "a b",
      4L -> "single",
      5L -> ("lorem ipsum dolor sit amet " * 40).trim,
      6L -> "  Mixed   CASE   and   spacing  ")
      .toDF("doc_id", "text")
      .union(Seq(7L).toDF("doc_id").select(col("doc_id"),
        lit(null).cast("string").as("text")))
  }

  test("native fingerprint equals the bulk simHashSketch aggregate") {
    // explode → 64 bit-count sums → repack must reproduce the per-row
    // vote fold bit for bit
    val viaSketch = Dedup.simHashSketch(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perRow = docs.select(col("doc_id"), Dedup.simHashHof(col("text")))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(perRow(7L) == null, "null text must fingerprint as null")
    // a null text has no tokens to explode, so the sketch has no row for it
    assert(viaSketch.keySet === perRow.keySet - 7L)
    viaSketch.foreach { case (id, sh) => assert(perRow(id) === sh, s"doc $id") }
    // identical docs agree, distinct docs differ
    assert(viaSketch(1L) === viaSketch(2L))
    assert(viaSketch(1L) !== viaSketch(5L))
  }
}
