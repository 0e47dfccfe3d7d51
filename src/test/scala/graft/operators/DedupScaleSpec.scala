package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Scale-shape check for the fuzzy-dedup path: a 21x-replicated corpus
  * (10.5k docs) where every replica of a base doc is a near-dup of every
  * other. LSH must recover the full clique for a long doc (deterministic:
  * every hash is seeded) through the band shuffle alone — any cartesian
  * or per-band re-evaluation pathology would blow past the suite budget
  * long before assertions fail.
  */
class DedupScaleSpec extends SparkSpec {

  test("replica cliques in a 10.5k-doc corpus: complete recall, one cluster each") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // rep 0 keeps the text; reps 1..20 append a distinct token, so within a
    // base group J(doc_i, doc_j) = L/(L+~3) — near 1 for long docs
    val reps = spark.range(21).select(col("id").as("rep"))
    val scaled = docs.crossJoin(reps).select(
      (col("doc_id") + col("rep") * 1000).as("doc_id"),
      when(col("rep") === 0, col("text"))
        .otherwise(concat(col("text"), lit(" rep"), col("rep"))).as("text"))
    assert(scaled.count() === 21 * 500)

    val longest = docs.orderBy(col("n_chars").desc, col("doc_id")).head().getLong(0)
    val cliqueIds = (0 until 21).map(r => longest + r * 1000L).toSet

    val pairs = Dedup.minHashLsh(scaled, threshold = 0.5)
    val cliquePairs = pairs
      .filter(col("id_a").isin(cliqueIds.toSeq: _*) && col("id_b").isin(cliqueIds.toSeq: _*))
      .count()
    assert(cliquePairs === 21L * 20L / 2L, s"clique incomplete: $cliquePairs of 210")

    // connected components puts the whole clique in one component labeled
    // by its min id (the rep-0 original)
    val comps = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
      .filter(col("id").isin(cliqueIds.toSeq: _*))
      .select("component").distinct().collect().map(_.getLong(0))
    assert(comps.toSeq === Seq(longest))
    OperatorCaches.releaseAll()
  }

  test("prefix-filtered ngram jaccard recovers a replica clique at 10.5k docs") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val reps = spark.range(21).select(col("id").as("rep"))
    val scaled = docs.crossJoin(reps).select(
      (col("doc_id") + col("rep") * 1000).as("doc_id"),
      when(col("rep") === 0, col("text"))
        .otherwise(concat(col("text"), lit(" rep"), col("rep"))).as("text"))
    val longest = docs.orderBy(col("n_chars").desc, col("doc_id")).head().getLong(0)
    val cliqueIds = (0 until 21).map(r => longest + r * 1000L).toSet

    // the EXACT method must find all 210 clique pairs through the prefix
    // self-join (prefix filtering provably loses no pair at J >= t); a
    // quadratic-candidate pathology would blow the suite budget first
    val cliquePairs = Dedup.ngramJaccard(scaled, threshold = 0.6)
      .filter(col("id_a").isin(cliqueIds.toSeq: _*) &&
        col("id_b").isin(cliqueIds.toSeq: _*))
      .count()
    assert(cliquePairs === 21L * 20L / 2L, s"clique incomplete: $cliquePairs of 210")
    OperatorCaches.releaseAll()
  }

  test("hammingPairs: 10k identical sketches pair in bounded candidates") {
    import spark.implicits._
    // the identical-sketch hot key: 10k all-zero sketches (every all-black
    // image dHashes to 0, silence RMS-hashes to 0) plus a small diverse
    // tail. Value-level banding must route the hot group through the
    // equality join — the OLD id-level banding generated (maxHamming+1) ·
    // 10k² ≈ 4·10⁸ candidate rows plus a dropDuplicates over all of them,
    // which blows the suite budget long before assertions run. The clique
    // output itself (~5·10⁷ pairs) is the contract, counted not collected.
    val hot = spark.range(10000).select(col("id"), lit(0L).as("sh"))
    val diverse = (0 until 5).map(i => (10000L + i, 1L << (i * 8))).toDF("id", "sh")
    val pairs = Dedup.hammingPairs(hot.unionByName(diverse), maxHamming = 3)
    // hot clique: C(10k, 2); each diverse sketch is 1 bit from zero and 2
    // bits from every other diverse sketch — all within maxHamming = 3
    val expectHot = 10000L * 9999L / 2L
    val expectCross = 5L * 10000L // each diverse id pairs with every hot id at hamming 1
    val expectDiverse = 5L * 4L / 2L // diverse-diverse at hamming 2
    assert(pairs.count() === expectHot + expectCross + expectDiverse)
    // spot-verify hammings on the boundary rows
    val h = pairs.filter(col("id_a") === 10000L && col("id_b") === 10001L)
      .select("hamming").head().getInt(0)
    assert(h === 2)
    OperatorCaches.releaseAll()
  }

  test("videoNearDupPairs maxFrameDf drops a ubiquitous frame from every set") {
    import spark.implicits._
    // 30 videos all opening with the same intro frame (the hub), then 3
    // per-video frames — except videos 0 and 1, which share their 3 tail
    // frames (a true near-dup pair). Uncapped, the intro alone makes all
    // C(30,2) candidate pairs; capped, the intro leaves every SET (exact
    // reduced-set semantics), so J(0,1) = 3/3 = 1.0 and nothing else pairs.
    val intro = MediaGen.gridFrame(900000L)
    def video(id: Long): Multimodal.MediaItem = {
      val tailBase = if (id <= 1) 910000L else 920000L + id * 10
      val frames = intro +: (0 until 3).map(j => MediaGen.gridFrame(tailBase + j))
      Multimodal.MediaItem(id, "video", MediaGen.gifOf(frames), "gen")
    }
    val items = (0L until 30L).map(video).toDS()
    val capped = Multimodal.videoNearDupPairs(items, threshold = 0.5, maxFrameDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped === Map((0L, 1L) -> 1.0),
      s"capped pairs should be exactly the tail-sharing pair: $capped")
    // uncapped keeps the historical semantics: intro counts in sets and
    // intersections — J(0,1) = 4/4, hub-only pairs J = 1/7 fall below 0.5
    val uncapped = Multimodal.videoNearDupPairs(items, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(uncapped === Map((0L, 1L) -> 1.0))
    OperatorCaches.releaseAll()
  }
}
