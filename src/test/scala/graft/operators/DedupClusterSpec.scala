package graft.operators

import graft.SparkSpec
import graft.TempDirs.withTempDir
import org.apache.spark.sql.functions._

class DedupClusterSpec extends SparkSpec {

  /** Rounds enough for min-label to converge on every graph below. */
  private val minLabelRounds = 100

  test("connected components labels transitive groups by min id") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11}, {20} (self-pair)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L))
      .toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))

    // 60-node chain: diameter 59, far past the min-label probe rounds —
    // the operator must switch loops, not return half-propagated labels
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val viaChain = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaChain.size == 60 && viaChain.values.forall(_ == 1L), viaChain)
  }

  test("large-star/small-star agrees with label propagation on chains and random graphs") {
    import spark.implicits._
    // 60-node chain: worst case for label propagation (diameter 59),
    // log-round case for star contraction
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val viaStar = Dedup.starComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar.size == 60 && viaStar.values.forall(_ == 1L))

    // seeded random graph: star and min-label must produce identical labels
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(150)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    val pairs = edges.toDF("id_a", "id_b")
    val star = Dedup.starComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = Dedup.minLabelComponents(pairs, minLabelRounds).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === prop)

    // empty edge list degenerates cleanly
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.starComponents(empty).isEmpty)
    // min-label too: a dup-free ingest micro-batch produces zero pairs, and
    // sum() over the empty label set is null — must converge, not NPE
    assert(Dedup.minLabelComponents(empty, 1).exists(_.isEmpty))
    assert(Dedup.connectedComponents(empty).isEmpty)
  }

  test("iterative rounds use RELIABLE checkpoints when a checkpoint dir is set") {
    import spark.implicits._
    val sc = spark.sparkContext
    withTempDir("ckpt") { dir =>
      sc.setCheckpointDir(dir)
      try {
        val chain = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
        val star = Dedup.starComponents(chain)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(star.size == 30 && star.values.forall(_ == 1L))
        val prop = Dedup.minLabelComponents(chain, minLabelRounds).get
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(prop === star)
        // the reliable path really ran: checkpoint blocks were written to dir
        def rddFiles(f: java.io.File): Int =
          Option(f.listFiles).toSeq.flatten
            .map(c => if (c.isDirectory) rddFiles(c) else if (c.getName.startsWith("part-")) 1 else 0)
            .sum
        assert(rddFiles(new java.io.File(dir)) > 0)
      } finally {
        // restore the no-checkpoint-dir default so other suites sharing this
        // SparkContext keep using localCheckpoint (private[spark] setter)
        classOf[org.apache.spark.SparkContext]
          .getMethod("checkpointDir_$eq", classOf[Option[_]])
          .invoke(sc, None)
      }
    }
  }

  test("fuzzy dedup clusters chain A~B~C into one cluster with one keeper") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh"),
      (2L, "aa bb cc dd ee ff gg xx"),   // near dup of 1
      (3L, "aa bb cc dd ee ff yy xx"),   // near dup of 2, farther from 1
      (4L, "totally unrelated content right here now ok")
    ).toDF("doc_id", "text")
    val clusters = Dedup.fuzzyDedupClusters(docs, threshold = 0.3).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("component"), r.getAs[Boolean]("keep"))).toMap
    assert(clusters(1L) === ((1L, true)))
    assert(clusters(2L)._1 === 1L && !clusters(2L)._2)
    assert(clusters(3L)._1 === 1L && !clusters(3L)._2)
    assert(clusters(4L) === ((4L, true)))
  }

  test("repetition metrics: duplicate tokens and repeated bigrams score high") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "all words here are fully unique tokens"),
      (3L, "one")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("dup_token_ratio"), r.getAs[Double]("top_bigram_ratio"))).toMap
    assert(m(1L)._1 > 0.8 && m(1L)._2 === 1.0) // "spam spam" is every bigram
    assert(m(2L)._1 === 0.0)
    assert(m(2L)._2 < 0.5)
    assert(m(3L) === ((0.0, 0.0))) // single token: no bigrams
  }

  test("keepBest: per-component quality argmax with id tiebreak") {
    import spark.implicits._
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),   // q: 5, 9, 9 -> keeper 2 (tie, min id)
      (4L, 4L),                        // singleton keeps itself
      (5L, 5L), (6L, 5L)               // q: 1, 7 -> keeper 6
    ).toDF("id", "component")
    val quality = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 0L), (5L, 1L), (6L, 7L))
      .toDF("id", "q")
    val out = Dedup.keepBest(clusters, quality)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out === Set(
      (1L, 1L, false), (2L, 1L, true), (3L, 1L, false),
      (4L, 4L, true), (5L, 5L, false), (6L, 5L, true)))
  }

  test("clusterWeights: 1/size per member, singletons at 1, mass = component count") {
    import spark.implicits._
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), // size 4 -> 0.25 each
      (5L, 5L),                               // singleton -> 1.0
      (6L, 6L), (7L, 6L), (8L, 6L)            // size 3 -> round(1/3, 6)
    ).toDF("id", "component")
    val rows = Dedup.clusterWeights(clusters)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val out = rows.map { case (id, sz, w) => id -> ((sz, w)) }.toList
    val byId = rows.map { case (id, _, w) => id -> w }.toMap
    assert(out.size === 8)
    assert(byId(1L) === 0.25 && byId(5L) === 1.0)
    assert(byId(6L) === BigDecimal(1.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // expected total training mass = one doc per distinct page
    val mass = out.map(_._2._2).sum
    assert(math.abs(mass - 3.0) < 1e-4, s"mass $mass != 3 components")
    // sizes reported correctly
    assert(out.collect { case (id, (sz, _)) if id <= 4 => sz }.forall(_ == 4L))
  }
}
