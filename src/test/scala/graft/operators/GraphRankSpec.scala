package graft.operators

import graft.SparkSpec
import graft.TempDirs.withTempDir
import org.apache.spark.sql.functions._

class GraphRankSpec extends SparkSpec {

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int = 8): Map[Long, Double] = {
    import spark.implicits._
    GraphRank.pageRank(edges.toDF("src", "dst"), iterations = iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("symmetric regular graphs stay uniform; mass is conserved") {
    // a ring (every node degree 2, symmetric): uniform is the fixed point
    val n = 6L
    val ring = (0L until n).flatMap(i =>
      Seq((i, (i + 1) % n), ((i + 1) % n, i)))
    val r = ranksOf(ring)
    assert(r.size === n)
    r.values.foreach(v => assert(math.abs(v - 1.0 / n) < 1e-6, r))
    assert(math.abs(r.values.sum - 1.0) < 1e-5)
  }

  test("hub node outranks leaves in a symmetric star") {
    // star: center 0 <-> leaves 1..5
    val star = (1L to 5L).flatMap(i => Seq((0L, i), (i, 0L)))
    val r = ranksOf(star)
    assert(r(0L) > r(1L) * 2, r)
    assert((1L to 5L).map(r).distinct.size === 1) // leaves symmetric
  }

  test("matches an exact driver-side replay on a seeded random graph") {
    val rnd = new scala.util.Random(17)
    val edges0 = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.distinct
    val edges = (edges0 ++ edges0.map(_.swap)).distinct // symmetrize
    val got = ranksOf(edges, iters = 8)
    // driver replay with the same grid step per iteration
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    val n = deg.size
    var r = deg.keys.map(_ -> math.rint(1.0 / n * 1e7) / 1e7).toMap
    for (_ <- 1 to 8) {
      val in = edges.groupBy(_._2)
      r = in.map { case (dst, es) =>
        val s = es.foldLeft(0.0) { case (acc, (src, _)) => acc + r(src) / deg(src) }
        dst -> math.rint(((1 - 0.85) / n + 0.85 * s) * 1e7) / 1e7
      }
    }
    assert(got.keySet === r.keySet)
    // same 7-dp grid, summation-order noise only: exact match expected on
    // this size, allow one ulp of the grid for safety
    got.foreach { case (k, v) => assert(math.abs(v - r(k)) <= 1e-7 + 1e-12, s"node $k") }
    OperatorCaches.releaseAll()
  }

  test("iterative budget gate: ms fail-fast on the estimate path, counted path, pass-unchanged") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 2L), (1L, 3L))
      .toDF("src", "dst")
    // estimate path: pure driver arithmetic, fires before any job runs
    val ex1 = intercept[IllegalArgumentException] {
      GraphRank.pageRank(edges, iterations = 8,
        maxEdgeScanRows = 10, estimatedEdges = Some(1000000L))
    }
    assert(ex1.getMessage.contains("rounds"), ex1.getMessage)
    assert(ex1.getMessage.contains("ceiling"), ex1.getMessage)
    // counted path: no caller estimate — the gate prices the deduped
    // edge table it just built (6 edges x 8 rounds = 48 > 10)
    val ex2 = intercept[IllegalArgumentException] {
      GraphRank.pageRank(edges, iterations = 8, maxEdgeScanRows = 10).collect()
    }
    assert(ex2.getMessage.contains("48"), ex2.getMessage)
    OperatorCaches.releaseAll()
    // under the ceiling the gate is cost-only: identical ranks
    val gated = GraphRank.pageRank(edges, iterations = 4,
        maxEdgeScanRows = 1e6, estimatedEdges = Some(6L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    OperatorCaches.releaseAll()
    val plain = GraphRank.pageRank(edges, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gated === plain)
    OperatorCaches.releaseAll()
    // hits and stronglyConnected share the gate
    val ex3 = intercept[IllegalArgumentException] {
      GraphRank.hits(edges, iterations = 6,
        maxEdgeScanRows = 10, estimatedEdges = Some(1000L))
    }
    assert(ex3.getMessage.contains("hits"), ex3.getMessage)
    val ex4 = intercept[IllegalArgumentException] {
      GraphRank.stronglyConnected(edges,
        maxEdgeScanRows = 10, estimatedEdges = Some(1000L))
    }
    assert(ex4.getMessage.contains("stronglyConnected"), ex4.getMessage)
    OperatorCaches.releaseAll()
  }

  test("labelPropagation converges two cliques to their min labels") {
    import spark.implicits._
    // two 4-cliques {1,2,3,4} and {10,11,12,13} joined by one bridge 4-10
    def clique(ns: Seq[Long]) =
      for (a <- ns; b <- ns if a != b) yield (a, b)
    val e = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((4L, 10L), (10L, 4L))).toDF("src", "dst")
    val out = GraphRank.labelPropagation(e, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // clique members adopt the clique's minimum label
    assert(Seq(1L, 2L, 3L).forall(out(_) == 1L), out)
    assert(Seq(11L, 12L, 13L).forall(n => out(n) == 10L || out(n) == 4L), out)
    // deterministic under repartition
    val again = GraphRank.labelPropagation(e.repartition(5), iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === out)
    OperatorCaches.releaseAll()
  }

  test("triangleCount is exact on known shapes") {
    import spark.implicits._
    // K4 has 4 triangles; adding a pendant edge changes nothing
    val k4 = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b))
    val e = (k4 :+ (4L, 9L)).toDF("src", "dst")
    val row = GraphRank.triangleCount(e).head()
    assert(row.getLong(0) === 5L && row.getLong(1) === 7L && row.getLong(2) === 4L)
    // a square (4-cycle) has none
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    assert(GraphRank.triangleCount(sq).head().getLong(2) === 0L)
    // duplicate + reversed edges do not double-count
    val dup = (k4 ++ k4.map(_.swap)).toDF("src", "dst")
    assert(GraphRank.triangleCount(dup).head().getLong(2) === 4L)
    OperatorCaches.releaseAll()
  }

  test("triangleCountCapped removes hubs deterministically") {
    import spark.implicits._
    // K4 (degree 3 everywhere) + a hub wired to all of K4 and 6 leaves:
    // hub degree 10 is the unique tail of the distribution
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val hub = (1L to 4L).map(n => (n, 100L)) ++ (11L to 16L).map(l => (100L, l))
    val e = (k4 ++ hub).toDF("src", "dst")
    // uncapped: K4's 4 + C(4,2)=6 hub triangles
    assert(GraphRank.triangleCount(e).head().getLong(2) === 10L)
    val capped = GraphRank.triangleCountCapped(e, 0.9).head()
    // degrees: K4 nodes 4 each (3 in-clique + hub), hub 10, leaves 1;
    // p90 of (1,1,1,1,1,1,4,4,4,4,10) = 4.0 -> only the hub is dropped
    assert(capped.getAs[Double]("deg_cap") === 4.0)
    assert(capped.getAs[Long]("n_hubs_dropped") === 1L)
    // reduced graph = K4 + isolated leaves: exactly K4's 4 triangles,
    // 6 edges, and only the 4 K4 nodes still carry an edge
    assert(capped.getAs[Long]("n_triangles") === 4L)
    assert(capped.getAs[Long]("n_edges") === 6L)
    assert(capped.getAs[Long]("n_nodes") === 4L)
    // pct = 1.0 keeps everything (cap = max degree)
    assert(GraphRank.triangleCountCapped(e, 1.0).head()
      .getAs[Long]("n_triangles") === 10L)
    OperatorCaches.releaseAll()
  }

  test("rejects bad parameters and empty graphs") {
    import spark.implicits._
    assertThrows[IllegalArgumentException](
      GraphRank.pageRank(Seq((1L, 2L)).toDF("src", "dst"), iterations = 0))
    assertThrows[IllegalArgumentException](
      GraphRank.pageRank(Seq((1L, 2L)).toDF("src", "dst"), damping = 1.0))
    assertThrows[IllegalArgumentException](
      GraphRank.pageRank(Seq.empty[(Long, Long)].toDF("src", "dst")))
    assertThrows[IllegalArgumentException](
      GraphRank.triangleCountCapped(Seq((1L, 2L)).toDF("src", "dst"), 0.0))
    // empty / self-loops-only graphs: both counters return the zero row
    // (the capped twin must not NPE on the null percentile)
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val loops = Seq((3L, 3L)).toDF("src", "dst")
    for (g <- Seq(empty, loops)) {
      assert(GraphRank.triangleCount(g).head().getLong(2) === 0L)
      val r = GraphRank.triangleCountCapped(g, 0.9).head()
      assert(r.getAs[Long]("n_triangles") === 0L &&
        r.getAs[Long]("n_hubs_dropped") === 0L)
    }
    OperatorCaches.releaseAll()
  }

  test("kCore peels pendant structure and preserves the planted core") {
    import spark.implicits._
    // K5 (a 4-core) with a pendant chain 5-10-11-12 hanging off node 5:
    // peeling at k = 3 must remove the whole chain (its nodes never reach
    // degree 3) and keep K5 intact with full within-core degrees.
    val k5 = for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)
    val chain = Seq((5L, 10L), (10L, 11L), (11L, 12L))
    val got = GraphRank.kCore((k5 ++ chain).toDF("src", "dst"), k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L to 5L).map(_ -> 4L).toMap, got)
    // a 6-cycle IS a 2-core (nothing peels); at k = 3 it vanishes entirely
    val cyc = (0L until 6L).map(i => (i, (i + 1) % 6))
    val core2 = GraphRank.kCore(cyc.toDF("src", "dst"), k = 2)
      .collect().map(_.getLong(0)).toSet
    assert(core2 === (0L until 6L).toSet)
    assert(GraphRank.kCore(cyc.toDF("src", "dst"), k = 3).count() === 0L)
    // cascade: a chain peels one node per round from each end — an
    // undersized maxIter must fail loudly, not return a half-peeled graph
    val longChain = (0L until 12L).map(i => (i, i + 1))
    assertThrows[IllegalArgumentException](
      GraphRank.kCore(longChain.toDF("src", "dst"), k = 2, maxIter = 2))
    // duplicate + reversed edges collapse before peeling
    val dup = (k5 ++ k5.map(_.swap)).toDF("src", "dst")
    assert(GraphRank.kCore(dup, k = 4).count() === 5L)
    OperatorCaches.releaseAll()
  }

  test("negativeSamples: never an edge, never self, real nodes, deterministic") {
    import spark.implicits._
    // near-complete graph on 0..5 missing only (0,5),(5,0),(2,4),(4,2)
    val all = for (a <- 0L to 5L; b <- 0L to 5L
      if a != b && !(a == 0 && b == 5) && !(a == 5 && b == 0) &&
        !(a == 2 && b == 4) && !(a == 4 && b == 2)) yield (a, b)
    val edges = all.toDF("src", "dst")
    val got = GraphRank.negativeSamples(edges, k = 2, margin = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edgeSet = all.toSet
    got.foreach { case (s0, d) =>
      assert(s0 != d, s"self pair $s0")
      assert(!edgeSet.contains((s0, d)), s"($s0, $d) is a real edge")
      assert(d >= 0L && d <= 5L, s"dst $d not a node")
    }
    // node 0's only possible negative is 5 (and vice versa); 2<->4 likewise
    val bySrc = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(bySrc.getOrElse(0L, Set()) === Set(5L))
    assert(bySrc.getOrElse(2L, Set()) === Set(4L))
    // deterministic under repartition
    val again = GraphRank.negativeSamples(edges.repartition(7), k = 2, margin = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(again.toSeq === got.sorted.toSeq)
    OperatorCaches.releaseAll()
  }

  test("multiSourceBfs: nearest-landmark distances, bound respected, direction honored") {
    import spark.implicits._
    // two chains meeting at 100: 0->1->2->3->4 and 10->11->100, plus an
    // edge 4->100 and an isolated pair 200->201
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 100L),
      (10L, 11L), (11L, 100L), (200L, 201L)).toDF("src", "dst")
    val srcs = Seq(0L, 10L).toDF("node")
    val got = GraphRank.multiSourceBfs(edges, srcs, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // nearest of the two sources wins: 100 is 2 hops via 10->11->100,
    // not 5 via the long chain
    assert(got === Map(0L -> 0, 10L -> 0, 1L -> 1, 11L -> 1,
      2L -> 2, 100L -> 2, 3L -> 3, 4L -> 4))
    // direction honored: nothing upstream of a source is reached, and
    // the disconnected component (200, 201) never appears
    assert(!got.contains(200L) && !got.contains(201L))
    // tighter bound truncates the frontier, never mislabels it
    val h2 = GraphRank.multiSourceBfs(edges, srcs, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(h2 === got.filter { case (_, d) => d <= 2 })
    OperatorCaches.releaseAll()
  }

  test("linkScores: common neighbors + Adamic-Adar match hand computation, hub cap cuts") {
    import spark.implicits._
    // destinations: 100 shared by {1,2,3} (deg 3), 101 by {1,2} (deg 2),
    // 102 only by 3 (deg 1 -> cannot pair), 103 by everyone incl. the
    // hub-only source 9 (deg 4 -> cut at maxDegree = 3)
    val raw = Seq(
      (1L, 100L), (2L, 100L), (3L, 100L),
      (1L, 101L), (2L, 101L),
      (3L, 102L),
      (1L, 103L), (2L, 103L), (3L, 103L), (9L, 103L),
      (1L, 100L) // duplicate edge must not double-count
    )
    val edges = raw.toDF("src", "dst")
    // every co-neighbor pair (u < v) of the uncapped graph, enumerated
    // in plain Scala: the candidate list scoreCandidatePairs scores
    val coNeighbors = raw.groupBy(_._2).values
      .flatMap(es => for (a <- es.map(_._1); b <- es.map(_._1) if a < b) yield (a, b))
      .toSeq.distinct.toDF("src_a", "src_b")
    def score(e: org.apache.spark.sql.DataFrame, cap: Long) =
      GraphRank.scoreCandidatePairs(coNeighbors, e, cap)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
        .toMap
    def aa(degs: Long*): Double =
      BigDecimal(degs.map(d => 1.0 / math.log(d.toDouble)).sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val capped = score(edges, 3L)
    assert(capped.size === 6, capped.toString)
    // (1,2): share 100 (deg 3) and 101 (deg 2); 103 is capped away
    assert(capped((1L, 2L)) === ((2L, aa(3, 2))))
    assert(capped((1L, 3L)) === ((1L, aa(3))))
    assert(capped((2L, 3L)) === ((1L, aa(3))))
    // the hub-only source's pairs lose their one shared destination to
    // the cap: scored (0, 0.0), never dropped
    for (u <- Seq(1L, 2L, 3L))
      assert(capped((u, 9L)) === ((0L, 0.0)), s"($u, 9)")
    // uncapped: 103 (deg 4) back in play, pairs with 9 score
    val full = score(edges, Long.MaxValue)
    assert(full((1L, 2L)) === ((3L, aa(3, 2, 4))))
    assert(full((1L, 9L)) === ((1L, aa(4))))
    // deterministic under repartition
    val again = score(edges.repartition(5), 3L)
    assert(again === capped)

    // a short candidate list scores its pairs as the full co-neighbor
    // list does, and (0, 0.0) for candidates with no common neighbor
    val cands = Seq((1L, 2L), (1L, 3L), (7L, 8L)).toDF("src_a", "src_b")
    val scored = GraphRank.scoreCandidatePairs(cands, edges, 3L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(scored((1L, 2L)) === capped((1L, 2L)))
    assert(scored((1L, 3L)) === capped((1L, 3L)))
    assert(scored((7L, 8L)) === ((0L, 0.0)))
    assert(scored.size === 3)
    OperatorCaches.releaseAll()
  }

  test("personalizedPageRank: seed locality, sparse state, grid replay") {
    import spark.implicits._
    // path 1-2-3-4 plus an isolated pair 8-9 the walk can never reach
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = GraphRank.personalizedPageRank(edges, seeds, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // sparse state: only nodes within 3 hops of the seed appear
    assert(!got.contains(8L) && !got.contains(9L))
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    // driver-side replay of the same 7-dp-grid recursion
    def r7(x: Double) = BigDecimal(x)
      .setScale(7, BigDecimal.RoundingMode.HALF_UP).toDouble
    val deg = Map(1L -> 1.0, 2L -> 2.0, 3L -> 2.0, 4L -> 1.0)
    val tp = Map(1L -> (1 - 0.85) / 1)
    val nbrsIn = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L, 4L),
      4L -> Seq(3L))
    var r = Map(1L -> r7(1.0))
    for (_ <- 1 to 3) {
      val touched = r.keySet.flatMap(n => n match {
        case 1L => Seq(2L); case 2L => Seq(1L, 3L); case 3L => Seq(2L, 4L)
        case _ => Seq(3L)
      }) ++ tp.keySet
      r = touched.map { n =>
        val sc = nbrsIn(n).flatMap(m => r.get(m).map(_ / deg(m))).sum
        n -> r7(tp.getOrElse(n, 0.0) + 0.85 * sc)
      }.toMap
    }
    assert(got === r)
    // every reached node carries positive mass (synchronous rounds
    // oscillate on a path graph, so no per-hop ordering is asserted —
    // the grid replay above IS the exact contract)
    assert(got.values.forall(_ > 0.0))
    OperatorCaches.releaseAll()
  }

  test("neighborhoodFeatures: hand-checked two-hop means, k cap, null leaves") {
    import spark.implicits._
    // star: 1 -> {2, 3}; 2 -> {4}; 3, 4 are leaves (no out-edges)
    val edges = Seq(1L -> 2L, 1L -> 3L, 2L -> 4L).toDF("src", "dst")
    val feats = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .toDF("node", "x")
    val got = GraphRank.neighborhoodFeatures(edges, feats, k = 5)
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(got(1L) === ((10.0, Some(25.0), Some(40.0))))
    // h2(1) = mean h1 over sampled nbrs WITH an h1: only node 2 (h1=40)
    assert(got(2L) === ((20.0, Some(40.0), None)))
    assert(got(3L)._2.isEmpty && got(4L)._2.isEmpty, "leaves have no h1")
  }

  test("neighborhoodFeatures: the k cap bounds hub fan-out deterministically") {
    import spark.implicits._
    val edges = (1L to 20L).map(i => 0L -> i).toDF("src", "dst")
    val feats = ((0L, 0.0) +: (1L to 20L).map(i => (i, i.toDouble)))
      .toDF("node", "x")
    val a = GraphRank.neighborhoodFeatures(edges, feats, k = 4)
      .filter(col("node") === 0).head().getDouble(2)
    val b = GraphRank.neighborhoodFeatures(
      edges.repartition(7), feats, k = 4)
      .filter(col("node") === 0).head().getDouble(2)
    assert(a === b, "hash-ranked sample is partitioning-invariant")
    // the mean is over exactly 4 hash-chosen neighbors, not all 20
    assert(a !== (1L to 20L).map(_.toDouble).sum / 20)
    OperatorCaches.releaseAll()
  }

  private def sccOf(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    GraphRank.stronglyConnected(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  // brute force: mutual reachability via driver-side transitive closure
  private def sccBrute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val adj = edges.filter(e => e._1 != e._2).distinct.groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def reach(s: Long): Set[Long] = {
      var seen = Set(s)
      var frontier = Set(s)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- seen
        seen ++= frontier
      }
      seen
    }
    val r = nodes.map(n => n -> reach(n)).toMap
    nodes.map(n =>
      n -> (nodes.filter(m => r(n).contains(m) && r(m).contains(n)) :+ n).min
    ).toMap
  }

  test("stronglyConnected: two cycles over a one-way bridge stay separate") {
    // cycle {1,2,3} -> bridge 3->10 -> cycle {10,11}
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 10L, 10L -> 11L, 11L -> 10L)
    val got = sccOf(edges)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("stronglyConnected: a DAG is all singletons; self-loops are singletons") {
    val dag = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 4L -> 4L)
    val got = sccOf(dag)
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("stronglyConnected: undirected CC would merge what direction separates") {
    // 1->2 and 2->1 cycle; 2->3 only: SCC splits {1,2} from {3},
    // undirected CC would put all three together
    val got = sccOf(Seq(1L -> 2L, 2L -> 1L, 2L -> 3L))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("stronglyConnected: matches brute-force mutual reachability on seeded digraphs") {
    val rnd = new scala.util.Random(41)
    // sparse enough for nontrivial SCC structure (not one giant SCC)
    val edges = Seq.fill(90)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2).distinct
    val got = sccOf(edges)
    val exp = sccBrute(edges)
    assert(got === exp)
    OperatorCaches.releaseAll()
  }

  test("stronglyConnected under RELIABLE checkpoints: correct, and the " +
      "eager-cut-in-reliable-mode rule really wrote checkpoint files") {
    // round-13 advisory: Lineage.cutLazy in reliable mode used a lazy
    // reliable checkpoint, which neither persists nor truncates frames with
    // no direct per-step action (scc's unassigned/remaining peel states) —
    // O(steps^2) recompute on the cluster shape. The fix keeps the cut
    // EAGER when a checkpoint dir is set; this pins both the results and
    // the files under that mode (the DedupClusterSpec CC convention).
    val sc = spark.sparkContext
    withTempDir("scc-ckpt") { dir =>
      sc.setCheckpointDir(dir)
      try {
        // cycles over a one-way bridge + a trim-heavy DAG tail: exercises the
        // trim loop, coloring, membership and the peel update states
        val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 10L, 10L -> 11L,
          11L -> 10L, 11L -> 20L, 20L -> 21L, 21L -> 22L)
        val got = sccOf(edges)
        assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
          11L -> 10L, 20L -> 20L, 21L -> 21L, 22L -> 22L))
        def rddFiles(f: java.io.File): Int =
          Option(f.listFiles).toSeq.flatten
            .map(c => if (c.isDirectory) rddFiles(c)
              else if (c.getName.startsWith("part-")) 1 else 0).sum
        assert(rddFiles(new java.io.File(dir)) > 0)
      } finally {
        classOf[org.apache.spark.SparkContext]
          .getMethod("checkpointDir_$eq", classOf[Option[_]])
          .invoke(sc, None)
      }
    }
  }

  private def r7d(x: Double): Double =
    BigDecimal(x).setScale(7, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def hitsOf(edges: Seq[(Long, Long)], iters: Int = 6): Map[Long, (Double, Double)] = {
    import spark.implicits._
    GraphRank.hits(edges.toDF("src", "dst"), iterations = iters)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
  }

  test("hits: the popular authority and the prolific hub dominate a bipartite graph") {
    // hubs 1..3 -> authorities 10..12; 10 is cited by all three, 12 only
    // by 3; hub 3 cites everything, hub 1 only cites 10
    val edges = Seq(1L -> 10L, 2L -> 10L, 2L -> 11L,
      3L -> 10L, 3L -> 11L, 3L -> 12L)
    val got = hitsOf(edges)
    assert(got.keySet === Set(1L, 2L, 3L, 10L, 11L, 12L))
    assert(got(10L)._2 > got(11L)._2 && got(11L)._2 > got(12L)._2, got)
    assert(got(3L)._1 > got(2L)._1 && got(2L)._1 > got(1L)._1, got)
    // pure sources/sinks carry zero on the other side
    assert(Seq(1L, 2L, 3L).forall(got(_)._2 === 0.0))
    assert(Seq(10L, 11L, 12L).forall(got(_)._1 === 0.0))
  }

  test("hits: a node that is both source and sink gets both scores in one row") {
    val got = hitsOf(Seq(1L -> 2L, 2L -> 3L))
    assert(got(2L)._1 > 0.0 && got(2L)._2 > 0.0, got)
    // each half-step state is unit-norm on the grid
    val h2 = got.values.map(v => v._1 * v._1).sum
    val a2 = got.values.map(v => v._2 * v._2).sum
    assert(math.abs(h2 - 1.0) < 1e-5 && math.abs(a2 - 1.0) < 1e-5, (h2, a2))
  }

  test("hits: matches an exact driver-side grid replay on a seeded random digraph") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(250)((rnd.nextInt(30).toLong, (30 + rnd.nextInt(30)).toLong))
      .distinct
    val got = hitsOf(edges, iters = 6)
    // replay: uniform unit init over srcs, 12 half-steps, 7-dp grid each
    val srcs = edges.map(_._1).distinct
    var hub = srcs.map(_ -> r7d(1.0 / math.sqrt(srcs.size.toDouble))).toMap
    var auth = Map.empty[Long, Double]
    for (_ <- 1 to 6) {
      val aRaw = edges.groupBy(_._2).view
        .mapValues(_.map { case (s, _) => hub(s) }.sum).toMap
      val aN = math.sqrt(aRaw.values.map(x => x * x).sum)
      auth = aRaw.view.mapValues(x => r7d(x / aN)).toMap
      val hRaw = edges.groupBy(_._1).view
        .mapValues(_.map { case (_, d) => auth(d) }.sum).toMap
      val hN = math.sqrt(hRaw.values.map(x => x * x).sum)
      hub = hRaw.view.mapValues(x => r7d(x / hN)).toMap
    }
    val exp = (hub.keySet ++ auth.keySet).map(n =>
      n -> (hub.getOrElse(n, 0.0), auth.getOrElse(n, 0.0))).toMap
    assert(got.keySet === exp.keySet)
    got.foreach { case (k, (h, a)) =>
      assert(math.abs(h - exp(k)._1) <= 1e-7 + 1e-12, s"hub of $k")
      assert(math.abs(a - exp(k)._2) <= 1e-7 + 1e-12, s"auth of $k")
    }
    OperatorCaches.releaseAll()
  }

  test("walkCooccurrence matches a driver replay of the seeded walks") {
    import spark.implicits._
    val rnd = new scala.util.Random(73)
    val edges = (for (_ <- 1 to 120) yield
      (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter(e => e._1 != e._2).distinct
    val got = GraphRank.walkCooccurrence(edges.toDF("src", "dst"),
        steps = 3, window = 2, topK = 50, seed = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // driver replay with the scalar portable hash
    val adj = edges.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._2).sorted.toVector }
    val walkers = edges.map(_._1).distinct.sorted
    val pos = walkers.flatMap { w =>
      var node = w
      var path = Vector((0, w))
      var alive = true
      for (t <- 1 to 3 if alive) {
        adj.get(node) match {
          case Some(ns) =>
            node = ns((PortableHash.portable60(s"t:$w:$t") % ns.size).toInt)
            path :+= ((t, node))
          case None => alive = false
        }
      }
      path.map { case (p, n) => (w, p, n) }
    }
    val exp = (for {
      (w1, p1, a) <- pos; (w2, p2, b) <- pos
      if w1 == w2 && p2 > p1 && p2 - p1 <= 2 && a != b
    } yield (math.min(a, b), math.max(a, b)))
      .groupBy(identity).map { case (k, v) => (k._1, k._2, v.size.toLong) }
      .toSeq.sortBy(t => (-t._3, t._1, t._2)).take(50)
    assert(got.toSeq === exp)
    OperatorCaches.releaseAll()
  }

  test("walkCooccurrence budget gate: fail-fast on both paths, pass-unchanged") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 2L), (1L, 3L))
      .toDF("src", "dst")
    // estimate path: driver arithmetic only, fires before any scan
    val ex1 = intercept[IllegalArgumentException] {
      GraphRank.walkCooccurrence(edges, steps = 4,
        maxEdgeScanRows = 10, estimatedEdges = Some(1000000L))
    }
    assert(ex1.getMessage.contains("walkCooccurrence"), ex1.getMessage)
    assert(ex1.getMessage.contains("ceiling"), ex1.getMessage)
    // counted path: 6 distinct edges x (4 steps + 2 adjacency windows)
    val ex2 = intercept[IllegalArgumentException] {
      GraphRank.walkCooccurrence(edges, steps = 4, maxEdgeScanRows = 10)
        .collect()
    }
    assert(ex2.getMessage.contains("36"), ex2.getMessage)
    OperatorCaches.releaseAll()
    // under the ceiling the gate is cost-only: identical corpus
    val gated = GraphRank.walkCooccurrence(edges, steps = 4, topK = 30,
        maxEdgeScanRows = 1e6, estimatedEdges = Some(6L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    OperatorCaches.releaseAll()
    val plain = GraphRank.walkCooccurrence(edges, steps = 4, topK = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gated === plain)
    OperatorCaches.releaseAll()
  }

  test("walkCooccurrence is invariant under input repartitioning") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (4L, 1L),
      (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val a = GraphRank.walkCooccurrence(edges, steps = 4, topK = 30)
      .collect().toSeq
    val b = GraphRank.walkCooccurrence(edges.repartition(7), steps = 4,
      topK = 30).collect().toSeq
    assert(a === b)
    OperatorCaches.releaseAll()
  }
}
