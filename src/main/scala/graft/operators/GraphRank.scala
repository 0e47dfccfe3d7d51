package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph ranking — the influence/centrality companion to the
  * connected-components machinery in [[Dedup]] (domain authority for crawl
  * prioritization, entity importance for corpus weighting).
  *
  * PageRank here is the POWER-ITERATION formulation with a fixed iteration
  * count and a per-iteration decimal grid, which is what makes an
  * independent engine able to replay it exactly: every iteration ends in
  * `round(·, 7)` (the k-means oracle's cross-engine float boundary — see
  * Similarity.kmeansCentroids), so the only float nondeterminism left is
  * summation order UNDER the grid step, ~1e-14 against a 5e-8 boundary.
  * The DuckDB oracle unrolls the same iterations as chained CTEs.
  */
object GraphRank {

  /** Opt-in iterative-cost pre-flight shared by [[pageRank]], [[hits]]
    * and [[stronglyConnected]] — the fail-fast-gate pattern
    * (expectedHammingCandidates / expectedAutoCandidatePairs) applied to
    * the rounds × |edges| join volume that is the whole cost of a
    * fixed-point graph operator. The single-JVM harness hit this as a
    * 58-minute silent timeout at ×1000 (BENCH_SF10 addendum 40); a
    * 100-TB user should get a sized diagnosis in milliseconds instead.
    *
    * `edgeCount` is whatever upper bound the caller has cheaply — a
    * parquet row count of the pair source, a previous run's edge count —
    * so the gate is pure driver arithmetic. When the operator has to
    * count its own deduped edge table the diagnosis costs one edge-build
    * instead (still two orders under the gated join cascade).
    */
  private[graft] def iterativeScanGate(
      opName: String,
      rounds: Double,
      edgeCount: Long,
      ceiling: Double,
      levers: String): Unit = {
    val est = rounds * edgeCount
    require(est <= ceiling,
      f"$opName would scan ~$est%.3g edge-join rows ($rounds%.0f rounds x " +
        f"$edgeCount edges; ceiling $ceiling%.3g). $levers — or raise the " +
        "ceiling if the cluster is sized for it.")
  }

  /** PageRank over a directed edge list (src, dst), damping `d`, uniform
    * initialization 1/N. Requirements the caller owns (and the catalog
    * entry satisfies by symmetrizing): every node referenced must have at
    * least one OUT-edge — N is the count of such nodes, dangling-mass
    * redistribution is not modeled — and nodes with no IN-edge would drop
    * from the result (a symmetric graph has neither problem).
    *
    * Scale shape: edges are deduped and pre-joined with their source
    * degree ONCE and persisted — each of the `iterations` rounds is then
    * one hash join (rank table, |N| rows, onto the big edge table) plus
    * one map-side-combined sum keyed by dst. The rank state is always
    * |N| rows; document/edge payloads never grow with iterations. At a
    * 100 TB edge list, add a lineage checkpoint every ~10 rounds (the CC
    * operators' cadence) — at the default 8 iterations the persisted
    * chain is shallow enough that eager persists alone hold the plan
    * flat.
    */
  def pageRank(
      edges: DataFrame,
      iterations: Int = 8,
      damping: Double = 0.85,
      maxEdgeScanRows: Double = Double.MaxValue,
      estimatedEdges: Option[Long] = None): DataFrame = {
    require(iterations >= 1 && damping > 0 && damping < 1,
      "need iterations >= 1 and 0 < damping < 1")
    // opt-in budget gate (see iterativeScanGate): with a caller-supplied
    // edge bound the diagnosis is driver arithmetic — milliseconds, no
    // edge build; without one it prices the deduped edge table below
    estimatedEdges.filter(_ => maxEdgeScanRows < Double.MaxValue)
      .foreach(m => iterativeScanGate("pageRank", iterations.toDouble, m,
        maxEdgeScanRows, "Lower iterations or reduce the edge list first"))
    val e = OperatorCaches.persistTracked(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).distinct())
    if (maxEdgeScanRows < Double.MaxValue && estimatedEdges.isEmpty)
      iterativeScanGate("pageRank", iterations.toDouble, e.count(),
        maxEdgeScanRows, "Lower iterations or reduce the edge list first")
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // hash-partition the (big) degree-joined edge table BY src ONCE and
    // persist: the cached relation reports that partitioning, so when the
    // rank join DOES shuffle (huge-N path) only the |N|-row rank side
    // moves; the edge table never re-exchanges across rounds
    val ed = OperatorCaches.persistTracked(
      e.join(deg, Seq("src")).repartition(col("src")))
    val n = deg.count()
    require(n > 0, "pageRank on an empty edge list")
    // the rank state is |N| rows of (long, double): up to a few million
    // nodes it broadcasts (measured ×100, 1.6M nodes over 117M edges:
    // 15.2 s → 6.3 s per round — the edge scan becomes shuffle-free and
    // only the partial-aggregated contributions exchange). Past the
    // threshold the shuffle join takes over — rank state at billions of
    // nodes must not route through the driver.
    val broadcastRanks = n <= 4_000_000L
    val teleport = (1 - damping) / n
    var ranks = deg.select(col("src").as("node"),
      round(lit(1.0 / n), 7).as("r"))
    for (_ <- 1 to iterations) {
      val r = ranks.withColumnRenamed("node", "src")
      val contribs = ed.join(if (broadcastRanks) broadcast(r) else r, Seq("src"))
        .select(col("dst"), (col("r") / col("deg")).as("c"))
      ranks = OperatorCaches.persistTracked(
        contribs.groupBy(col("dst").as("node"))
          .agg(round(lit(teleport) + lit(damping) * sum(col("c")), 7).as("r")))
    }
    ranks.withColumnRenamed("r", "rank")
  }

  /** Personalized PageRank (random walk with restart to a SEED set —
    * Jeh & Widom 2003): rank mass teleports to the seeds instead of
    * uniformly, so scores measure proximity-to-the-seeds — the "similar
    * nodes / related items / trusted neighborhood" feature beside global
    * [[pageRank]] importance. Same fixed-round 7-dp-grid convention
    * (engine-replayable), same persisted degree-joined edge table.
    *
    * Scale shape beyond pageRank: the rank state is SPARSE — it starts
    * as |seeds| rows and grows only with the walk frontier (nodes beyond
    * `iterations` hops never materialize a row), so seed-local queries
    * on a huge graph never hold |N| rank rows. Each round is one join of
    * the nonzero rank state onto the edge table + one map-side-combined
    * sum + a full-outer stitch with the constant teleport rows.
    */
  def personalizedPageRank(
      edges: DataFrame,
      seeds: DataFrame,
      iterations: Int = 6,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1 && damping > 0 && damping < 1,
      "need iterations >= 1 and 0 < damping < 1")
    val e = OperatorCaches.persistTracked(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).distinct())
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val ed = OperatorCaches.persistTracked(
      e.join(deg, Seq("src")).repartition(col("src")))
    val sd = seeds.select(col("node").cast("long").as("node")).distinct()
    val nS = sd.count()
    require(nS > 0, "personalizedPageRank needs at least one seed")
    val tp = OperatorCaches.persistTracked(
      sd.withColumn("tp", lit((1 - damping) / nS)))
    var ranks = sd.select(col("node"), round(lit(1.0 / nS), 7).as("r"))
    for (_ <- 1 to iterations) {
      val contribs = ed
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("r") / col("deg")).as("sc"))
      // stitch contribs and teleport as a UNION + re-keyed sum, not a
      // full-outer join: Spark has no broadcast full-outer (hint warns
      // "build right for full outer join" and the planner's fallback
      // tried to broadcast-build the 1.6M-row contrib side at ×100 —
      // measured "Not enough memory to build and broadcast"). The union
      // shuffles ≤2 bounded addends per node and, because IEEE addition
      // of two terms is commutative, is bit-identical to the
      // coalesce(tp, 0) + d·coalesce(sc, 0) form the oracle replays.
      ranks = OperatorCaches.persistTracked(
        contribs.select(col("node"), (lit(damping) * col("sc")).as("m"))
          .unionByName(tp.select(col("node"), col("tp").as("m")))
          .groupBy("node").agg(round(sum("m"), 7).as("r")))
    }
    ranks.withColumnRenamed("r", "rank")
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over a
    * SYMMETRIC edge list — community detection as fixed-round iteration:
    * each node adopts its neighbors' most frequent label, ties to the
    * SMALLEST label, all nodes updating together. The fixed round count +
    * deterministic tie rule is what lets an independent engine unroll the
    * rounds exactly (the [[pageRank]] convention; labels are integers, so
    * no float grid is even needed). Synchronous LPA can oscillate on
    * bipartite structure — with a fixed round count that is still a
    * deterministic, replayable answer; pick odd/even rounds consciously.
    *
    * Scale shape: identical to a pageRank round — the |N|-row label
    * state joins the persisted edge table, one map-side-combined
    * (dst, label) count, one per-node argmax. Label state broadcasts
    * under the same 4M-node gate.
    */
  def labelPropagation(edges: DataFrame, iterations: Int = 4): DataFrame = {
    require(iterations >= 1, "need iterations >= 1")
    val e = OperatorCaches.persistTracked(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).distinct()
        .repartition(col("src")))
    val nodes = e.select(col("src").as("node")).distinct()
    val broadcastLabels = nodes.count() <= 4_000_000L
    var labels = nodes.withColumn("label", col("node"))
    for (_ <- 1 to iterations) {
      val l = labels.withColumnRenamed("node", "src")
      val counted = e.join(if (broadcastLabels) broadcast(l) else l, Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      labels = OperatorCaches.persistTracked(
        counted.groupBy("node")
          .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("label")))
    }
    labels
  }

  /** k-core decomposition by iterative peeling: repeatedly delete every
    * node whose CURRENT degree is below `k` (and its incident edges)
    * until a fixpoint — the surviving subgraph is the k-core, the
    * standard density filter for graph-shaped corpora (co-citation
    * pruning, spam-farm removal, community scaffolding). Deterministic by
    * construction (the fixpoint is unique regardless of peeling order),
    * so an independent engine replays it by unrolling rounds; the caller
    * owns picking `maxIter` ≥ the convergence round count — the operator
    * `require`s convergence rather than silently returning a half-peeled
    * graph, so an undersized `maxIter` fails loudly (the catalog entry's
    * oracle unrolls a fixed round count and extra rounds are no-ops, so
    * the contract is convergence-within-bound, never truncation).
    *
    * Scale shape: each round is one map-side-combined degree count over
    * the current edge set plus two semi-joins (edge set only ever
    * SHRINKS); per-round state is the |N'|-row keep set. The round count
    * is bounded by the peeling depth (typically O(10) on real graphs —
    * the fixture converges in 6). Each round LINEAGE-CUTS its result
    * (localCheckpoint, the CC operators' convention) — a persist alone is
    * NOT enough here because every round references the previous edge set
    * THREE times (the scan plus both semi-join keep sets), so the logical
    * plan grows 3^rounds and Catalyst re-analysis OOMs by round ~6
    * (measured: rounds 1-3 run ~2 s, round 4 10 s, round 5 73 s, round 6
    * heap death on a 115k-edge fixture).
    *
    * Returns (node, deg): the surviving nodes with their within-core
    * degree (≥ k by construction).
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 20): DataFrame = {
    require(k >= 1 && maxIter >= 1, "need k >= 1 and maxIter >= 1")
    // lineage cuts are LAZY (Lineage.cutLazy): every cut here is followed
    // by a count() that drives the loop, so the convergence count and the
    // checkpoint materialization share one job instead of two per round
    // (guide §1.2/§2.4 — fewer scheduled passes, same blocks, same plans)
    var cur = Lineage.cutLazy(
      edges.select(least(col("src").cast("long"), col("dst").cast("long")).as("a"),
          greatest(col("src").cast("long"), col("dst").cast("long")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    var edgeCount = cur.count()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val keep = cur.select(col("a").as("n"))
        .unionAll(cur.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
      val next = Lineage.cutLazy(
        cur.join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
          .select("a", "b"))
      val nextCount = next.count()
      converged = nextCount == edgeCount
      cur.unpersist()
      cur = next
      edgeCount = nextCount
      it += 1
    }
    require(converged,
      s"kCore(k=$k) did not reach a fixpoint within $maxIter rounds")
    cur.select(col("a").as("n")).unionAll(cur.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .select(col("n").as("node"), col("deg"))
  }

  /** Exact triangle count via degree-ordered relabeling (the
    * compact-forward algorithm): nodes are ranked by (degree, id), each
    * undirected edge is stored once as (lo-rank, hi-rank), wedges join
    * low-rank endpoints, and a final edge join closes them. The
    * orientation bounds the wedge fan-out per node by its FORWARD degree
    * — Σ fwd² ≪ Σ deg² on skewed graphs, which is why every distributed
    * triangle counter orients first (hub nodes get rank-high and never
    * fan out). Returns one row: n_nodes, n_edges, n_triangles.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    // canonical undirected edge set (a < b by raw id, deduped)
    val und = OperatorCaches.persistTracked(
      edges.select(least(col("src").cast("long"), col("dst").cast("long")).as("a"),
          greatest(col("src").cast("long"), col("dst").cast("long")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    countOriented(und)
  }

  /** Triangle count with the HUB CAP — the lever [[triangleCount]]'s
    * scaladoc names actually implemented: nodes whose degree exceeds the
    * exact `degreePct` quantile of the degree distribution are REMOVED
    * (with all their edges) before counting. Σ fwd² is dominated by the
    * high-degree tail, so trimming the top (1 − pct) of nodes cuts the
    * wedge volume far more than linearly — the triangle twin of
    * ngramJaccard's maxDf / videoNearDupPairs' maxFrameDf, and like them
    * it is deterministic SET REDUCTION, not a sampling heuristic: the
    * result is exactly the triangle count of the reduced graph, and an
    * oracle replays the quantile, the node cut, and both joins. The cap
    * is quantile-RELATIVE (not absolute) so the same call is meaningful
    * at every scale — degrees grow with corpus size, percentiles travel.
    * Output adds the applied cap (6-dp grid, the winsorize-fence
    * convention) and the hub count dropped, so the reduction is auditable
    * in the result row itself.
    */
  def triangleCountCapped(edges: DataFrame, degreePct: Double): DataFrame = {
    require(degreePct > 0 && degreePct <= 1, "need 0 < degreePct <= 1")
    val und = OperatorCaches.persistTracked(
      edges.select(least(col("src").cast("long"), col("dst").cast("long")).as("a"),
          greatest(col("src").cast("long"), col("dst").cast("long")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    val deg = OperatorCaches.persistTracked(
      und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg")))
    // one exact-percentile scalar over |N| degree rows — a bounded
    // single-row head, the repo's sanctioned collect shape. An empty (or
    // self-loops-only) graph aggregates percentile to null: degrade to
    // cap 0 and the same (0, 0, 0) row the uncapped twin returns, not an
    // NPE
    val capRow = deg.agg(round(
      expr(s"percentile(deg, $degreePct)"), 6).as("cap")).head()
    val cap = if (capRow.isNullAt(0)) 0.0 else capRow.getDouble(0)
    val keep = deg.filter(col("deg") <= cap).select("n")
    val reduced = OperatorCaches.persistTracked(
      und.join(keep.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("n", "b"), Seq("b"), "left_semi"))
    val nHubs = deg.filter(col("deg") > cap).count()
    countOriented(reduced)
      .withColumn("deg_cap", lit(cap))
      .withColumn("n_hubs_dropped", lit(nHubs))
  }

  /** The compact-forward core over an already-canonical undirected edge
    * set: rank by (within-set degree, id), orient low→high, wedge join,
    * closing-edge join. Shared by the exact and hub-capped counters.
    */
  private def countOriented(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("deg"), col("n"))
    // |N|-row global rank — the one total sort; at billions of nodes use
    // zipWithIndex-style partition offsets, the shape is unchanged
    val rk = deg.withColumn("rk", row_number().over(w)).select("n", "rk")
    val er = OperatorCaches.persistTracked(
      und.join(rk.withColumnRenamed("n", "a").withColumnRenamed("rk", "ra"), Seq("a"))
        .join(rk.withColumnRenamed("n", "b").withColumnRenamed("rk", "rb"), Seq("b"))
        .select(least(col("ra"), col("rb")).as("lo"),
          greatest(col("ra"), col("rb")).as("hi")))
    // Close wedges by ADJACENCY INTERSECTION, not by a second join: a
    // triangle lo<mid<hi is one element of fwd(lo) ∩ fwd(mid) per edge
    // (lo, mid), so per-edge size(array_intersect(fwd(lo), fwd(hi)))
    // sums to the exact count. The Σ fwd² wedge volume is never
    // materialized or shuffled as rows — it becomes per-row hash-set
    // probes inside codegen. Shuffle cost is the adjacency build (|E|)
    // plus fwd(lo) replicated onto lo's forward edges — Σ fwd² ints,
    // the orientation-BOUNDED quantity (fwd ≤ ~√(2|E|) after
    // rank-by-degree), vs Σ fwd² ROWS through the wedge-join twin's
    // closing exchange (same-session A/B at sf0.1: 1.9× faster
    // isolated, 6.1 s vs 11.7 s; BENCH_SF10 round-13 addendum 9).
    // Two scale guards, both load-bearing at ×100 (119.6M-edge graph,
    // 7.5B wedges — the naive shape filled 50 GB of spill disk and
    // died): (1) fwd(lo) is trimmed to elements > hi BEFORE the
    // exchange by hi — fwd(hi) ⊂ (hi, ∞) so the intersection is
    // unchanged, and on a rank-uniform edge the trim drops half the
    // payload; (2) both adjacency joins are SHUFFLE_HASH — adj is the
    // small side (Σ fwd = |E| ints total), and hash join streams the
    // fat rows instead of handing them to a sort-merge sorter whose
    // sorted spill copy doubles peak disk.
    val adj = er.groupBy(col("lo"))
      .agg(sort_array(collect_list(col("hi"))).as("nbrs"))
    val perEdge = er
      .join(adj.hint("shuffle_hash")
          .withColumnRenamed("lo", "u1").withColumnRenamed("nbrs", "n1"),
        col("lo") === col("u1"))
      .select(col("hi"),
        filter(col("n1"), x => x > col("hi")).as("n1"))
      // rank-highest nodes have no forward neighbors → no adj row: left
      // join + empty-array default, not a dropped edge
      .join(adj.hint("shuffle_hash")
          .withColumnRenamed("lo", "u2").withColumnRenamed("nbrs", "n2"),
        col("hi") === col("u2"), "left")
      // fused sorted two-pointer count instead of size(array_intersect):
      // both adjacency arrays are sorted (sort_array build; the > hi trim
      // preserves order), so the distinct-intersection size needs no
      // per-row hash set and no materialized intersection array — guide
      // §1.2 per-task work (A/B in OPTIMIZATION_r13.md)
      .select(org.apache.spark.sql.graftnative.SortedIntersectCount(col("n1"),
        coalesce(col("n2"), array().cast("array<int>"))).as("c"))
    val triRow = perEdge.agg(sum(col("c").cast("long"))).head()
    val tri = if (triRow.isNullAt(0)) 0L else triRow.getLong(0)
    val nN = deg.count()
    val nE = und.count()
    val spark = und.sparkSession
    import spark.implicits._
    Seq((nN, nE, tri)).toDF("n_nodes", "n_edges", "n_triangles")
  }

  /** Multi-source BFS — hop distance from every reachable node to its
    * NEAREST landmark (crawl-frontier depth, link-distance-to-seed-set
    * features, landmark sketches for approximate shortest paths). Fixed
    * `maxHops` rounds, no early exit: an unreachable-within-bound node is
    * simply absent, extra rounds are exact no-ops, and the fixed unroll
    * is what lets an independent engine replay the computation
    * round-for-round (the LPA/kCore convention). Distances follow edge
    * direction — symmetrize first for undirected semantics.
    *
    * Scale shape: classic frontier expansion — round h joins ONLY the
    * frontier (nodes first seen at h−1) against the persisted edge
    * table, dedups the neighbor set, and anti-joins the visited state;
    * the shuffled payload is (node) longs bounded by |frontier|·deg,
    * never the whole graph per round. Both per-round outputs LINEAGE-CUT
    * (checkpoint dir if set, else localCheckpoint): state is referenced
    * twice per round (anti-join probe + union), so persists alone would
    * grow the plan 2^rounds — the measured kCore failure mode.
    *
    * Returns (node, dist): every node within `maxHops` of a source, with
    * its minimal hop count (sources themselves at 0).
    */
  /** Deterministic negative sampling for link-prediction training data:
    * per node, k NON-edges (src, dst) drawn by portable hash — the
    * negatives a GNN/embedding link predictor trains against. Candidate
    * dst = portable60(seed:src:j) mod (maxId+1) for j < 2k+margin draws,
    * kept only if it is (a) a real node (left-semi against the node set —
    * sparse id spaces just consume margin), (b) not src itself, and
    * (c) NOT an edge (left-anti against the edge set — the property that
    * makes it a negative); the first k survivors in draw order win.
    * Hash-seeded and order-free, so the sample is reproducible across
    * runs, partitionings, and engines — resumable training data, the
    * same rationale as [[Sampling.weightedSample]]'s Gumbel keys.
    *
    * Scale shape: candidates are |N|·(2k+margin) rows of three longs;
    * the semi/anti joins shuffle on (dst) / (src, dst) against tables the
    * graph already has; the per-node top-k window partitions by src.
    * Dense nodes (degree ≈ |N|) can exhaust the margin and yield < k
    * negatives — deterministically, and an oracle replays exactly that.
    */
  def negativeSamples(
      edges: DataFrame, k: Int, seed: String = "negs", margin: Int = 3): DataFrame = {
    require(k >= 1 && margin >= 0, "need k >= 1, margin >= 0")
    val e = OperatorCaches.persistTracked(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).distinct())
    val nodes = OperatorCaches.persistTracked(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct())
    val maxId = nodes.agg(max("node")).head().getLong(0)
    val m = 2 * k + margin
    val cands = nodes.select(col("node").as("src"),
        explode(array((0 until m).map(lit): _*)).as("j"))
      .withColumn("dst", pmod(PortableHash.portable60(
          concat_ws(":", lit(seed), col("src"), col("j"))), lit(maxId + 1)))
      .filter(col("dst") =!= col("src"))
      .join(nodes.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .join(e, Seq("src", "dst"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy("j")
    cands.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("src"), col("dst").as("neg_dst"), col("j").as("draw"))
  }

  /** Link-prediction pair scores over shared neighborhoods (Liben-Nowell
    * & Kleinberg 2003) for a provided (src_a, src_b) candidate list (from
    * a blocking stage, a negative sampler, or a recall model) — the
    * SCORING complement of [[negativeSamples]]' training negatives. Per
    * candidate: the common-neighbor count and the Adamic-Adar weight
    * Σ_w 1/ln(deg(w)) over the shared destinations w (rarer shared
    * neighbors carry more signal than ubiquitous ones — the same insight
    * behind idf). Degrees are destination posting-list sizes in the
    * DEDUPED edge set.
    *
    * Scoring a list costs |candidates|·d̄ posting rows through two
    * src-keyed joins — linear in the list however big the graph gets.
    * Enumerating every co-neighbor pair instead costs Σ deg² candidates
    * (measured OOM at ×100 on one box, BENCH_SF10).
    *
    * `maxDegree` is the hub cap, same deterministic reduced-graph
    * semantics as ngramJaccard.maxDf / triangleCountCapped: destinations
    * with more than maxDegree sources are removed BEFORE scoring (their
    * AA summand ~1/ln(huge) is noise), so scores are exactly the scores
    * of the reduced graph and an oracle replays them. Candidates with no
    * surviving common neighbor score (0, 0.0) rather than dropping (a
    * ranked candidate list wants every row back).
    */
  def scoreCandidatePairs(
      candidates: DataFrame,
      edges: DataFrame,
      maxDegree: Long = Long.MaxValue): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    // deg >= 2: a dst shared by two DISTINCT sources has deg >= 2 by
    // construction so the filter costs legit candidates nothing, but a
    // degenerate self-pair (u, u) in the input list matches deg-1
    // destinations and would sum 1/ln(1) = Infinity into adamic_adar
    // without it
    val deg = e.groupBy("dst").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2 && col("deg") <= maxDegree)
    val posting = OperatorCaches.persistTracked(e.join(deg, Seq("dst")))
    val cands = candidates.select(col("src_a").cast("long").as("src_a"),
      col("src_b").cast("long").as("src_b"))
    val scored = cands
      .join(posting.select(col("src").as("src_a"), col("dst"), col("deg")),
        Seq("src_a"))
      .join(posting.select(col("src").as("src_b"), col("dst")),
        Seq("src_b", "dst"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("common"),
        round(sum(lit(1.0) / log(col("deg"))), 6).as("adamic_adar"))
    cands.join(scored, Seq("src_a", "src_b"), "left_outer")
      .select(col("src_a"), col("src_b"),
        coalesce(col("common"), lit(0L)).as("common"),
        coalesce(col("adamic_adar"), lit(0.0)).as("adamic_adar"))
  }

  /** Newman modularity (Newman & Girvan 2004) of a community assignment —
    * the quality audit for [[labelPropagation]] / connected-components
    * partitions: Q = |intra|/m − Σ_c d_c² / (4m²) over the undirected
    * deduped edge set (m edges, d_c = total degree of community c).
    * Q ≈ 0 means the partition is no better than random wiring; well-
    * separated communities push toward 1.
    *
    * Determinism: both numerators are INTEGER aggregates (intra-edge
    * count; sum over communities of squared degree sums), so Q is two
    * exact divisions and one subtraction — identical in any engine, no
    * float-sum order dependence to round away. Scale shape: two joins of
    * the edge table against the (node, community) map on node keys, one
    * bounded per-community aggregate; nothing holds the graph in memory.
    *
    * `communities` is (node, label). Nodes missing from the map drop with
    * their edges (reduced-graph semantics). Returns one row:
    * (n_communities, m_edges, intra_edges, modularity 6 dp).
    */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame = {
    val cm = communities.select(col("node").cast("long").as("node"),
      col("label").cast("long").as("label"))
    val und = edges.select(
        least(col("src").cast("long"), col("dst").cast("long")).as("a"),
        greatest(col("src").cast("long"), col("dst").cast("long")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val lab = und
      .join(cm.select(col("node").as("a"), col("label").as("la")), Seq("a"))
      .join(cm.select(col("node").as("b"), col("label").as("lb")), Seq("b"))
    val labeled = OperatorCaches.persistTracked(lab)
    val deg = labeled.select(col("la").as("l"))
      .unionByName(labeled.select(col("lb").as("l")))
      .groupBy("l").agg(count(lit(1)).as("d"))
    val dc2 = deg.agg(count(lit(1)).as("n_communities"),
      sum(col("d") * col("d")).as("sum_d2"))
    val base = labeled.agg(count(lit(1)).as("m_edges"),
      sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("intra_edges"))
    base.crossJoin(dc2)
      .select(col("n_communities"), col("m_edges"), col("intra_edges"),
        round(col("intra_edges") / col("m_edges").cast("double") -
          col("sum_d2") / (col("m_edges") * col("m_edges") * 4).cast("double"), 6)
          .as("modularity"))
  }

  def multiSourceBfs(
      edges: DataFrame, sources: DataFrame, maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1, "need maxHops >= 1")
    val e = OperatorCaches.persistTracked(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).distinct()
        .repartition(col("src")))
    // Per-hop frontiers keep the EAGER cut (each frontier is referenced
    // three times — next hop's expansion join, every later hop's anti-join
    // probe, the final union — so its blocks must exist before concurrent
    // consumer stages race to compute them). The running `state`, however,
    // needs NO cut of its own: it is a union of already-cut leaves, so its
    // plan grows linearly in hops (4) and each anti-join re-reads
    // materialized frontier blocks, never recomputes — the old cut(state)
    // paid a full materialized copy of the visited set per hop for nothing
    // (guide §1.2: remove redundant passes). Measured at sf0.1: 37 → 33
    // jobs; wall time inside the same-session noise band.
    var state = Lineage.cut(
      sources.select(col("node").cast("long").as("node"))
        .distinct().withColumn("dist", lit(0)))
    var frontier = state.select("node")
    for (h <- 1 to maxHops) {
      val next = e.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(state, Seq("node"), "left_anti")
        .withColumn("dist", lit(h))
      val f = Lineage.cut(next)
      state = state.unionByName(f)
      frontier = f.select("node")
    }
    state
  }

  /** GraphSAGE-style two-hop neighborhood feature aggregation with
    * DETERMINISTIC neighbor sampling (Hamilton et al. NeurIPS'17's
    * sample-and-aggregate, hash-seeded like [[negativeSamples]] so the
    * training features are reproducible across runs, partitionings, and
    * engines): per node, keep the ≤k out-neighbors ranked by
    * portable60(seed:src:dst) (dst tiebreak), then
    *   h1(u) = round(mean x over sampled nbrs, 6)
    *   h2(u) = round(mean h1 over sampled nbrs, 6)
    * — mean skips neighbors with no value of their own (a sampled
    * neighbor with no out-edges has no h1), the same null-skipping avg
    * in any engine; a node whose whole sample lacks values gets NULL.
    *
    * Scale shape: sampling is one per-src window over the edge list (the
    * heavy-hub fan-out is CAPPED at k by construction — that is the
    * point of sampled aggregation); each hop is one node-keyed join +
    * map-side-combined mean. The sampled edge list is persisted once and
    * reused by both hops.
    *
    * Returns (node, x, h1, h2) for every node of `feats`.
    */
  def neighborhoodFeatures(
      edges: DataFrame,
      feats: DataFrame,
      k: Int,
      seed: String = "sage"): DataFrame = {
    require(k >= 1, "need k >= 1")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    // the hash-ranked ≤k cut runs on the native bounded-heap operator
    // (TopKPerKeyExec) rather than a row_number window: the map side
    // already truncates every src to k candidates, so the sample shuffle
    // carries ≤k rows per (task, src) instead of sorting the full edge
    // list per src (measured 176 -> 119 s at ×100 on the 234M-edge
    // bidirectional trade graph; the remaining wall is the edge
    // build+distinct all trade-graph operators share — pagerank's 111 s
    // band on the same graph)
    val sampled = OperatorCaches.persistTracked(
      org.apache.spark.sql.graftnative.TopKPerKey(
          e.withColumn("h", PortableHash.portable60(
            concat_ws(":", lit(seed), col("src"), col("dst")))),
          keyCols = Seq("src"),
          orderCols = Seq(col("h"), col("dst")), k = k)
        .select("src", "dst"))
    val f = feats.select(col("node").cast("long").as("node"),
      col("x").cast("double").as("x"))
    val h1 = sampled
      .join(f.select(col("node").as("dst"), col("x")), Seq("dst"))
      .groupBy(col("src").as("node")).agg(round(avg("x"), 6).as("h1"))
    val h2 = sampled
      .join(h1.select(col("node").as("dst"), col("h1")), Seq("dst"))
      .groupBy(col("src").as("node")).agg(round(avg("h1"), 6).as("h2"))
    f.join(h1, Seq("node"), "left")
      .join(h2, Seq("node"), "left")
      .select(col("node"), col("x"), col("h1"), col("h2"))
  }

  /** Strongly connected components of a DIRECTED graph — the directed
    * counterpart of the dedup CC operators (those treat edges as
    * undirected; mutual reachability is a strictly finer partition).
    * FW-BW-Trim shape (Hong et al. PPoPP'13 made it canonical for
    * parallel SCC; the pieces here are the repo's own primitives):
    *
    *   1. TRIM to fixpoint: a node with in-degree 0 or out-degree 0 in
    *      the remaining graph is its own SCC — peel, repeat. On real
    *      crawl/web graphs this removes most nodes in a few cheap
    *      degree-count rounds (the kCore loop shape), and it is what
    *      keeps the coloring phase from wasting rounds on singleton
    *      chains (a DAG path would otherwise cost one coloring round
    *      per node).
    *   2. COLOR: forward min-label propagation to fixpoint — f(u) = the
    *      smallest node id that reaches u (pageRank's join+groupBy per
    *      step). Convergence is detected by the strictly-decreasing
    *      sum(f) (one tiny agg per step, no row-diff join).
    *   3. MEMBERSHIP: a root r (f(r) = r) and every u with f(u) = r
    *      that reaches r through same-color nodes form exactly SCC(r)
    *      (any u→r path stays inside color r: each hop x has f(x) = r
    *      because whatever reaches x also reaches r). Backward frontier
    *      propagation from the roots, converged when the marked count
    *      stops growing.
    *   4. Assign marked nodes scc = f, remove them, repeat from 1.
    *
    * SEMANTICS ARE A FIXPOINT, NOT A ROUND COUNT — unlike pageRank/HITS
    * there is no per-round grid to replay, so an independent engine can
    * verify with its own algorithm (the oracle runs a recursive-CTE
    * mutual-reachability closure); `require` guards every fixpoint
    * against silent truncation, the kCore convention.
    *
    * Scale shape: per-step state is (node, label) rows keyed by node;
    * every step lineage-cuts (state is re-referenced across steps — the
    * measured kCore 3^rounds plan-growth mode); the remaining edge set
    * only shrinks. Labels propagate one hop per step, so the coloring
    * cost is O(diameter of the largest remaining SCC) joins — the same
    * bound every label-propagation CC in the repo carries.
    *
    * Returns (node, scc) for every node of the edge list, scc = min node
    * id of its component.
    */
  def stronglyConnected(
      edges: DataFrame,
      maxRounds: Int = 12,
      maxSteps: Int = 60,
      maxEdgeScanRows: Double = Double.MaxValue,
      estimatedEdges: Option[Long] = None): DataFrame = {
    require(maxRounds >= 1 && maxSteps >= 1, "need positive round budgets")
    // the gated volume is the WORST-CASE budget maxRounds·maxSteps·|edges|
    // (remaining edges shrink every peel, so real runs spend far less) —
    // a budget ceiling prices what the operator COULD spend, which is
    // what the 58-min ×1000 timeout actually was
    def gate(m: Long): Unit = iterativeScanGate("stronglyConnected",
      maxRounds.toDouble * maxSteps, m, maxEdgeScanRows,
      "Lower maxRounds/maxSteps (diameter-bounded graphs converge far " +
        "under the budget) or reduce the edge list first")
    estimatedEdges.filter(_ => maxEdgeScanRows < Double.MaxValue).foreach(gate)
    // Lineage cuts are LAZY wherever the loop's own convergence count (or
    // the next step's count) is the first action — the count and the
    // checkpoint materialization then share one job instead of two per
    // step (guide §1.2; measured at sf0.1: 170 → 139 jobs with the
    // one-shuffle trim below; wall time unchanged within the ±15% same-
    // session noise band — the win is scheduled passes, which is what
    // compounds on a cluster where each job pays scheduler latency).
    // `assigned` is the one state with NO per-step action (it is only read
    // at the very end): its union-of-cut-leaves plan grows linearly in
    // peel events and each leg is already materialized, so it needs no cut
    // of its own — the old cut(assigned) paid a full copy of the
    // assignment table per peel event.
    import Lineage.{cut, cutLazy}
    // cut the PROJECTED raw edges once: both `remaining` (src≠dst,
    // deduped) and `allNodes` (self-loops included — self-loop-only nodes
    // are singleton SCCs the generic union folds in) derive from it, and
    // without the shared cut each derivation re-ran the caller's whole
    // edge build (for the catalog's trade graph: a lineitem⋈orders join
    // per derivation — ProfileJobs showed two ~0.7-1.5 s build jobs per
    // run where one suffices)
    val rawE = cutLazy(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")))
    var remaining = cutLazy(
      rawE.filter(col("src") =!= col("dst")).distinct())
    if (maxEdgeScanRows < Double.MaxValue && estimatedEdges.isEmpty)
      gate(remaining.count())
    val allNodes = cutLazy(
      rawE.select(col("src").as("node"))
        .unionAll(rawE.select(col("dst").as("node")))
        .distinct())
    var assigned = allNodes.filter(lit(false))
      .select(col("node"), col("node").as("scc"))
    var unassigned = allNodes
    var round = 0
    var nUnassigned = unassigned.count()
    while (nUnassigned > 0 && round < maxRounds) {
      // -- 1. trim trivial SCCs to fixpoint. A node survives iff it has
      // BOTH an in- and an out-edge in the remaining graph: one flag-union
      // + grouped-max aggregate — ONE exchange — instead of the old
      // distinct(dst) + distinct(src) + semi-join (three exchanges per
      // step) for the same node set (guide §2.4: remove shuffles outright).
      var trimmed = true
      var step = 0
      while (trimmed && step < maxSteps) {
        val both = remaining.select(col("src").as("node"), lit(1).as("o"),
            lit(0).as("i"))
          .unionAll(remaining.select(col("dst").as("node"), lit(0).as("o"),
            lit(1).as("i")))
          .groupBy("node").agg(max("o").as("o"), max("i").as("i"))
          .filter(col("o") === 1 && col("i") === 1)
          .select("node")
        val trivia = cutLazy(unassigned.join(both, Seq("node"), "left_anti"))
        val nTrivia = trivia.count()
        trimmed = nTrivia > 0
        if (trimmed) {
          assigned = assigned.unionAll(
            trivia.select(col("node"), col("node").as("scc")))
          unassigned = cutLazy(unassigned.join(trivia, Seq("node"), "left_anti"))
          remaining = cutLazy(remaining
            .join(trivia.select(col("node").as("src")), Seq("src"), "left_anti")
            .join(trivia.select(col("node").as("dst")), Seq("dst"), "left_anti")
            .select("src", "dst"))
          nUnassigned -= nTrivia
        }
        step += 1
      }
      require(!trimmed, s"SCC trim did not reach a fixpoint in $maxSteps steps")
      if (nUnassigned > 0) {
        // -- 2. forward min-label coloring to fixpoint — FRONTIER-DRIVEN:
        // a label can only decrease through an in-neighbor whose own
        // label decreased last step, so each step joins the edges against
        // the (geometrically shrinking) changed-set, not the full state.
        var f = cut(unassigned.withColumn("lbl", col("node")))
        var frontier = f
        var nFrontier = nUnassigned
        step = 0
        while (nFrontier > 0 && step < maxSteps) {
          val prop = remaining
            .join(frontier.select(col("node").as("src"), col("lbl").as("slbl")),
              Seq("src"))
            .groupBy(col("dst").as("node")).agg(min("slbl").as("plbl"))
          val dec = cutLazy(prop.join(f, Seq("node"))
            .filter(col("plbl") < col("lbl"))
            .select(col("node"), col("plbl").as("lbl")))
          nFrontier = dec.count()
          // f stays an EAGER cut: it is referenced twice in the next step
          // (the dec join and its own update) and three times after
          // convergence (colorEdges twice + the root seed)
          if (nFrontier > 0)
            f = cut(f.join(dec.select(col("node"), col("lbl").as("nl")),
                Seq("node"), "left")
              .select(col("node"), coalesce(col("nl"), col("lbl")).as("lbl")))
          frontier = dec
          step += 1
        }
        require(nFrontier == 0,
          s"SCC coloring did not reach a fixpoint in $maxSteps steps")
        // -- 3. backward membership: pre-restrict the edges to same-color
        // pairs ONCE (each step is then one semi-join + one anti-join),
        // seed with the roots, grow by the newly-marked delta only.
        val colorEdges = cutLazy(remaining
          .join(f.select(col("node").as("src"), col("lbl").as("sl")), Seq("src"))
          .join(f.select(col("node").as("dst"), col("lbl").as("dl")), Seq("dst"))
          .filter(col("sl") === col("dl"))
          .select("src", "dst"))
        var mark = cutLazy(f.filter(col("lbl") === col("node")).select("node"))
        var nMark = mark.count()
        var delta = mark
        var nDelta = nMark
        step = 0
        while (nDelta > 0 && step < maxSteps) {
          val viaEdge = colorEdges
            .join(delta.select(col("node").as("dst")), Seq("dst"), "left_semi")
            .select(col("src").as("node")).distinct()
          delta = cutLazy(viaEdge.join(mark, Seq("node"), "left_anti"))
          nDelta = delta.count()
          // mark is a union of already-materialized cut leaves (the root
          // seed + every counted delta): no cut of its own needed — the
          // old cut(mark) re-copied the whole marked set every step
          if (nDelta > 0) {
            mark = mark.unionAll(delta)
            nMark += nDelta
          }
          step += 1
        }
        require(nDelta == 0,
          s"SCC membership did not reach a fixpoint in $maxSteps steps")
        // -- 4. assign and peel
        val found = cutLazy(f.join(mark, Seq("node"), "left_semi")
          .select(col("node"), col("lbl").as("scc")))
        assigned = assigned.unionAll(found)
        unassigned = cutLazy(unassigned.join(found, Seq("node"), "left_anti"))
        remaining = cutLazy(remaining
          .join(found.select(col("node").as("src")), Seq("src"), "left_anti")
          .join(found.select(col("node").as("dst")), Seq("dst"), "left_anti")
          .select("src", "dst"))
        nUnassigned -= nMark
      }
      round += 1
    }
    require(nUnassigned == 0,
      s"SCC peeling did not converge within $maxRounds rounds")
    assigned
  }

  /** HITS hubs-and-authorities (Kleinberg 1999, JACM 46(5)) over a
    * DIRECTED edge list — the query-dependent centrality pair beside
    * global [[pageRank]]: auth(v) sums the hub scores pointing AT v,
    * hub(u) sums the authority scores u points TO, each half-step
    * L2-normalized. Fixed iteration count + the 7-dp per-round grid
    * (the [[pageRank]] replay convention) so an independent engine can
    * unroll the rounds as chained CTEs: raw sums are IEEE-deterministic
    * up to summation order (~1e-14) against the 5e-8 grid boundary, and
    * the L2 norm is a sqrt of those sums (correctly rounded, engine-
    * independent).
    *
    * Scale shape: the edge table is deduped once and persisted TWICE,
    * pre-partitioned by src and by dst — the auth half-step joins hub
    * state on src, the hub half-step joins auth state on dst, so
    * neither copy ever re-exchanges across rounds. Score state is one
    * row per distinct src (hubs) or dst (auths) and broadcasts under
    * the same 4M-node gate as pageRank; past it the |state|-row side
    * shuffles onto the stationary edge copies. The final hub/auth
    * stitch is the PPR union + re-keyed sum (no broadcast full-outer
    * in Spark), exact because each node contributes at most one hub
    * and one auth addend.
    */
  def hits(
      edges: DataFrame,
      iterations: Int = 6,
      maxEdgeScanRows: Double = Double.MaxValue,
      estimatedEdges: Option[Long] = None): DataFrame = {
    require(iterations >= 1, "need iterations >= 1")
    // two half-steps per iteration, each one edge-table join — the gated
    // volume is 2·iterations·|edges| (see iterativeScanGate)
    estimatedEdges.filter(_ => maxEdgeScanRows < Double.MaxValue)
      .foreach(m => iterativeScanGate("hits", 2.0 * iterations, m,
        maxEdgeScanRows, "Lower iterations or reduce the edge list first"))
    val e = OperatorCaches.persistTracked(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).distinct())
    if (maxEdgeScanRows < Double.MaxValue && estimatedEdges.isEmpty)
      iterativeScanGate("hits", 2.0 * iterations, e.count(),
        maxEdgeScanRows, "Lower iterations or reduce the edge list first")
    val eBySrc = OperatorCaches.persistTracked(e.repartition(col("src")))
    val eByDst = OperatorCaches.persistTracked(e.repartition(col("dst")))
    val srcs = e.select(col("src").as("node")).distinct()
    val nSrc = srcs.count()
    require(nSrc > 0, "hits on an empty edge list")
    val broadcastState = nSrc <= 4_000_000L
    def side(df: DataFrame): DataFrame =
      if (broadcastState) broadcast(df) else df
    // Per-half-step state is LINEAGE-CUT (checkpoint dir if set, else
    // localCheckpoint — the kCore/CC convention), not merely persisted:
    // a persist keeps the full logical plan, and every nested
    // InMemoryRelation/AQE level re-prints its cached child plan, so 12
    // half-steps of nesting make plan STRINGS (UI listener, explain)
    // grow multiplicatively — the driver heap-dies in explainString at
    // sf0.01 before any data moves (measured this session). The cut
    // replaces each state's plan with a flat scanned-RDD leaf; per-round
    // plan size is then constant.
    // L2-normalize a raw (node, x) score table on the shared grid. The
    // norm is COLLECTED as one driver double (bounded, the centroid-
    // collect precedent) rather than stitched in as a scalar subquery —
    // a subquery would reference the previous state's plan a second time
    // per half-step (2^12 plan blowup); with the literal each round
    // references its predecessor once.
    // The CUT lands on the RAW table and is LAZY (Lineage.cutLazy): the
    // norm agg immediately after is the materializing action, so the
    // join+groupBy compute, the checkpoint block write, and the norm scan
    // share ONE job per half-step instead of two (materialize, then agg —
    // guide §1.2: remove passes). The normalize itself stays a lazy
    // projection over the checkpointed leaf — still constant plan growth.
    // (History: r12 moved the cut from the normalized state to the raw
    // table, 9.6 → 8.1 s isolated at sf0.1; this round folds the cut into
    // the norm job — 71 → 58 jobs, wall time unchanged within the same-
    // session noise band at sf0.1; one fewer scheduled pass per half-step
    // is the cluster-shape win.)
    def l2(raw0: DataFrame, outCol: String): DataFrame = {
      val raw = Lineage.cutLazy(raw0)
      val nrm = raw.agg(sqrt(sum(col("x") * col("x")))).head().getDouble(0)
      require(nrm > 0, "HITS iterate collapsed to the zero vector")
      raw.select(col("node"), round(col("x") / lit(nrm), 7).as(outCol))
    }
    // uniform init is already unit-norm; rounded on the grid like every
    // subsequent state so round 1 reads replayable inputs (lazy cut: the
    // round-1 broadcast build is its materializing action)
    var hub = Lineage.cutLazy(
      srcs.withColumn("h", round(lit(1.0) / sqrt(lit(nSrc.toDouble)), 7)))
    var auth: DataFrame = null
    for (_ <- 1 to iterations) {
      val aRaw = eBySrc
        .join(side(hub.withColumnRenamed("node", "src")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("x"))
      auth = l2(aRaw, "a")
      val hRaw = eByDst
        .join(side(auth.withColumnRenamed("node", "dst")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("x"))
      hub = l2(hRaw, "h")
    }
    hub.select(col("node"), col("h").as("hub"), lit(0.0).as("auth"))
      .unionByName(
        auth.select(col("node"), lit(0.0).as("hub"), col("a").as("auth")))
      .groupBy("node")
      .agg(sum("hub").as("hub"), sum("auth").as("auth"))
  }

  /** DeepWalk-style co-occurrence corpus from DETERMINISTIC random walks
    * (Perozzi et al. 2014, the data-prep half of graph embeddings: the
    * walk corpus feeds a skip-gram trainer). One walk per node, `steps`
    * hops; each hop picks the portable-hash-seeded neighbor
    *
    *   next = adj(cur)[ hash(seed, walker, t) mod deg(cur) ]
    *
    * so walks are reproducible across runs, partitionings, and engines —
    * the [[neighborhoodFeatures]] hash-seeded-sampling convention applied
    * to path generation. Skip-gram pairs are the unordered node pairs
    * within `window` positions on the same walk; output is the top-k by
    * co-occurrence count (count desc, then ids — deterministic).
    *
    * Distributed shape: the ranked adjacency (row_number per src) is
    * persisted once; each hop is ONE equi-join of the walker frontier
    * against it (frontier lineage-cut per hop); the pair stage is a
    * positions self-join keyed by walker with ≤ C(steps+1, 2) pairs per
    * walker. Nothing walks on the driver.
    *
    * Opt-in budget gate (the pageRank/stronglyConnected convention): the
    * dominant scan is the adjacency build (two ranking windows over
    * |edges|) plus `steps` frontier-vs-adjacency equi-joins, so the
    * priced volume is (steps + 2)·|edges|. Pass `maxEdgeScanRows` to
    * fail fast with the sized diagnosis in milliseconds instead of
    * discovering the single-host edge-build wall minutes in; pass
    * `estimatedEdges` (e.g. 2·|lineitem| for the bidirectional trade
    * graph) to price the gate without even counting.
    */
  def walkCooccurrence(
      edges: DataFrame,
      steps: Int = 4,
      window: Int = 2,
      topK: Int = 20,
      seed: String = "dw",
      maxEdgeScanRows: Double = Double.MaxValue,
      estimatedEdges: Option[Long] = None): DataFrame = {
    require(steps >= 1 && steps <= 8, "steps in [1, 8]")
    require(window >= 1 && topK >= 1, "window and topK must be positive")
    import org.apache.spark.sql.expressions.Window
    def gate(m: Long): Unit = iterativeScanGate("walkCooccurrence",
      steps.toDouble + 2, m, maxEdgeScanRows,
      "Lower steps, pre-filter the edge list (degree cap or sampled " +
        "walkers), or run on a cluster sized for the adjacency build")
    estimatedEdges.filter(_ => maxEdgeScanRows < Double.MaxValue).foreach(gate)
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    if (maxEdgeScanRows < Double.MaxValue && estimatedEdges.isEmpty)
      gate(e.count())
    val adj = OperatorCaches.persistTracked(e
      .withColumn("rn",
        row_number().over(Window.partitionBy("src").orderBy("dst"))
          .cast("long") - 1L)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src"))))
    // per-hop frontiers are EAGER lineage cuts: each cur is referenced
    // twice (the next hop's adjacency join and the positions union), and
    // both references land in the same terminal self-join job — a lazy cut
    // would let the two consumer stages race to compute the same frontier
    var cur = Lineage.cut(e.select(col("src").as("walker")).distinct()
      .withColumn("node", col("walker")))
    var positions = cur.withColumn("pos", lit(0L))
    for (t <- 1 to steps) {
      // The step hash depends only on (walker, t) — compute it ONCE per
      // walker on the |walkers|-row side BEFORE the join, not inside the
      // post-join filter where it would run per CANDIDATE row (deg(cur)
      // rows per walker — and walks drift to hubs, so Σ deg(cur) is
      // hub-heavy: measured 6.8 s/hop at sf0.1 on the hub-landed hops with
      // the md5 inside the filter, 0.3–0.9 s with it hoisted; guide §1.2
      // per-task work). pmod against deg still runs per candidate — it is
      // two longs, not an md5.
      val stepped = cur.withColumn("h", PortableHash.portable60(
        concat_ws(":", lit(seed), col("walker"), lit(t))))
      cur = Lineage.cut(stepped.join(adj, stepped("node") === adj("src"))
        .filter(col("rn") === pmod(col("h"), col("deg")))
        .select(col("walker"), col("dst").as("node")))
      positions = positions.unionByName(cur.withColumn("pos", lit(t.toLong)))
    }
    val p1 = positions.select(col("walker"), col("pos").as("pa"),
      col("node").as("a"))
    val p2 = positions.select(col("walker"), col("pos").as("pb"),
      col("node").as("b"))
    p1.join(p2, Seq("walker"))
      .filter(col("pb") > col("pa") && col("pb") - col("pa") <= window)
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("node_a"),
        greatest(col("a"), col("b")).as("node_b"))
      .groupBy("node_a", "node_b").agg(count(lit(1)).as("n_cooc"))
      .orderBy(col("n_cooc").desc, col("node_a"), col("node_b"))
      .limit(topK)
  }
}
