package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline. New scope beyond
  * the reference (its only dedup-shaped op is distinct(), SURVEY.md §2b);
  * built from Catalyst built-ins (higher-order array functions, md5,
  * xxhash64) and a few codegen'd native expressions (graftnative), so
  * everything distributes: the only shuffles are the candidate-generation
  * groupBy/joins, never a cartesian product.
  *
  * The MinHash and SimHash sketches have ONE hash family, the
  * engine-portable md5 family of [[PortableHash]]: every signature these
  * operators emit or persist (a sketch table is identity at rest) is
  * replayed exactly by an independent engine, the DuckDB oracles.
  *
  * Scale notes (100 TB): every method here is
  *   narrow map (per-doc sketch) → shuffle on sketch key → verify join.
  * The sketch keys (band hashes / simhash chunks) are uniformly distributed
  * by construction, so the shuffle is skew-resistant except for degenerate
  * corpora (billions of identical docs) — AQE skew-join handles the rest.
  */
object Dedup {

  /** Tokenize + lowercase. */
  private def toks(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Distinct word-level k-shingles of a text column. Short docs (< k
    * tokens) contribute their whole token string as a single shingle.
    *
    * Built by zip_with-chaining k shifted slices — NOT by indexing into
    * the token array from inside a `transform` lambda: a free variable in
    * a higher-order-function lambda is re-evaluated PER ELEMENT (no CSE in
    * Catalyst's interpreted HOF path), so `slice(t, i+1, k)` inside the
    * lambda re-runs the regex tokenizer once per gram — O(tokens²) per
    * document. The zip_with form evaluates the token array k+1 times per
    * row, and each lambda touches only its own arguments.
    */
  def shingles(text: Column, k: Int = 3): Column =
    array_distinct(shinglesAll(text, k))

  /** [[shingles]] WITHOUT the distinct — the full gram sequence with
    * duplicates, for term-frequency consumers (TF-IDF weighting) where
    * multiplicity is signal, not noise.
    */
  def shinglesAll(text: Column, k: Int = 3): Column = {
    val t = toks(text)
    val gramLen = greatest(size(t) - lit(k - 1), lit(1))
    val first = slice(t, lit(1), gramLen)
    // concat_ws skips the nulls zip_with pads short docs with, so a
    // < k-token doc yields its whole token string, as before
    (1 until k).foldLeft(first) { (acc, j) =>
      zip_with(acc, slice(t, lit(j + 1), gramLen), (a, b) => concat_ws(" ", a, b))
    }
  }

  /** Distinct k-shingle HASHES, built from per-token hashes: each gram is
    * xxhash64 over its k-token-hash window (XxHash64 hashes arrays
    * natively), so no gram string is ever materialized. The string path
    * ([[shingles]] + per-gram xxhash64) costs O(tokens·k) byte copies per
    * document and measured ~2× the whole sketch time; this one is one
    * string hash per token plus k-long hashes per gram. Same set
    * semantics modulo 64-bit collisions (irrelevant for sketching).
    */
  def hashedShingles(text: Column, k: Int = 3): Column =
    array_distinct(positionalGramHashes(text, k))

  /** k-shingle hashes in token order, position-preserving (element i =
    * hash of the gram starting at token i; no dedup): the building block
    * for span-level operations. gram_i = xxhash64(…xxhash64(h_i, h_i+1)…,
    * h_i+k-1); < k-token docs still contribute exactly one gram.
    *
    * Computed by the NATIVE one-pass expression
    * (graftnative.GramChainHashes, codegen'd): the chained-zip_with
    * formulation ([[positionalGramHashesHof]], kept as the lockstep
    * oracle) is k−1 interpreted array walks — 6.5 s for the sf0.1 corpus
    * at the repeated-span window k = 50, same HOF-fold cost class the
    * MinHash signature had before its native expression.
    */
  def positionalGramHashes(text: Column, k: Int): Column =
    org.apache.spark.sql.graftnative.GramChainHashes(
      transform(toks(text), t => xxhash64(t)), k)

  /** Reference chained-zip_with formulation of [[positionalGramHashes]] —
    * the correctness oracle for the native expression (nulls from
    * short-doc padding are skipped by the hash but still advance its seed
    * chain, which the native expression replicates).
    */
  private[graft] def positionalGramHashesHof(text: Column, k: Int): Column = {
    val hs = transform(toks(text), t => xxhash64(t))
    val gramLen = greatest(size(hs) - lit(k - 1), lit(1))
    (1 until k).foldLeft(slice(hs, lit(1), gramLen)) { (acc, j) =>
      zip_with(acc, slice(hs, lit(j + 1), gramLen), (a, b) => xxhash64(a, b))
    }
  }

  /** Exact repeated-span detection (the primitive behind exact SUBSTRING
    * dedup, Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22): return every (doc, token position) whose n-token
    * window occurs more than once in the corpus — within the same document
    * or across documents — so a caller can cut the duplicated spans rather
    * than drop whole near-duplicate documents. The published pipelines use
    * n ≈ 50 tokens; smaller n flags more aggressively.
    *
    * Plan shape: positional gram hashes (narrow) → posexplode → one
    * groupBy(gram) count (map-side combined longs) → semi-join back.
    * Nothing but 8-byte hashes and positions ever shuffles; at 100 TB the
    * gram-count table is the only wide state and it shrinks with `n`.
    */
  def repeatedSpans(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 50): DataFrame = {
    // docs shorter than n tokens have NO n-token window: without the size
    // guard the gram builder's short-doc floor (whole-doc gram) would flag
    // them, and surgery would erase entire short duplicates
    val grams = OperatorCaches.persistTracked(df
      .filter(size(split(lower(trim(col(textCol))), "\\s+")) >= n)
      .select(
        col(idCol).cast("long").as("id"),
        posexplode(positionalGramHashes(col(textCol), n)).as(Seq("pos", "g"))))
    val repeated = grams.groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
    // UNSORTED on purpose: a trailing global orderBy here would range-
    // shuffle the full flagged-position set on every call — callers that
    // need deterministic output order (the catalog entry, tests) sort the
    // k rows they keep
    grams.join(repeated, Seq("g"), "left_semi")
      .select(col("id").as(idCol), col("pos"))
  }

  /** Span surgery companion to [[repeatedSpans]]: remove every token
    * covered by a repeated n-window EXCEPT the window's canonical (first
    * by (doc, pos)) occurrence — cut the duplicated text, keep the rest of
    * the document (Lee et al. ACL'22 cut semantics). Returns the input
    * plus `text_cut` (tokens surviving the cut, space-joined) and
    * `n_cut_tokens`.
    *
    * Same shuffle profile as repeatedSpans (hashes + positions only) plus
    * one broadcast-sized per-doc cut-index set joined back to the corpus —
    * the document bodies never shuffle.
    *
    * Known residual (deliberate, default mode): keeper protection is
    * CROSS-GRAM within a document — a token of a non-keeper occurrence of
    * gram Y survives if it falls inside a keeper window of a DIFFERENT
    * gram X in the same doc. This mirrors Lee et al.'s
    * merge-overlapping-spans-then-cut behavior (a keeper span never gets
    * partially eroded by overlapping duplicates), but it means a fragment
    * whose canonical copy lives in another document can survive inside a
    * locally-kept window.
    *
    * `strict = true` switches to every-non-canonical-span removal: the
    * keeper subtraction joins on the GRAM as well, so only the canonical
    * occurrence of each specific window is protected — a keeper window CAN
    * be eroded by an overlapping non-canonical span of a different gram.
    * Pick per goal: default preserves locally-canonical context (training
    *-data quality), strict guarantees no duplicated window text survives
    * anywhere but its one canonical site (leak/contamination removal).
    */
  def cutRepeatedSpans(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 50,
      strict: Boolean = false): DataFrame = {
    val grams = OperatorCaches.persistTracked(df
      .filter(size(split(lower(trim(col(textCol))), "\\s+")) >= n)
      .select(
        col(idCol).cast("long").as("id"),
        posexplode(positionalGramHashes(col(textCol), n)).as(Seq("pos", "g"))))
    // per repeated gram: canonical keeper = lexicographic min (id, pos)
    val keepers = grams.groupBy("g")
      .agg(count(lit(1)).as("c"), min(struct(col("id"), col("pos"))).as("keep"))
      .filter(col("c") > 1)
    val occ = grams.join(keepers, Seq("g"))
    // token indices covered by any non-keeper occurrence, MINUS indices
    // inside a keeper window of the same doc: overlapping non-canonical
    // windows must not erode the canonical span (a self-repeating doc keeps
    // its first window intact — Lee et al. merge overlapping duplicate
    // spans before cutting, which this subtraction reproduces)
    val nonKeeperIdx = occ
      .filter(struct(col("id"), col("pos")) =!= col("keep"))
      .select(col("id"), col("g"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("ti"))
    val keeperIdx = occ
      .filter(struct(col("id"), col("pos")) === col("keep"))
      .select(col("id"), col("g"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("ti"))
    // strict: protection is per-gram (only the window's own canonical
    // occurrence shields its tokens); default: any keeper window in the
    // doc shields the token (cross-gram, see scaladoc)
    val antiKeys = if (strict) Seq("id", "ti", "g") else Seq("id", "ti")
    val cutIdx = nonKeeperIdx.join(keeperIdx, antiKeys, "left_anti")
      .groupBy("id").agg(collect_set(col("ti")).as("cut"))
    val toks0 = toks(col(textCol))
    df.join(cutIdx.withColumnRenamed("id", "__cut_id"),
        col(idCol).cast("long") === col("__cut_id"), "left")
      .withColumn("__kept", filter(toks0, (tok, i) =>
        col("cut").isNull || !array_contains(col("cut"), i)))
      .withColumn("text_cut", concat_ws(" ", col("__kept")))
      .withColumn("n_cut_tokens",
        (size(toks0) - size(col("__kept"))).cast("long"))
      .drop("__cut_id", "cut", "__kept")
  }

  /** Exact dedup: hash-groupBy on the full text (md5 keeps the shuffle key
    * 16 bytes instead of the document body — at 100 TB you shuffle digests,
    * not documents). Keeps the lowest id per group.
    */
  def exact(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val groups = df
      .select(md5(col(textCol)).as("h"), col(idCol))
      .groupBy("h")
      .agg(min(col(idCol)).as(idCol))
    df.join(groups, Seq(idCol), "left_semi")
  }

  /** Exact-dup group profile: digest, surviving id, multiplicity. */
  def exactGroups(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(md5(col(textCol)).as("h"), col(idCol))
      .groupBy("h")
      .agg(min(col(idCol)).cast("long").as("keep_id"), count(lit(1)).as("copies"))

  /** C4-style line-level GLOBAL exact dedup: across the whole corpus, each
    * distinct line survives only at its first occurrence (ordered by
    * (id, position)); every later copy — in other documents or later in
    * the same document — is removed, and documents are reassembled from
    * their surviving lines. This is the span-level dedup C4 applies to
    * web text (boilerplate nav lines, cookie banners, quoted reposts);
    * the caller controls segmentation via `linesCol` (split on '\n' for
    * real lines, or fixed-width token windows for span dedup of unbroken
    * text, cf. reference cell 61's distinct() — the only dedup-shaped op
    * the notebook ships).
    *
    * Scale shape (100 TB): document text NEVER enters the dedup shuffle.
    * Lines are keyed by md5 digest, so the winner computation moves
    * (16-byte digest, id, idx) triples with a map-side partial min; the
    * per-document keep-sets (an int array per doc) join back on the id
    * column — the one full-row exchange, and exchange-free when the
    * corpus is bucketed by id. Reassembly is a per-row array filter (no
    * second explode). Digest keying means md5-collision pairs would merge
    * — at 10^11 lines the 128-bit birthday bound is ~10^-16, the same
    * trust [[exact]] places in md5.
    *
    * Output: input columns plus `n_lines`, `n_kept` (int) and
    * `text_dedup` (surviving lines joined by '\n').
    */
  /** Fixed-width token-window "lines" segmentation (C4-style unbroken-web
    * spans) — the canonical `linesCol` the line-dedup family consumes.
    * The token array is bound ONCE as a HOF lambda variable (the
    * [[TextAnalysis.repetitionMetrics]] / chunkCdc dodge): the previous
    * inline formulation referenced the split expression inside the
    * window-transform lambda, re-running the full split once per window.
    */
  def tokenWindowLines(text: Column, windowTokens: Int = 10): Column = {
    require(windowTokens >= 1, "need windowTokens >= 1")
    element_at(transform(array(split(text, " ")), tk => {
      val nWin = ceil(size(tk).cast("double") / windowTokens).cast("int")
      transform(sequence(lit(0), nWin - lit(1)),
        i => array_join(
          slice(tk, i * lit(windowTokens) + lit(1), lit(windowTokens)), " "))
    }), 1)
  }

  def lineDedup(df: DataFrame, linesCol: Column, idCol: String = "doc_id"): DataFrame = {
    val keyed = df
      .select(col(idCol), posexplode(linesCol).as(Seq("line_idx", "line")))
      .select(md5(col("line")).as("lh"), col(idCol), col("line_idx"))
    val winners = keyed
      .groupBy("lh")
      .agg(min(struct(col(idCol), col("line_idx"))).as("w"))
      .select(col("w")(idCol).as(idCol), col("w")("line_idx").as("line_idx"))
    val keepIdx = winners
      .groupBy(idCol)
      .agg(array_sort(collect_list(col("line_idx"))).as("__graft_keep_idx"))
    df.join(keepIdx, Seq(idCol), "left")
      .withColumn("__graft_kept",
        filter(linesCol, (_, i) => array_contains(col("__graft_keep_idx"), i)))
      .withColumn("n_lines", size(linesCol))
      .withColumn("n_kept", size(col("__graft_kept")))
      .withColumn("text_dedup", array_join(col("__graft_kept"), "\n"))
      .drop("__graft_keep_idx", "__graft_kept")
  }

  /** Distinct line digests of a corpus — the persisted index
    * [[lineDedupIncremental]] probes on the next crawl (16-byte keys,
    * never line text; the line analog of the digest table
    * [[incrementalExactByDigest]] consumes).
    */
  def lineDigests(df: DataFrame, linesCol: Column, idCol: String = "doc_id"): DataFrame =
    df.select(posexplode(linesCol).as(Seq("__i", "__line")))
      .select(md5(col("__line")).as("digest")).distinct()

  /** Incremental [[lineDedup]]: lines already in the persisted base
    * digest set are struck EVERYWHERE in the new batch (the base corpus
    * owns them); base-unseen lines then follow the within-batch
    * first-occurrence rule. The every-crawl form of C4 span dedup — base
    * text is never rescanned, the probe is a digest anti-join.
    */
  def lineDedupIncremental(
      newDf: DataFrame,
      baseDigests: DataFrame,
      linesCol: Column,
      idCol: String = "doc_id"): DataFrame = {
    val keyed = newDf
      .select(col(idCol), posexplode(linesCol).as(Seq("line_idx", "line")))
      .select(md5(col("line")).as("lh"), col(idCol), col("line_idx"))
    val fresh = keyed.join(
      baseDigests.select(col("digest").as("__graft_base_lh")).distinct(),
      keyed("lh") === col("__graft_base_lh"), "left_anti")
    val winners = fresh
      .groupBy("lh")
      .agg(min(struct(col(idCol), col("line_idx"))).as("w"))
      .select(col("w")(idCol).as(idCol), col("w")("line_idx").as("line_idx"))
    val keepIdx = winners
      .groupBy(idCol)
      .agg(array_sort(collect_list(col("line_idx"))).as("__graft_keep_idx"))
    newDf.join(keepIdx, Seq(idCol), "left")
      .withColumn("__graft_kept",
        filter(linesCol, (_, i) => array_contains(col("__graft_keep_idx"), i)))
      .withColumn("n_lines", size(linesCol))
      .withColumn("n_kept", size(col("__graft_kept")))
      .withColumn("text_dedup", array_join(col("__graft_kept"), "\n"))
      .drop("__graft_keep_idx", "__graft_kept")
  }

  /** Incremental exact dedup: keep only the rows of `newDf` whose text does
    * not already appear in `baseDf` — the every-ingest operation of a
    * growing corpus (dedup the new crawl against everything kept so far).
    * The [[incrementalExactByDigest]] anti-join over md5 digests of the
    * base text (the join [[graft.streaming.CorpusIngest]] runs when it
    * keeps no digest table), so the shuffle carries 16-byte keys, never
    * document bodies.
    */
  def incrementalExact(
      newDf: DataFrame,
      baseDf: DataFrame,
      textCol: String = "text"): DataFrame =
    incrementalExactByDigest(newDf,
      baseDf.select(md5(col(textCol)).as("digest")), textCol)

  /** The digest anti-join: keep the rows of `newDf` whose md5(text) is not
    * in `baseDigests`. With a PRE-COMPUTED digest column (e.g. the table
    * [[graft.streaming.CorpusIngest]] maintains alongside the corpus) the
    * every-ingest anti-join never rescans base document bodies at all —
    * the build side is a bare 16-byte-per-doc key table, and the only text
    * ever hashed is the incoming batch's.
    */
  def incrementalExactByDigest(
      newDf: DataFrame,
      baseDigests: DataFrame,
      textCol: String = "text",
      digestCol: String = "digest"): DataFrame = {
    val seen = baseDigests.select(col(digestCol).as("__graft_seen_h")).distinct()
    newDf.join(seen, md5(newDf(textCol)) === seen("__graft_seen_h"), "left_anti")
  }

  // ------------------------------------------------------------- MinHash
  // The engine-replayable sketch: base shingle hash =
  // PortableHash.portable60 of the gram STRING reduced mod 2^31-1, families
  // = literal affine permutations (a_i·h + b_i) mod p, band key = a modular
  // chain over the band's signature values. Every step is plain md5 +
  // 64-bit-safe integer arithmetic, so an independent engine (the DuckDB
  // oracle for q_dedup_minhash) reproduces signatures, band collisions, and
  // the verified pair set EXACTLY. Cost: one md5 per gram (~4x an xxhash64
  // of it); the 64-family sweep is multiplies+mods in one native loop.

  /** 2^31−1 (Mersenne prime): affine products stay ≤ ~2^62 — no ANSI
    * overflow — and the modulus is cheap in any engine.
    */
  private[graft] val MinHashP = 2147483647L

  /** Literal (a_i, b_i) affine params, fixed seed — spliced verbatim into
    * both the Spark expression tree and the oracle SQL.
    */
  private[graft] def affineParams(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(20240612L)
    Seq.fill(numHashes)((
      1L + rnd.nextInt((MinHashP - 1).toInt).toLong,
      rnd.nextInt(MinHashP.toInt).toLong))
  }

  /** Distinct portable shingle hashes (mod-p collisions are re-distincted
    * so both engines hold the identical set).
    */
  def portableShingleHashes(text: Column, k: Int = 3): Column =
    array_distinct(transform(shingles(text, k),
      g => PortableHash.portable60(g) % MinHashP))

  /** Signature: min over shingles of each affine family, computed by the
    * native one-pass expression (graftnative.MinHashSignature: 52 s →
    * sub-second for the sf0.1 sketch; the HOF form
    * [[minHashSignaturePortableHof]] is kept as its lockstep oracle). The
    * affine constants are embedded as plan references, so the values — and
    * the DuckDB oracles replaying them — are those of the HOF form.
    */
  def minHashSignaturePortable(shingleHashes: Column, numHashes: Int): Column =
    org.apache.spark.sql.graftnative.MinHashSignature(
      shingleHashes, numHashes, affineParams(numHashes), MinHashP)

  /** Reference HOF formulation of [[minHashSignaturePortable]] — the
    * correctness oracle for the native expression.
    */
  private[graft] def minHashSignaturePortableHof(shingleHashes: Column, numHashes: Int): Column =
    array(affineParams(numHashes).map { case (a, b) =>
      array_min(transform(shingleHashes, h => (lit(a) * h + lit(b)) % MinHashP))
    }: _*)

  /** Deterministic modular chain over a band's signature slice — the
    * portable stand-in for hashing the slice array. Band-bucket collisions
    * between different slices are possible (~2^-31) but harmless AND
    * replayed identically by the oracle: the exact-Jaccard verify filters
    * them the same way in both engines.
    */
  private def portableBandChain(slice: Column): Column =
    aggregate(slice, lit(0L), (acc, v) => (acc * lit(1000003L) + v) % lit(MinHashP))

  /** (id, sig) sketch table for a corpus — the thing you PERSIST at 100 TB
    * (partitioned/bucketed by id) so later near-dup probes
    * ([[incrementalMinHash]]) never touch base document text again. One
    * narrow pass over the corpus; 8·numHashes bytes per doc at rest.
    */
  def minHashSketchTable(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 64,
      shingleK: Int = 3): DataFrame =
    df.select(
      col(idCol).cast("long").as("id"),
      minHashSignaturePortable(portableShingleHashes(col(textCol), shingleK), numHashes)
        .as("sig"))

  /** Band-key structs (band, bh) for a signature — ONE derivation shared by
    * [[minHashLsh]]'s self-join and [[incrementalMinHash]]'s probe join, so
    * a probe against a persisted sketch table can never band differently
    * than the job that built it.
    */
  private def bandStructs(sig: Column, b0: Int, r: Int): Column =
    transform(sequence(lit(0), lit(b0 - 1)), i =>
      struct(i.as("band"), portableBandChain(slice(sig, i * lit(r) + 1, lit(r))).as("bh")))

  /** Auto-banding: fewest bands whose collision probability at `threshold`
    * is ≥ 95% (see [[minHashLsh]] scaladoc for the full rationale).
    */
  private[graft] def autoBands(numHashes: Int, threshold: Double): Int = {
    val rs = (numHashes to 2 by -1).filter(numHashes % _ == 0)
    val rOk = rs.find { r =>
      1.0 - math.pow(1.0 - math.pow(threshold, r), numHashes / r) >= 0.95
    }.orElse(rs.lastOption).getOrElse(numHashes)
    numHashes / rOk
  }

  /** MinHash + LSH banding near-dup pairs.
    *
    * Plan shape: per-doc signature (narrow) → explode `bands` band keys →
    * shuffle on (band, bandHash) via self-equi-join → distinct candidate
    * pairs → verify true Jaccard on the shingle sets.
    * Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold.
    *
    * `bands` defaults to 0 = auto: pick the fewest bands (widest rows-per-
    * band r, cheapest shuffle + fewest candidate pairs) whose band-collision
    * probability 1-(1-t^r)^b at t = threshold is still ≥ 0.95, so pairs at
    * the asked threshold are found, not just pairs well above it. A fixed
    * banding can silently put the S-curve knee ABOVE the caller's threshold
    * (e.g. b=16, r=4 → knee 0.5: at J = 0.3 per-pair recall is ~34%) —
    * false negatives no downstream exact-Jaccard verify can repair. r is
    * floored at 2: r=1 buckets every doc by each raw minhash value, which
    * degenerates toward all-pairs at corpus scale. Thresholds below ~0.3
    * (where even r=2 cannot reach 95% with 64 hashes) therefore get
    * best-effort recall — minhash LSH is the wrong tool that far down the
    * similarity range; use [[ngramJaccard]]'s exact posting-list join there.
    */
  def minHashLsh(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 0,
      shingleK: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // auto = divisor pairs (b = n/r) from widest r down to the r=2 floor
    // (recall(t) = 1-(1-t^r)^b at t = threshold, 95% target); no divisor
    // reaching it → smallest divisor >= 2 so banding stays valid for odd
    // numHashes; prime numHashes degenerates to one band — callers wanting
    // real banding should pass a composite hash count. See autoBands.
    val b0 = if (bands > 0) bands else autoBands(numHashes, threshold)
    require(numHashes % b0 == 0, "bands must divide numHashes")
    val r = numHashes / b0

    // Materialize the sketch table once (id, shingles, signature). Without
    // the persist, Catalyst's CollapseProject inlines the whole signature
    // expression into BOTH sides of the self-join and into every exploded
    // band — a 30x+ re-evaluation. At 100 TB this sketch table is the thing
    // you'd write to storage; locally MEMORY_AND_DISK is its analogue.
    // Tracked in OperatorCaches: callers release via releaseAll().
    val sketched = OperatorCaches.persistTracked(df.select(
        col(idCol).cast("long").as("id"),
        portableShingleHashes(col(textCol), shingleK).as("sh"))
      .select(col("id"), col("sh"), minHashSignaturePortable(col("sh"), numHashes).as("sig")))

    val banded = sketched.select(
      col("id"),
      explode(bandStructs(col("sig"), b0, r)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bh"))

    // candidate ids only through the band shuffle; shingle arrays join back
    // after dedup so large arrays never ride the skewed part of the plan
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    val shTbl = sketched.select(col("id"), col("sh"))
    pairs
      .join(shTbl.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shTbl.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", round(
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      // UNSORTED on purpose (like repeatedSpans): a trailing orderBy here
      // would range-shuffle the full pair set on every call, and the
      // composed consumers (fuzzyDedupClusters' CC rounds, CorpusIngest's
      // anti-join) re-shuffle immediately anyway. Callers needing
      // deterministic order (the catalog entries) sort the rows they keep.
      .select("id_a", "id_b", "jaccard")
  }

  /** Incremental NEAR-dup dedup: drop rows of `newDf` whose estimated
    * Jaccard against ANY base document reaches `threshold`, probing a
    * PRE-COMPUTED base sketch table ([[minHashSketchTable]] output —
    * (id, sig) only, no text) instead of the base corpus.
    *
    * The fuzzy counterpart of [[incrementalExactByDigest]], and the shape
    * that scales: at 100 TB the base side of every ingest is a persisted
    * 8·numHashes-bytes-per-doc signature table; base document text is
    * never rescanned (the probe side's schema makes that structural — it
    * has no text column to read). Banding is [[bandStructs]], shared with
    * [[minHashLsh]], so probes band exactly like the build job.
    *
    * Verification uses the SIGNATURE estimate (matching components /
    * numHashes ≥ threshold) — the true-Jaccard verify of minHashLsh needs
    * shingle sets, which a sketch-at-rest deliberately does not keep. The
    * estimate is unbiased with sd ≈ sqrt(t(1-t)/numHashes) (~6% at t=0.5,
    * numHashes=64); callers needing exact cuts re-verify survivors against
    * the flagged base docs only.
    *
    * Plan shape: sketch the batch (narrow) → explode band keys both sides
    * → equi-join on (band, bh) — candidate ids only through the shuffle →
    * distinct → join signatures back → component-match estimate →
    * left_anti. The base band/sig tables are batch-size-independent
    * reusable state.
    */
  def incrementalMinHash(
      newDf: DataFrame,
      baseSketches: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 0,
      shingleK: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val b0 = if (bands > 0) bands else autoBands(numHashes, threshold)
    require(numHashes % b0 == 0, "bands must divide numHashes")
    val r = numHashes / b0
    val newSk = OperatorCaches.persistTracked(
      minHashSketchTable(newDf, idCol, textCol, numHashes, shingleK))
    // the base side is consumed twice (band join + signature join): persist
    // so a computed sketch frame isn't sketched twice — for the production
    // parquet-backed table this just pins the (id, sig) columns once
    val baseSk = OperatorCaches.persistTracked(baseSketches)
    def banded(sk: DataFrame): DataFrame = sk.select(
      col("id"),
      explode(bandStructs(col("sig"), b0, r)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bh"))
    val cand = banded(newSk).as("n")
      .join(banded(baseSk).as("b"),
        col("n.band") === col("b.band") && col("n.bh") === col("b.bh"))
      .select(col("n.id").as("new_id"), col("b.id").as("base_id"))
      .dropDuplicates("new_id", "base_id")
    val matched = cand
      .join(newSk.select(col("id").as("new_id"), col("sig").as("sig_n")), Seq("new_id"))
      .join(baseSk.select(col("id").as("base_id"), col("sig").as("sig_b")),
        Seq("base_id"))
      .withColumn("est", aggregate(
          zip_with(col("sig_n"), col("sig_b"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / numHashes)
      .filter(col("est") >= threshold)
      .select(col("new_id").as("__graft_dup_id")).distinct()
    newDf.join(matched,
      newDf(idCol).cast("long") === col("__graft_dup_id"), "left_anti")
  }

  /** Reference per-row formulation of the 64-bit SimHash of the token
    * stream, packed into a long: per-token [[PortableHash.portable64]]
    * votes +1/-1 on each bit position; the sign of the per-bit sum is the
    * fingerprint bit. An interpreted HOF fold that allocates a 64-long
    * vote array per token — the lockstep oracle for [[simHashSketch]],
    * never the hot path.
    */
  private[graft] def simHashHof(text: Column): Column = {
    val hs = transform(toks(text), t => PortableHash.portable64(t))
    val votes = aggregate(
      hs,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, bitVotes(h), (a, v) => a + v))
    // pack with shift+or (no ANSI overflow on the sign bit, unlike acc*2+b)
    aggregate(votes, lit(0L),
      (acc, v) => shiftleft(acc, 1).bitwiseOR(when(v > 0, 1L).otherwise(0L)))
  }

  /** +1/-1 vote per bit of a 64-bit hash (bit 63 first, so the packing fold
    * reconstructs bits in order).
    */
  private def bitVotes(h: Column): Column =
    array((63 to 0 by -1).map(b =>
      when(shiftrightunsigned(h, b).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))): _*)

  /** Bulk SimHash sketch (id, sh) — bit-identical to [[simHashHof]] but built
    * as explode(token hashes) → 64 codegen'd bit-count SUMs → repack,
    * instead of the per-row higher-order-function fold. The HOF path
    * allocates a 64-long vote array per TOKEN and runs interpreted
    * (lambda-bearing expressions are excluded from whole-stage codegen);
    * the aggregate path keeps the whole sketch inside one hash-aggregate
    * stage with map-side partial sums, so at scale it is a narrow
    * explode + one shuffle of 65 longs per document. Equivalence: bit b is
    * set iff Σ votes > 0 iff 2·(count of set bit b) > n_tokens. Docs whose
    * token array is null produce no row here (vs a null sh from simHashHof) —
    * indistinguishable downstream, since null never equi-joins.
    */
  private[operators] def simHashSketch(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = df.select(col(idCol).cast("long").as("id"),
      explode(transform(toks(col(textCol)), t => PortableHash.portable64(t))).as("h"))
    val bitSums = (63 to 0 by -1).map(b =>
      sum(shiftrightunsigned(col("h"), b).bitwiseAND(lit(1L))).as(s"s$b"))
    val counted = tokens.groupBy("id")
      .agg(count(col("h")).as("n"), bitSums: _*)
    val sh = (63 to 0 by -1).foldLeft(lit(0L)) { (acc, b) =>
      shiftleft(acc, 1).bitwiseOR(
        when(col(s"s$b") * 2 > col("n"), 1L).otherwise(0L))
    }
    counted.select(col("id"), sh.as("sh"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming — complete:
    * the block count is DERIVED as maxHamming+1, so by pigeonhole every
    * qualifying pair agrees exactly on ≥1 block and is found by the
    * per-block equi-join (no cartesian). Verification is bit_count(a XOR b).
    * Larger maxHamming ⇒ narrower blocks ⇒ more candidates — the honest
    * cost of a wider guarantee.
    */
  def simHashPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3): DataFrame =
    hammingPairs(simHashSketch(df, idCol, textCol), maxHamming)

  /** Pigeonhole-banded hamming pairs over ANY 64-bit sketch column — the
    * pair machinery behind [[simHashPairs]], reusable for every 64-bit
    * perceptual/content sketch (text SimHash, image dHash, …). Input:
    * (id: long, sh: long); output: (id_a, id_b, hamming ≤ maxHamming).
    * EXACT for the sketch (pigeonhole recall is a guarantee, not a
    * probability): any pair within maxHamming agrees on ≥1 of the
    * maxHamming+1 blocks, and the final bit_count filter verifies the
    * true distance — banding affects cost only, never results.
    *
    * HOT-KEY GUARD: banding runs over DISTINCT sketch VALUES, not ids.
    * Pigeonhole banding bounds candidates only while sketches are diverse;
    * a constant sketch (all-black images → dHash 0, silence → RMS hash 0)
    * puts every id in the same (chunk, cv) bucket of every chunk, and the
    * id-level self-join was n²·(maxHamming+1) candidate rows plus a
    * dropDuplicates shuffle of all of them. Value-level banding makes the
    * banded join cost a function of sketch DIVERSITY: identical-sketch
    * groups never enter it (they pair by a direct equality join — pure
    * output, hamming 0 by definition, no chunk amplification, no dedup
    * pass), and cross-value pairs expand to id pairs only after the
    * distance filter already passed. The output contract is unchanged —
    * every qualifying id pair, exactly once.
    *
    * BLOCKS ARE BIT-STRIDED, not contiguous (round 9). A bit-position
    * permutation preserves hamming distance, so the pigeonhole guarantee
    * is banding-layout-independent — but candidate volume is not: a
    * bucket's population is 2^(-effective entropy of its block's bits), and
    * real sketch domains concentrate low entropy in CONTIGUOUS regions.
    * Two live examples: the portable 60-bit md5 sketches (bits 60–63
    * constant — a contiguous top block at maxHamming = 6 keeps only ~5
    * effective bits, ~n²/64 candidates on that block alone), and image
    * dHashes, whose neighboring bits are spatially correlated gradient
    * signs (smooth crawled images depress contiguous-block entropy the
    * same way). Block i therefore takes positions {i, i+B, i+2B, …}
    * (B = maxHamming+1 blocks): any ≤B-wide dead or correlated REGION
    * costs every block at most one bit instead of costing one block the
    * whole region. Pure cost change; results are bit-identical.
    */
  def hammingPairs(
      sketch: DataFrame,
      maxHamming: Int = 3,
      maxExpectedCandidates: Double = Double.MaxValue): DataFrame = {
    val chunks = math.min(maxHamming + 1, 64)
    // opt-in pre-flight gate (the wide-radius twin of cosineNearDupPairs'
    // expectedAutoCandidatePairs ceiling): when a ceiling is set, spend
    // one cheap aggregation over distinct sketch values BEFORE launching
    // a join whose candidate volume grows as ~(maxHamming+1)·n²/2^(64/
    // (maxHamming+1)). Default MaxValue keeps construction lazy and
    // behavior unchanged for every existing caller.
    if (maxExpectedCandidates < Double.MaxValue) {
      val est = expectedHammingCandidates(sketch, maxHamming)
      require(est <= maxExpectedCandidates,
        f"hammingPairs at maxHamming=$maxHamming would generate ~$est%.3g banded " +
          f"candidate pairs (ceiling $maxExpectedCandidates%.3g): " +
          s"${chunks} blocks of ~${64 / chunks} bits are bucket-quadratic at this " +
          "radius/corpus. Lower maxHamming (production 64-bit sketches run r<=3), " +
          "pre-reduce identical/ubiquitous sketches, or raise the ceiling — " +
          "expectedHammingCandidates reproduces this estimate in milliseconds.")
    }
    // persist: consumed by the equality join and both expansion joins —
    // without this the sketch expression computes once per consumer
    val sketched = OperatorCaches.persistTracked(sketch)
    // distinct sketch values; persisted because the banded frame self-joins
    val values = OperatorCaches.persistTracked(sketched.select(col("sh")).distinct())
    val banded = bandedValues(values, chunks)

    // DIRECTED distinct-value pairs within distance (both (x,y) and (y,x)
    // survive): an unordered id pair (i < j) expands through exactly the
    // (sh_i, sh_j) direction, so no id-level dedup is ever needed
    val valuePairs = banded.as("a").join(banded.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
          col("a.sh") =!= col("b.sh"))
      .select(col("a.sh").as("sh_a"), col("b.sh").as("sh_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("int").as("hamming"))
      // filter BEFORE dedup: the distance cut is a narrow per-row predicate
      // on the join output, the dedup is a shuffle — at wide radii the
      // blocks are short (maxHamming+1 blocks of 64/(maxHamming+1) bits),
      // candidate volume is bucket-quadratic, and deduping candidates
      // before cutting them shuffles the whole candidate stream (Catalyst
      // cannot push a predicate on an aggregate output through the
      // dedup). Result-identical: duplicates of a qualifying pair all
      // qualify, non-qualifying candidates never reach the dedup.
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("sh_a", "sh_b")

    // identical-sketch pairs: hamming 0 by definition — a direct equality
    // join whose output IS the result (no banding, no verify, no dedup)
    val equal = sketched.as("x").join(sketched.as("y"),
        col("x.sh") === col("y.sh") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(0).cast("int").as("hamming"))

    // cross-value pairs: expand the already-filtered value pairs to ids
    val cross = sketched.as("x")
      .join(valuePairs, col("x.sh") === col("sh_a"))
      .join(sketched.as("y"), col("y.sh") === col("sh_b") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"), col("hamming"))

    // UNSORTED on purpose — see minHashLsh; catalog entries sort
    equal.unionByName(cross)
  }

  /** The strided pigeonhole banding shared by [[hammingPairs]] and
    * [[expectedHammingCandidates]]: one row per (distinct sketch value,
    * block) with the block's gathered bits as `cv`. Block i gathers
    * positions {i, i+chunks, i+2·chunks, …} LSB-first — a fixed bit
    * permutation, so hamming structure (and the pigeonhole recall
    * guarantee) is untouched while any contiguous low-entropy bit region
    * is spread one-bit-per-block. ~64 shift/and/or ops per value, on
    * DISTINCT values only, inside whole-stage codegen.
    */
  private def bandedValues(values: DataFrame, chunks: Int): DataFrame =
    values.select(
      col("sh"),
      explode(array((0 until chunks).map { i =>
        val cv = (i until 64 by chunks).zipWithIndex.map { case (pos, j) =>
          shiftleft(shiftrightunsigned(col("sh"), pos).bitwiseAND(lit(1L)), j)
        }.reduce(_ bitwiseOR _)
        struct(lit(i).as("chunk"), cv.as("cv"))
      }: _*))
        .as("ck"))
      .select(col("sh"), col("ck.chunk"), col("ck.cv"))

  /** Keeper-policy companion to [[fuzzyDedupClusters]]: production dedup
    * keeps each duplicate group's BEST member (longest, highest quality
    * score, freshest crawl), not its smallest id. `clusters` = (id,
    * component) from any clustering here; `quality` = (id, q). Keeper =
    * argmax (q, then smallest id) per component — deterministic, so the
    * choice replays in an oracle whatever the quality signal is, as long
    * as the signal itself is deterministic.
    *
    * Scale shape: one (id-keyed) equi-join, one per-component argmax over
    * two longs (components ≪ corpus; pack into one long as
    * Similarity.packedScore does if a pathological corpus ever makes this
    * aggregate hot), one broadcast-size join back on component.
    */
  def keepBest(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val j = clusters.select(col("id"), col("component"))
      .join(quality.select(col("id"), col("q")), Seq("id"))
    val keeper = j.groupBy("component")
      .agg(max(struct(col("q"), (-col("id")).as("nid"))).as("b"))
      .select(col("component"), (-col("b.nid")).as("keeper"))
    j.join(keeper, Seq("component"))
      .select(col("id"), col("component"),
        (col("id") === col("keeper")).as("keep"))
  }

  /** Repetition-aware sampling weights — the SOFT alternative to keeping
    * one member per dup cluster ([[keepBest]]): every document stays in
    * the corpus with weight 1/|its near-dup cluster|, so a page crawled
    * 400 times contributes ONE document's worth of expected training
    * mass instead of 400 (the "keep all, downweight" policy discussed in
    * the SemDeDup/data-ablation literature — preserves within-cluster
    * variation that hard dedup throws away, while removing the frequency
    * bias). Composes with any clustering here (minhash, SimHash, n-gram,
    * embedding) and feeds [[Sampling.weightedSample]] /
    * [[Sampling.budgetSelect]] directly.
    *
    * One per-component count (components ≪ corpus after partial
    * aggregation) joined back — no window over the full corpus. Weight
    * is round(1.0/size, 6): the IEEE division is identical in any
    * engine, the 6-dp grid is the repo's standard float boundary.
    */
  def clusterWeights(clusters: DataFrame): DataFrame = {
    val sz = clusters.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    clusters.select(col("id"), col("component"))
      .join(sz, Seq("component"))
      .select(col("id"), col("component"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"))
  }

  /** Bloom-filter decontamination — the [[decontaminate]] shape for when
    * the BENCHMARK gram set itself is too large to broadcast: the filter
    * state is `2^bitsLog2` BITS regardless of benchmark size (size m for
    * ~10 bits per expected benchmark gram — the classic regime keeping
    * per-gram FPR ~1e-4 at k = 3), expressed
    * relationally as the distinct SET-POSITION table (≤ 2^bitsLog2 rows of
    * one int — a bounded broadcast however many grams fed it). A corpus
    * gram is flagged iff ALL `numHashes` of its positions are set — the
    * classic Bloom membership test as an all-rows-joined count, so false
    * positives arise exactly as in a bit-array Bloom (every position set
    * by OTHER grams) and at the classic rate (1 − e^{−kn/m})^k.
    * Guaranteed superset of [[decontaminate]]'s exact flags (no false
    * negatives — same grams, total position functions); measure the FP
    * margin against the exact operator where feasible (the fixture entry
    * q_decontaminate_bloom_fpr does, oracled).
    *
    * Positions derive from the PORTABLE gram hash ((h mod p_i) mod m,
    * distinct primes p_i ≫ m), so an independent engine replays the whole
    * filter — build, probe, and verdicts — exactly.
    *
    * Plan shape: benchmark side two narrow passes + a ≤ m-row distinct;
    * corpus side scan → explode → broadcast-semi on position → two
    * partial-agg shuffles keyed (id, g) then id. The corpus never
    * shuffles text, grams, or anything wider than (8-byte id, 8-byte
    * gram hash).
    */
  def decontaminateBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 5,
      minHits: Int = 1,
      bitsLog2: Int = 20,
      numHashes: Int = 3): DataFrame = {
    require(bitsLog2 >= 8 && bitsLog2 <= 30, "bitsLog2 in [8, 30]")
    val m = 1L << bitsLog2
    val primes = Seq(1000003L, 1000033L, 1000037L, 1000039L, 1000081L, 1000099L)
    require(numHashes >= 1 && numHashes <= primes.size,
      s"numHashes in [1, ${primes.size}]")
    def gramHashes(text: Column): Column =
      array_distinct(transform(shingles(text, n), g => PortableHash.portable60(g)))
    def positions(g: Column): Column =
      array(primes.take(numHashes).map(p => (g % lit(p)) % lit(m)): _*)
    val setBits = benchmark
      .select(explode(gramHashes(col(textCol))).as("g"))
      .select(explode(positions(col("g"))).as("pos"))
      .distinct()
    corpus
      .select(col(idCol).cast("long").as("id"),
        explode(gramHashes(col(textCol))).as("g"))
      .select(col("id"), col("g"),
        explode(positions(col("g"))).as("pos"))
      .join(broadcast(setBits), Seq("pos"), "left_semi")
      .groupBy("id", "g").agg(count(lit(1)).as("k_set"))
      // a duplicate position (p_i tie) contributes its row count either
      // way, so == numHashes still means "every position row joined"
      .filter(col("k_set") === numHashes)
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** Pre-flight cost diagnostic for [[hammingPairs]] — the banded join's
    * candidate-row count (directed distinct-VALUE pairs before the
    * distance filter), computed from bucket occupancies in one cheap
    * aggregation over distinct sketch values: Σ_{(chunk,cv)} n·(n−1).
    * The twin of [[graft.operators.Similarity]]'s
    * `expectedAutoCandidatePairs`: radius drives block width
    * (64/(maxHamming+1) bits) and thus candidates exponentially, so a
    * wide-radius run over a large diverse corpus should be estimated —
    * milliseconds, one scan of distinct values — before being launched.
    * Identical-sketch groups are excluded exactly as the join excludes
    * them (they pair through the linear equality path, never the banding).
    */
  def expectedHammingCandidates(sketch: DataFrame, maxHamming: Int = 3): Long = {
    val chunks = math.min(maxHamming + 1, 64)
    val values = sketch.select(col("sh")).distinct()
    bandedValues(values, chunks)
      .groupBy(col("chunk"), col("cv")).count()
      .agg(coalesce(sum(col("count") * (col("count") - 1)), lit(0L)))
      .head().getLong(0)
  }

  /** Connected components over near-duplicate pairs → dedup clusters, so a
    * corpus keeps ONE representative per transitive duplicate group (the
    * step after any pairwise method: pairs alone under-delete when dups
    * chain A~B~C without A~C). Input (id_a, id_b) pairs; output (id,
    * component = min id reachable) for every id in a pair.
    *
    * The pair table is cut once ([[Lineage.cut]]). Min-label propagation
    * ([[minLabelComponents]]: one round per hop to the component's min,
    * plus one that sees the fixpoint) runs on it for at most
    * [[ProbeRounds]] rounds; only if those have not converged does
    * large-star/small-star contraction ([[starComponents]]: O(log n)
    * rounds whatever the diameter, each round costlier) run on the same
    * cut table. Measured at sf0.1 (4 cores, noop sink over a persisted
    * pair table, median of 6): on [[minHashLsh]]'s near-clique pairs (256,
    * every node 1 hop from its min) min-label took 906 ms and star
    * 1,457 ms; on q_dedup_clusters_maxdf's chain-like pairs (5,201, up to
    * 14 hops, 15 rounds) min-label took 4,490 ms and star 3,391 ms.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // materialize the (possibly expensive) pair source ONCE: each loop
    // reads it more than once, and without the cut the upstream plan (e.g.
    // a full minhash-LSH) executes per reference, and again after a switch
    val cutPairs = Lineage.cut(pairs.select(
      col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b")))
    minLabelComponents(cutPairs, ProbeRounds).getOrElse(starComponents(cutPairs))
  }

  /** Min-label rounds before the switch to star: 3 label every node
    * within two hops of its min and see the fixpoint. At sf0.01 and sf0.1
    * the catalog's pair sets need 2 (q_entity_clusters' 3), except
    * q_dedup_clusters_maxdf's at sf0.1 (15).
    */
  private val ProbeRounds = 3

  /** Round cap of [[starComponents]]: a graph that has not contracted to
    * stars by then fails loudly, never with unconverged labels
    * (q_dedup_clusters_maxdf's sf0.1 pairs converge in 5).
    */
  private val StarRounds = 20

  /** Min-label propagation over (id_a, id_b) long pairs:
    * comp(v) ← min(comp(v), min comp over N(v)), for at most `rounds`
    * rounds. Returns the (id, component) labels at the fixpoint, or None
    * when `rounds` rounds have not reached it.
    *
    * Convergence is detected with one aggregate per round, no join: every
    * label is monotonically non-increasing, so sum(component) strictly
    * decreases until the fixpoint (summed as decimal(38,0) — no wrap).
    */
  private[operators] def minLabelComponents(
      pairs: DataFrame, rounds: Int): Option[DataFrame] = {
    import org.apache.spark.storage.StorageLevel
    val src = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    // undirected, deduplicated edge list (8-byte endpoints only)
    val edges = src
      .union(src.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // labels lineage is cut per round: round k's plan would otherwise
    // embed rounds 0..k-1 and Catalyst re-analysis would dominate — see
    // starComponents for the measurement
    var labels = Lineage.cutLazy(edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
      .withColumn("component", col("id")))
    // coalesce: sum over an EMPTY label set is null (no edges at all, e.g.
    // a dup-free ingest micro-batch) and must read as converged, not NPE
    def labelSum(df: DataFrame): java.math.BigDecimal = df
      .agg(coalesce(sum(col("component").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("s"))
      .head().getDecimal(0)
    var prevSum = labelSum(labels)

    var converged = prevSum.signum == 0 && labels.isEmpty
    var iter = 0
    while (!converged && iter < rounds) {
      val viaNbr = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min("component").as("nbr_min"))
      // LAZY cut: the labelSum convergence aggregate right below is the
      // materializing action, so the round's join+min compute, the
      // checkpoint block write, and the sum scan share one job instead of
      // two (guide §1.2; same blocks, same truncated plan)
      val next = Lineage.cutLazy(labels.join(viaNbr, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component")))
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      // superseded checkpoints are dropped by the ContextCleaner — ONLY
      // under spark.cleaner.referenceTracking.cleanCheckpoints=true
      // (default false; GraftSession pins it on)
      labels = next
      iter += 1
    }
    // labels are materialized checkpoint blocks; the edge cache can go now
    edges.unpersist(blocking = false)
    Option.when(converged)(labels)
  }

  /** Connected components via alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) over (id_a, id_b) long pairs — O(log n) rounds regardless of
    * component diameter. Output (id, component = min id reachable); fails
    * when [[StarRounds]] rounds have not reached the fixpoint.
    *
    * Each round is two grouped-min shuffles over an edge list that only
    * ever holds 8-byte endpoint pairs — no adjacency materialization, no
    * driver-side graph. Convergence = edge-set fixpoint (the edges form
    * stars around component minima), checked by comparing a
    * (count, Σ xxhash64(lo,hi)) fingerprint across rounds: one aggregate
    * over the already-materialized checkpoint instead of two anti-join
    * shuffles per round (the edge list is distinct by construction, so
    * multiset equality is set equality; a false match needs a 64-bit
    * hash-sum collision — the same risk class as the shingle hashing).
    */
  private[operators] def starComponents(pairs: DataFrame): DataFrame = {
    // canonical undirected edges (lo < hi), self-loops dropped
    def canon(df: DataFrame): DataFrame = df
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()

    val src = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val nodes = src.select(col("src").as("id"))
      .union(src.select(col("dst").as("id")))
      .distinct()
    // Lineage MUST be cut per round: each round's plan embeds the previous
    // round's, so without a cut Catalyst re-analyzes an exponentially
    // growing tree and planning time dwarfs execution (measured: round 2
    // already 20 s on a 10-node chain). The cut materializes partitions
    // and replaces the plan with a LogicalRDD (reliable checkpoint when
    // the session has a checkpoint dir). Lazy here — fingerprint(edges)
    // below is the materializing action.
    var edges = Lineage.cutLazy(canon(src))

    def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("lo"), col("hi")).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    var prevFp = fingerprint(edges)
    var converged = prevFp._1 == 0L
    var iter = 0
    // lag-adaptive parallelism: star contraction shrinks the edge set
    // geometrically, and the fingerprint already counts it — size the NEXT
    // round's materialized partitions from this round's count (~1M edges
    // per partition) instead of scheduling full-width near-empty tasks
    // every round. coalesce() is narrow, so no extra shuffle; AQE can't do
    // this across rounds because the checkpoint pins the partitioning.
    def partsFor(edgeCount: Long): Int =
      math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
        edgeCount / 1000000L + 1L)).toInt
    lazy val spark = pairs.sparkSession
    while (!converged && iter < StarRounds) {
      // large-star(u): m = min(N(u) ∪ {u}); link every LARGER neighbor to m
      val adj = edges.select(col("lo").as("u"), col("hi").as("v"))
        .union(edges.select(col("hi").as("u"), col("lo").as("v")))
      val mins = adj.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = canon(adj.join(mins, Seq("u")).filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst")))
      // small-star(u): m = min of the strictly-smaller neighborhood;
      // link u and every smaller neighbor to m
      val adj2 = ls.select(col("hi").as("u"), col("lo").as("v")) // v < u by canon
      val mins2 = adj2.groupBy("u").agg(min("v").as("m"))
      // LAZY cut: the fingerprint aggregate right below materializes the
      // round — compute, checkpoint write, and fingerprint scan in one job
      // instead of two (guide §1.2)
      val ss = Lineage.cutLazy(canon(
        adj2.join(mins2, Seq("u"))
          .select(col("v").as("src"), col("m").as("dst"))
          .union(mins2.select(col("u").as("src"), col("m").as("dst"))))
        .coalesce(partsFor(prevFp._1)))
      val fp = fingerprint(ss)
      converged = fp == prevFp
      prevFp = fp
      // superseded checkpoint blocks are dropped by the ContextCleaner —
      // ONLY under spark.cleaner.referenceTracking.cleanCheckpoints=true
      // (default false; GraftSession pins it on)
      edges = ss
      iter += 1
    }
    require(converged,
      s"starComponents did not reach a fixpoint within $StarRounds rounds")
    // fixpoint is a forest of stars centered on each component's min id
    nodes
      .join(edges.select(col("hi").as("id"), col("lo").as("component"))
        .groupBy("id").agg(min("component").as("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** End-to-end fuzzy dedup: minhash-LSH pairs → [[connectedComponents]]
    * (min-label on near-clique dup groups, star contraction when the probe
    * rounds see chains) → per-cluster representative (min id). Returns
    * (id, component, keep).
    * Output is UNSORTED — a determinism orderBy here would be a global
    * range shuffle over a corpus-cardinality table on every call (one row
    * per document); the catalog entries the oracle compares row-by-row add
    * their own ordering, same policy as [[minHashLsh]]/[[simHashPairs]].
    */
  def fuzzyDedupClusters(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.5): DataFrame = {
    val pairs = minHashLsh(df, idCol, textCol, threshold = threshold)
    // iterate ONLY over nodes that have edges (dup-group members — usually
    // a small fraction of the corpus); the singleton majority joins back
    // afterwards as its own component, so no per-round shuffle carries it
    val comps = connectedComponents(pairs)
    df.select(col(idCol).cast("long").as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      .withColumn("keep", col("id") === col("component"))
  }

  /** Benchmark decontamination: flag corpus documents sharing ≥ minHits
    * distinct word n-grams with any benchmark/eval document — the standard
    * n-gram-overlap test-set-leak check run before training. Returns
    * (id, n_hits) for contaminated docs only.
    *
    * Plan shape: benchmark n-gram set (distinct, hashed to 8-byte keys) is
    * BROADCAST — eval suites are tiny next to a 100 TB corpus, so the check
    * is a narrow map-side semi-join over the corpus scan: no shuffle
    * touches corpus text, and the only exchange is the final per-doc count
    * (which carries only ids of matching docs).
    */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 5,
      minHits: Int = 1): DataFrame = {
    def grams(df: DataFrame, cols: Column*): DataFrame =
      df.select(cols :+ explode(hashedShingles(col(textCol), n)).as("g"): _*)
    val benchGrams = grams(benchmark).distinct()
    // corpus grams are already distinct PER DOC (shingles() dedups within
    // the array), so (id, g) needs no distinct — the whole corpus side
    // stays shuffle-free: scan → explode → broadcast-semi → partial count
    grams(corpus, col(idCol).cast("long").as("id"))
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .groupBy("id")
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** Exact n-gram Jaccard similarity ≥ threshold via a PREFIX-FILTERED
    * inverted-index join (All-Pairs / PPJoin family, Bayardo et al.
    * WWW'07): two docs with J ≥ t must share a shingle within their
    * rare-first prefixes of length ⌈sz − t·sz⌉ + 1 — if the prefixes were
    * disjoint, the leftover suffixes are too short to reach the required
    * overlap t·max(|A|,|B|). So only prefix shingles become join keys:
    * at threshold 0.6 that is ~40% of the posting list, and because
    * prefixes keep the RAREST shingles, the quadratic per-key pair blowup
    * concentrates on keys with the shortest posting lists — this, not the
    * posting-list size, is what makes the self-join survive a 100× corpus.
    * A size-ratio guard (t·sz_b ≤ sz_a) prunes candidates whose length
    * difference alone rules out J ≥ t. Verification computes the EXACT
    * intersection from the full shingle arrays, so the prefix/ratio
    * filters affect cost only, never results.
    *
    * Shingles ride as 8-byte xxhash64 values end-to-end (64-bit collisions
    * are negligible for |∩|). `maxDf` is the low-threshold scale lever
    * (off by default): shingles whose document frequency exceeds it are
    * REMOVED FROM THE SHINGLE SETS before similarity is computed —
    * ubiquitous-gram removal, the shingle analog of stopwording. Jaccard
    * is then exact over the REDUCED sets: deterministic, order-free, and
    * independently replayable by an oracle engine (unlike gating only
    * candidacy, whose misses depend on the prefix tiebreak order). At
    * t = 0.15 the prefix keeps ~85% of each posting list and candidate
    * volume is Σ df², dominated by the df head — cutting the head is the
    * lever BENCH_SF10.md note 2 names for the candidate-bound regime.
    */
  def ngramJaccard(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      threshold: Double = 0.6,
      maxDf: Int = Int.MaxValue): DataFrame = {
    val sh0 = df.select(col(idCol).cast("long").as("id"),
        hashedShingles(col(textCol), k).as("sh"))
      .withColumn("sz", size(col("sh")))
    // (sh, posting-with-df): default path explodes once and counts df from
    // the posting; the maxDf path counts df first, drops ubiquitous grams,
    // and REBUILDS the per-doc arrays (one extra shuffle — the escape
    // hatch pays for itself only when the df head is the cost driver).
    // Either way `sz` is the size of the set similarity runs over, so the
    // prefix-length math below follows the All-Pairs theorem unchanged.
    val (sh, withDf) =
      if (maxDf == Int.MaxValue) {
        val s = OperatorCaches.persistTracked(sh0)
        val posting = s.select(col("id"), col("sz"), explode(col("sh")).as("s"))
        val gramDf = posting.groupBy("s").agg(count(lit(1)).as("df"))
        (s, posting.join(gramDf, Seq("s")))
      } else {
        val p0 = sh0.select(col("id"), explode(col("sh")).as("s"))
        val gramDf = p0.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf)
        val kept = OperatorCaches.persistTracked(
          p0.join(gramDf, Seq("s"))
            .groupBy("id").agg(collect_list(col("s")).as("sh"))
            .withColumn("sz", size(col("sh"))))
        // a kept gram's df is unchanged by dropping OTHER grams, so the
        // pre-filter counts still rank the filtered posting correctly
        (kept, kept.select(col("id"), col("sz"), explode(col("sh")).as("s"))
          .join(gramDf, Seq("s")))
      }
    // rare-first consistent total order (df, then hash value as tiebreak);
    // prefix length ⌈sz·(1−t)⌉ + 1, clamped to sz. posexplode keeps each
    // prefix gram's 0-based position in the FULL ranked list (the slice
    // starts at 1), which the position filter below needs
    val prefix = OperatorCaches.persistTracked(withDf
      .groupBy("id").agg(first("sz").as("sz"),
        sort_array(collect_list(struct(col("df"), col("s")))).as("ranked"))
      .select(col("id"), col("sz"),
        posexplode(slice(col("ranked"), lit(1),
          least(ceil(col("sz") * lit(1.0 - threshold)).cast("int") + 1, col("sz")))))
      .select(col("id"), col("sz"), col("pos"), col("col.s").as("s")))
    // POSITION filter (PPJoin's second prune): J ≥ t needs overlap
    // α = t/(1+t)·(sz_a+sz_b). Both shingle lists are sorted by the SAME
    // global (df, hash) order, so a pair's first common gram minimizes
    // both positions and 1 + min(remaining-after-i, remaining-after-j) is
    // a valid overlap upper bound — aggregated as max over the pair's
    // shared prefix occurrences, which IS the first-occurrence bound.
    // Prunes pairs that only share deep-tail grams before their shingle
    // arrays ever travel to verification; cost-only, never results (the
    // 1e-9 slack keeps the integer-vs-real comparison conservative).
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          // size-ratio guard, both directions (either side may be larger)
          col("a.sz") >= lit(threshold) * col("b.sz") &&
          col("b.sz") >= lit(threshold) * col("a.sz"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"),
        (lit(1) + least(col("a.sz") - col("a.pos") - 1,
          col("b.sz") - col("b.pos") - 1)).as("ub"))
      .groupBy("id_a", "id_b").agg(
        max(col("ub")).as("ub"),
        first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"))
      .filter(col("ub") >=
        lit(threshold / (1.0 + threshold)) * (col("sz_a") + col("sz_b")) - lit(1e-9))
      .select(col("id_a"), col("id_b"))
    val shTbl = sh.select(col("id"), col("sh"), col("sz"))
    cand
      .join(shTbl.select(col("id").as("id_a"), col("sh").as("sh_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(shTbl.select(col("id").as("id_b"), col("sh").as("sh_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", round(
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      // UNSORTED on purpose — see minHashLsh; catalog entries sort
      .select("id_a", "id_b", "jaccard")
  }

  /** Asymmetric CONTAINMENT near-dup pairs: C(small ⊆ big) =
    * |sh(small) ∩ sh(big)| / |sh(small)| over distinct k-shingles — the
    * subset-detection complement of [[ngramJaccard]]. Jaccard misses a
    * short document quoted whole inside a long one (the union term drowns
    * the overlap); containment is exactly the "aggregator page contains
    * the article" / "reply quotes the post" shape a crawl corpus is full
    * of. Emits (id_small, id_big, containment ≥ threshold); ties in size
    * orient by id.
    *
    * Candidate generation is a LOSSLESS small-side prefix filter: if
    * |A∩B| ≥ t·|A| then any ⌊(1−t)·|A|⌋+1 shingles of A must hit B, so
    * only that many grams of A (rare-first ranked, so the join hits the
    * shortest posting lists) join against the full posting index — the
    * containment variant of the All-Pairs prefix theorem. Because the
    * filter is lossless the result set equals brute force, which is what
    * the DuckDB oracle computes. `maxDf` applies [[ngramJaccard]]'s
    * deterministic ubiquitous-shingle removal first (containment is then
    * exact over the reduced sets) — at corpus scale the full-posting side
    * of the join is df-headed, and cutting the head is the same lever.
    *
    * Shuffles carry (gram-hash, id, sz) postings and candidate id pairs;
    * shingle arrays travel only to verification, once per candidate.
    *
    * LOW-THRESHOLD GUARD: candidate volume is Σ_g prefix_df(g)·df(g), and
    * at t ≲ 0.3 the prefix keeps most of each ranked list, so the join
    * degenerates toward the df-headed all-pairs regime (measured ~80–105 s
    * at ×100 on the fixture corpus — two orders above its family). An
    * opt-in `maxExpectedCandidates` ceiling spends one aggregation over
    * the already-built posting/prefix df stats BEFORE the pair join and
    * fails with a sized diagnosis naming the levers (raise `threshold`,
    * set `maxDf`, or raise the ceiling) instead of burning the quadratic
    * join. Default MaxValue keeps every existing caller unchanged;
    * [[expectedContainmentCandidates]] reproduces the estimate standalone.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      threshold: Double = 0.7,
      maxDf: Int = Int.MaxValue,
      maxExpectedCandidates: Double = Double.MaxValue): DataFrame = {
    val (sh, posting, prefix) =
      containmentIndex(df, idCol, textCol, k, threshold, maxDf)
    if (maxExpectedCandidates < Double.MaxValue) {
      val est = containmentCandidateEstimate(posting, prefix)
      require(est <= maxExpectedCandidates,
        f"containmentPairs at threshold=$threshold would generate ~$est%.3g " +
          f"prefix×posting candidate rows (ceiling $maxExpectedCandidates%.3g): " +
          "low thresholds keep most of each ranked prefix and the join goes " +
          "df-head-quadratic. Raise threshold, set maxDf to drop ubiquitous " +
          s"grams (current ${if (maxDf == Int.MaxValue) "off" else maxDf.toString}), " +
          "or raise the ceiling — expectedContainmentCandidates reproduces " +
          "this estimate without running the pair join.")
    }
    // position prune (PPJoin's second filter, containment form): needed
    // overlap is t·sz_small; the pair's first common gram minimizes both
    // positions in the SHARED global (df, hash) order, so the max over
    // shared occurrences of 1 + min(remaining) upper-bounds |∩| — pairs
    // that only share deep-tail grams die before their arrays travel
    val cand = prefix.as("a").join(posting.as("b"),
        col("a.s") === col("b.s") &&
          (col("a.sz") < col("b.sz") ||
            (col("a.sz") === col("b.sz") && col("a.id") < col("b.id"))))
      .select(col("a.id").as("id_small"), col("b.id").as("id_big"),
        col("a.sz").as("sz_s"),
        (lit(1) + least(col("a.sz") - col("a.pos") - 1,
          col("b.sz") - col("b.pos") - 1)).as("ub"))
      .groupBy("id_small", "id_big")
      .agg(max(col("ub")).as("ub"), first(col("sz_s")).as("sz_s"))
      .filter(col("ub") >= lit(threshold) * col("sz_s") - lit(1e-9))
      .select("id_small", "id_big")
    val shTbl = sh.select(col("id"), col("sh"), col("sz"))
    cand
      .join(shTbl.select(col("id").as("id_small"), col("sh").as("sh_s"),
        col("sz").as("sz_s")), Seq("id_small"))
      .join(shTbl.select(col("id").as("id_big"), col("sh").as("sh_b")),
        Seq("id_big"))
      .withColumn("containment", round(
        size(array_intersect(col("sh_s"), col("sh_b"))).cast("double") /
          col("sz_s"), 4))
      .filter(col("containment") >= threshold)
      // UNSORTED on purpose — see minHashLsh; catalog entries sort
      .select("id_small", "id_big", "containment")
  }

  /** The shingle/posting/prefix construction shared by [[containmentPairs]]
    * and [[expectedContainmentCandidates]]: (per-doc shingle table,
    * rare-first positional posting, probe-side prefix). Splitting it out
    * keeps the estimator honest — it prices the SAME index the pair join
    * would consume, maxDf reduction included.
    */
  private def containmentIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      threshold: Double,
      maxDf: Int): (DataFrame, DataFrame, DataFrame) = {
    val sh0 = df.select(col(idCol).cast("long").as("id"),
        hashedShingles(col(textCol), k).as("sh"))
      .withColumn("sz", size(col("sh")))
    val sh =
      if (maxDf == Int.MaxValue) OperatorCaches.persistTracked(sh0)
      else {
        val p0 = sh0.select(col("id"), explode(col("sh")).as("s"))
        val keptGrams = p0.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select("s")
        OperatorCaches.persistTracked(
          p0.join(keptGrams, Seq("s"))
            .groupBy("id").agg(collect_list(col("s")).as("sh"))
            .withColumn("sz", size(col("sh"))))
      }
    val posting0 = sh.select(col("id"), col("sz"), explode(col("sh")).as("s"))
    val gramDf = posting0.groupBy("s").agg(count(lit(1)).as("df"))
    // rare-first ranked POSITIONAL posting (both the prefix and the full
    // index read it): position feeds PPJoin's overlap upper bound
    val posting = OperatorCaches.persistTracked(
      posting0.join(gramDf, Seq("s"))
        .groupBy("id").agg(first("sz").as("sz"),
          sort_array(collect_list(struct(col("df"), col("s")))).as("ranked"))
        .select(col("id"), col("sz"),
          posexplode(transform(col("ranked"), r => r("s")))
            .as(Seq("pos", "s"))))
    // keep only the first ⌊(1−t)·sz⌋+1 ranked grams on the probe side
    val prefix = posting.filter(col("pos") <
      least(floor(col("sz") * lit(1.0 - threshold)).cast("int") + 1, col("sz")))
    (sh, posting, prefix)
  }

  /** Σ_g prefix_df(g) · df(g) over the shared gram vocabulary — an upper
    * bound on the candidate-join output (the size/id orientation predicate
    * only removes rows). One join of two bounded per-gram counts; the
    * posting is the persisted frame the real join reads, so the estimate
    * adds one aggregation, never a rebuild.
    */
  private def containmentCandidateEstimate(
      posting: DataFrame, prefix: DataFrame): Long =
    prefix.groupBy("s").agg(count(lit(1)).as("pc"))
      .join(posting.groupBy("s").agg(count(lit(1)).as("fc")), Seq("s"))
      .agg(coalesce(sum(col("pc") * col("fc")), lit(0L)))
      .head().getLong(0)

  /** Standalone pre-flight for [[containmentPairs]] (the
    * [[expectedHammingCandidates]] pattern): the candidate volume the
    * prefix×posting join would generate at these parameters, WITHOUT
    * running the pair join or verification. Costs the index build (shingle
    * + two df aggregations) — seconds where the gated join is minutes, and
    * exactly what `maxExpectedCandidates`'s diagnosis tells an operator to
    * re-run when sizing maxDf/threshold for a new corpus.
    */
  def expectedContainmentCandidates(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      threshold: Double = 0.7,
      maxDf: Int = Int.MaxValue): Long = {
    val (_, posting, prefix) =
      containmentIndex(df, idCol, textCol, k, threshold, maxDf)
    containmentCandidateEstimate(posting, prefix)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS algorithm): per document, the set of window-minimum k-gram
    * hashes over sliding windows of `w` consecutive grams. Guarantee: any
    * token run of length ≥ w + k − 1 shared by two documents contributes
    * at least one SHARED selected fingerprint, while only ~2/(w+1) of
    * positions are selected — local fingerprinting with a detection floor,
    * where [[TextAnalysis.fingerprint]] is all-or-nothing whole-doc
    * identity and MinHash trades the guarantee for a probability.
    *
    * Gram hashes are [[PortableHash.portable60]] (identity-at-rest: the
    * fingerprint index outlives the job and is joined by later crawls,
    * same rationale as fingerprint/chunkCdc — and it is what lets the
    * DuckDB oracle replay the selection verbatim). Ties inside a window
    * resolve by VALUE min alone: with 60-bit hashes, distinct grams
    * collide at ~n²/2⁶¹, and equal-gram repeats select the same value
    * either way, so the rightmost-min refinement of the paper changes
    * nothing the fingerprint SET can see.
    *
    * One narrow projection, zero shuffle. Gram hashing runs in the NATIVE
    * one-pass expression (graftnative.Portable60Grams — byte-level md5,
    * no hex formatting or BigInteger parsing, ≈20× the HOF form at ×100;
    * [[winnowFingerprintsHof]] is the lockstep reference), and the
    * window-min stage binds the gram array as a transform lambda VARIABLE
    * (the [[TextAnalysis.chunkCdc]] dodge) so it evaluates once per row.
    * Short docs (fewer than k tokens / fewer than w grams) degrade
    * exactly like the gram builders elsewhere: one whole-doc gram, one
    * whole-array window.
    */
  def winnowFingerprints(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 4,
      w: Int = 8): DataFrame = {
    require(k >= 1 && w >= 1, "need k >= 1 and w >= 1")
    df.withColumn("winnow_fps",
      org.apache.spark.sql.graftnative.WinnowMinSelect(
        org.apache.spark.sql.graftnative.Portable60Grams(toks(col(textCol)), k), w))
  }

  /** HOF window-min selection — the lockstep reference for the native
    * WinnowMinSelect expression. Grams bound as a transform lambda
    * VARIABLE so the gram expression evaluates once per row (the
    * chunkCdc dodge).
    */
  private def winnowSelectHof(grams: Column, w: Int): Column = {
    require(w >= 1, "need w >= 1")
    element_at(transform(array(grams), g => {
      val nWin = greatest(size(g) - lit(w - 1), lit(1))
      array_sort(array_distinct(transform(sequence(lit(0), nWin - 1),
        j => array_min(slice(g, j + 1, lit(w))))))
    }), 1)
  }

  /** Reference HOF formulation of [[winnowFingerprints]]'s gram+select
    * pipeline — the lockstep correctness oracle for the native
    * Portable60Grams expression (same role GramChainHashes' HOF twin
    * plays). O(T·k) string/hex work per doc under interpreted lambda
    * dispatch; never use in the hot path.
    */
  private[graft] def winnowFingerprintsHof(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 4,
      w: Int = 8): DataFrame = {
    require(k >= 1 && w >= 1, "need k >= 1 and w >= 1")
    val fps = element_at(transform(array(toks(col(textCol))), tk => {
      val nGrams = greatest(size(tk) - lit(k - 1), lit(1))
      val grams = transform(sequence(lit(0), nGrams - 1),
        i => PortableHash.portable60(array_join(slice(tk, i + 1, lit(k)), " ")))
      winnowSelectHof(grams, w)
    }), 1)
    df.withColumn("winnow_fps", fps)
  }

  /** Persisted, exploded fingerprint posting (id, fp) over
    * [[winnowFingerprints]] — the shape the pairing join and the catalog
    * entry both consume. The array column is MATERIALIZED before the
    * explode: Generate plans its generator as Filter(size(e) > 0) +
    * Generate(e), so exploding the raw winnowing expression evaluates
    * the O(T·k) portable-hash work TWICE (measured ×100: 28 s raw vs
    * 14 s materialize + 0.3 s explode-from-cache). Same trap, different
    * operator, as the projection-collapse persists at ngramJaccard.
    */
  def winnowPostings(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 4,
      w: Int = 8): DataFrame = {
    val arr = OperatorCaches.persistTracked(
      winnowFingerprints(df, idCol, textCol, k, w)
        .select(col(idCol).cast("long").as("id"), col("winnow_fps")))
    arr.select(col("id"), explode(col("winnow_fps")).as("fp"))
  }

  /** Incremental near-dup probe against a PERSISTED winnow fingerprint
    * index — the at-rest payoff of portable fingerprints (the index is
    * plain (id, fp) longs any engine can write or probe): flag each new
    * document sharing ≥ `minShared` selected fingerprints with a base
    * document, without rescanning base text. The winnowing counterpart of
    * [[incrementalMinHash]], with a detection GUARANTEE instead of a
    * recall probability: any base run of ≥ w + k − 1 tokens surviving
    * verbatim in a new doc forces a shared fingerprint.
    *
    * `maxDf` caps BASE-index fingerprint frequency at probe time (one
    * count over the index — precompute it into the index at build time at
    * scale) so boilerplate shared by thousands of base docs cannot drive
    * the probe join quadratic. Only (id, fp) longs shuffle.
    * Returns (new_id, base_id, shared), unsorted (catalog sorts).
    */
  def winnowIncremental(
      newDocs: DataFrame,
      baseFps: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 4,
      w: Int = 8,
      minShared: Int = 2,
      maxDf: Int = 50): DataFrame = {
    require(minShared >= 1 && maxDf >= 1, "need minShared >= 1 and maxDf >= 1")
    val base = OperatorCaches.persistTracked(
      baseFps.select(col("id").as("base_id"), col("fp")))
    val keep = base.groupBy("fp").agg(count(lit(1)).as("c"))
      .filter(col("c") <= maxDf).select("fp")
    val probe = winnowPostings(newDocs, idCol, textCol, k, w)
      .select(col("id").as("new_id"), col("fp"))
    probe.join(base.join(keep, Seq("fp"), "left_semi"), Seq("fp"))
      .groupBy("new_id", "base_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** MOSS-style near-dup pairs over [[winnowFingerprints]]: documents
    * sharing ≥ `minShared` selected fingerprints, with ubiquitous
    * fingerprints (document frequency > `maxDf`) dropped BEFORE the
    * posting self-join — the same deterministic reduced-set policy as
    * [[ngramJaccard]]'s maxDf and videoNearDupPairs' maxFrameDf, so a
    * boilerplate gram selected by thousands of documents can never drive
    * the join df-squared. df ≥ 2 is also pre-filtered (a fingerprint seen
    * once can pair nothing), so the posting that self-joins carries ONLY
    * fingerprints that will produce candidates.
    *
    * Shuffle profile: (id, fp) longs only — ~2·T/(w+1) rows per doc, the
    * winnowing density; document bodies never leave their scan partition.
    * Returns (id_a, id_b, shared), id_a < id_b, unsorted (catalog sorts).
    */
  def winnowNearDupPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 4,
      w: Int = 8,
      minShared: Int = 2,
      maxDf: Int = 50): DataFrame = {
    require(minShared >= 1 && maxDf >= 2, "need minShared >= 1 and maxDf >= 2")
    // postings re-explode from the persisted ARRAY frame per consumer
    // (three here) — cheap against cached arrays, and it avoids a second
    // full-posting persist
    val fp = winnowPostings(df, idCol, textCol, k, w)
    val keep = fp.groupBy("fp").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2 && col("c") <= maxDf)
    val posting = fp.join(keep.select("fp"), Seq("fp"), "left_semi")
    posting.as("a").join(posting.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }
}
