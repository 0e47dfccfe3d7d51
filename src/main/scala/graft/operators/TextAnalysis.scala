package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline, all built from
  * codegen'd `org.apache.spark.sql.functions` Column expressions — no UDFs,
  * so every metric stays inside WholeStageCodegen and scales linearly with
  * input bytes (one narrow map stage, no shuffle).
  *
  * New scope beyond the reference (which has no text ops — SURVEY.md §2h);
  * designed for the `documents` table (doc_id, text, lang, source, n_chars).
  */
object TextAnalysis {

  /** Whitespace tokenization, shared by the metrics below. */
  def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish subword segmentation: splits on word boundaries AND runs of
    * punctuation/digits, the usual pre-tokenizer shape (GPT-2-style regex
    * family). Pure regexp — codegen'd, no UDF.
    */
  def bpeishTokens(text: Column): Column =
    filter(
      split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
      t => length(trim(t)) > 0)

  /** Per-document structural quality metrics: char length, whitespace token
    * count, mean token length, alpha/digit/punct density, stopword ratio.
    * One projection, no shuffle.
    */
  def qualityMetrics(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = wsTokens(t)
    val nChar = length(t).cast("long")
    val nTok = size(toks).cast("long")
    val alpha = length(regexp_replace(t, "[^A-Za-z]", "")).cast("double")
    val digit = length(regexp_replace(t, "[^0-9]", "")).cast("double")
    val punct = length(regexp_replace(t, "[^.,;:!?'\"()-]", "")).cast("double")
    val stop = size(filter(toks, w => lower(w).isin(StopWords.en: _*))).cast("double")
    df.withColumn("n_char", nChar)
      .withColumn("n_tokens", nTok)
      .withColumn("mean_token_len",
        round((nChar - (nTok - lit(1))).cast("double") / nTok, 4))
      .withColumn("alpha_ratio", round(alpha / nChar, 4))
      .withColumn("digit_ratio", round(digit / nChar, 4))
      .withColumn("punct_ratio", round(punct / nChar, 4))
      .withColumn("stopword_ratio", round(stop / nTok, 4))
  }

  /** Composite quality score in [0,1] from the structural metrics: the
    * C4/Gopher-style heuristic family (length window, alpha density,
    * stopword presence). Deterministic, columnar.
    */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val m = qualityMetrics(df, textCol)
    val lenOk = when(col("n_tokens").between(5, 100000), 1.0).otherwise(0.0)
    val alphaOk = least(col("alpha_ratio") / 0.6, lit(1.0))
    val stopOk = least(col("stopword_ratio") / 0.05, lit(1.0))
    val meanLenOk = when(col("mean_token_len").between(2.0, 12.0), 1.0).otherwise(0.0)
    m.withColumn("quality_score",
      round((lenOk + alphaOk + stopOk + meanLenOk) / 4.0, 4))
  }

  /** Gopher-style document filter battery (Rae et al. 2021, §A1.1): the
    * standard pre-training keep/drop rules as one columnar pass, each rule
    * surfaced as its own flag so a pipeline can audit WHY a document
    * dropped (the aggregate-score view is [[qualityScore]]; this is the
    * hard-gate view). Rules: word count window, mean word length window,
    * symbol-to-word ratio (# and …), alphabetic-word fraction, and ≥ 2
    * distinct hits from Gopher's 8-stopword probe list. Zero shuffle —
    * every rule is a higher-order fold over the token array.
    */
  def gopherFilter(
      df: DataFrame,
      textCol: String = "text",
      minWords: Int = 50,
      maxWords: Int = 100000): DataFrame = {
    val t = wsTokens(col(textCol))
    val nW = size(t).cast("double")
    val meanLen = round(
      aggregate(t, lit(0L), (acc, w) => acc + length(w)).cast("double") / nW, 4)
    val hashes = length(col(textCol)) -
      length(regexp_replace(col(textCol), "#", ""))
    val ellipses = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / lit(3)
    val symbolRatio = round((hashes + ellipses).cast("double") / nW, 4)
    val alphaWords = round(
      size(filter(t, w => w.rlike("[A-Za-z]"))).cast("double") / nW, 4)
    val stopHits = size(array_intersect(
      array_distinct(transform(t, lower _)),
      array(GopherStops.map(lit): _*)))
    df.withColumn("n_words", size(t))
      .withColumn("mean_word_len", meanLen)
      .withColumn("symbol_ratio", symbolRatio)
      .withColumn("alpha_word_ratio", alphaWords)
      .withColumn("stop_hits", stopHits)
      .withColumn("ok_n_words", col("n_words").between(minWords, maxWords))
      .withColumn("ok_mean_len", col("mean_word_len").between(3.0, 10.0))
      .withColumn("ok_symbols", col("symbol_ratio") <= 0.1)
      .withColumn("ok_alpha", col("alpha_word_ratio") >= 0.8)
      .withColumn("ok_stops", col("stop_hits") >= 2)
      .withColumn("keep",
        col("ok_n_words") && col("ok_mean_len") && col("ok_symbols") &&
          col("ok_alpha") && col("ok_stops"))
  }

  /** Gopher's 8-word English stopword probe (a document of real prose
    * contains at least two of these).
    */
  private[graft] val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Token counting: whitespace tokens plus BPE-ish subword count (a cheap
    * proxy for LLM token budget accounting over a corpus).
    */
  def tokenCounts(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("n_ws_tokens", size(wsTokens(col(textCol))).cast("long"))
      .withColumn("n_bpeish_tokens", size(bpeishTokens(col(textCol))).cast("long"))

  /** Character n-gram language ID: scores each candidate language by
    * stopword hits (whole-token evidence) and picks argmax; `und` when no
    * evidence. An n-gram/stopword heuristic in the spirit of CLD — purely
    * columnar: score computation is a fold over a literal profile array, so
    * it stays a narrow map stage at any scale.
    */
  def languageId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = transform(wsTokens(col(textCol)), lower _)
    // score per language = #tokens found in that language's stopword profile
    val scored = StopWords.profiles.map { case (langCode, words) =>
      struct(
        size(filter(toks, w => w.isin(words: _*))).cast("double").as("score"),
        lit(langCode).as("code"))
    }
    // argmax via array_max over (score, code) structs — ties break on code
    val best = array_max(array(scored.toSeq: _*))
    df.withColumn("lang_pred",
      when(best.getField("score") > 0, best.getField("code")).otherwise(lit("und")))
      .withColumn("lang_conf",
        round(best.getField("score") / greatest(size(toks), lit(1)).cast("double"), 4))
  }

  /** PII redaction: replace email addresses, international-ish phone
    * numbers, and IPv4 addresses with typed placeholder tokens. RE2-safe
    * patterns (no backrefs/lookarounds) so the same regexes run on Spark
    * (java.util.regex), DuckDB (RE2), and most other engines. One narrow
    * regexp pass — codegen'd, no shuffle.
    */
  def redactPii(df: DataFrame, textCol: String = "text"): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+?[0-9][0-9 ()-]{7,}[0-9]"
    val ipv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    df.withColumn("text_redacted",
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), email, "<EMAIL>"),
          ipv4, "<IP>"),
        phone, "<PHONE>"))
      .withColumn("pii_found", col(textCol) =!= col("text_redacted"))
  }

  /** Repetition metrics (Gopher-style repetition filters): duplicate-token
    * ratio and the frequency share of the single most repeated bigram.
    * Entirely per-row — the top-bigram count is a sort + run-length fold
    * over the row's own bigram array, so unlike the explode+groupBy
    * formulation it needs NO shuffle and scales with input bytes.
    */
  def repetitionMetrics(df: DataFrame, textCol: String = "text"): DataFrame = {
    // Bind the token array ONCE as a HOF lambda variable (the
    // [[hashedTermCounts]] dodge): a free computed expression referenced
    // inside a transform lambda re-evaluates PER ELEMENT, so the previous
    // formulation re-ran the full regex split for every bigram index —
    // measured 10.7 s at sf0.1 for 5,000 × 300-char docs. Both metrics are
    // computed inside the binding; the sorted bigram array is bound the
    // same way before the positional run-length pass.
    val metrics = element_at(transform(array(wsTokens(col(textCol))), tk => {
      val n = size(tk)
      val sortedBg = array_sort(
        when(n >= 2,
          transform(sequence(lit(1), n - 1),
            i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1))))
          .otherwise(array().cast("array<string>")))
      // longest run in the sorted bigram array = max count of any bigram;
      // run starts are positions i where bg[i] != bg[i-1], run lengths are
      // gaps between consecutive starts (same positional trick as
      // hashedTermCounts, exact string comparisons throughout)
      val best = element_at(transform(array(sortedBg), s => {
        val m = size(s)
        val starts = filter(sequence(lit(1), m), i =>
          i === 1 || element_at(s, i) =!= element_at(s, i - 1))
        val nexts = concat(
          slice(starts, lit(2), greatest(size(starts) - 1, lit(0))),
          array(m + 1))
        when(m === 0, lit(0L)).otherwise(
          array_max(zip_with(starts, nexts, (a, b) => (b - a).cast("long"))))
      }), 1)
      struct(
        round(lit(1.0) - size(array_distinct(tk)).cast("double") / n, 4)
          .as("dup"),
        when(n >= 2, round(best.cast("double") / (n - 1), 4)).otherwise(0.0)
          .as("top"))
    }), 1)
    df.withColumn("__rep", metrics)
      .withColumn("dup_token_ratio", col("__rep.dup"))
      .withColumn("top_bigram_ratio", col("__rep.top"))
      .drop("__rep")
  }

  /** 64-bit document fingerprint: order-sensitive rolling combine of token
    * hashes — each step rehashes (accumulator, next token), i.e. a hash
    * chain over the token stream. Content-identical docs collide exactly;
    * any reorder/edit changes the print. One narrow pass, overflow-free.
    */
  /** TF-IDF over whitespace tokens: per-(doc, token) term frequency,
    * per-token document frequency, idf = ln((N+1)/(df+1)). Returns one row
    * per (doc_id, tok) with tf, df, and tfidf — callers aggregate/rank
    * from there. All shuffles carry (token, counts); the doc-count scalar
    * rides in via a 1-row broadcast cross join, not a driver constant, so
    * the plan is a single job at any scale.
    */
  def tfidf(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = df.select(col(idCol),
        explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val tf = toks.groupBy(idCol, "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("__n"))
    tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * log((col("__n") + 1.0) / (col("df") + 1.0)))
      .drop("__n")
  }

  /** Per-document (term-hash, tf) pairs with ZERO shuffle: terms are
    * hashed to [[PortableHash.portable60]] longs (identity-at-rest — the
    * oracle and any later engine re-derive them; term STRINGS never enter
    * a shuffle), the per-row hash array is sorted, and run-length
    * positions yield each distinct term's count in one O(n log n) per-row
    * pass — no (id, term) groupBy, which at corpus scale is the tokenize
    * shuffle that dominates TF-IDF. The sorted array is bound ONCE as a
    * transform lambda variable (the [[chunkCdc]] dodge — a free computed
    * expression in an HOF lambda re-evaluates per element). Hash-collision
    * caveat: colliding grams merge (probability ~grams²/2⁶¹, the
    * [[Dedup.hashedShingles]] trust).
    */
  private def hashedTermCounts(
      df: DataFrame, termsCol: Column, idCol: String): DataFrame = {
    val pairs = element_at(transform(
      array(array_sort(transform(termsCol, g => PortableHash.portable60(g)))),
      s => {
        val n = size(s)
        val starts = filter(sequence(lit(1), n), i =>
          i === 1 || element_at(s, i) =!= element_at(s, i - 1))
        val nexts = concat(
          slice(starts, lit(2), greatest(size(starts) - 1, lit(0))),
          array(n + 1))
        when(n === 0, array().cast("array<struct<term:bigint,tf:double>>"))
          .otherwise(zip_with(starts, nexts, (a, b) =>
            struct(element_at(s, a).as("term"), (b - a).cast("double").as("tf"))))
      }), 1)
    df.select(col(idCol).as("id"), explode(pairs).as("p"))
      .select(col("id"), col("p.term").as("term"), col("p.tf").as("tf"))
  }

  /** Sparse TF-IDF cosine all-pairs similarity join over an inverted
    * index — the classic sparse counterpart of the dense embedding joins
    * in [[Similarity]] (Bayardo et al. 2007's all-pairs problem). Each
    * document becomes an L2-normalized TF-IDF vector over `termsCol`
    * (weights `tf · ln((N+1)/(df+1))`, zero-weight terms dropped); pairs
    * sharing a term accumulate the dot product through a posting-list
    * self-join, and pairs with cosine ≥ `threshold` survive. `maxDf`
    * drops terms whose document frequency exceeds it BEFORE the join —
    * hub terms contribute ~zero IDF weight but df² candidate pairs, the
    * same blowup [[Dedup.ngramJaccard]]'s maxDf cuts — so the cosine is
    * exact over the capped vocabulary (norms are computed after the cap).
    *
    * Scale shape: shuffles carry (term, id, weight) postings, never
    * documents; the pair aggregation is map-side partial; maxDf bounds
    * per-term candidate fan-out at maxDf². Cosines are rounded to 6 dp —
    * the repo's cross-engine float boundary — before the threshold test.
    */
  def tfidfCosinePairs(
      df: DataFrame,
      termsCol: Column,
      threshold: Double,
      maxDf: Long = Long.MaxValue,
      idCol: String = "doc_id"): DataFrame = {
    val tf = hashedTermCounts(df, termsCol, idCol)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = broadcast(df.agg(count(lit(1)).cast("double").as("__n")))
    val w = tf.join(dfreq, Seq("term")).filter(col("df") <= maxDf)
      .crossJoin(n)
      .withColumn("w", col("tf") * log((col("__n") + 1.0) / (col("df") + 1.0)))
      .filter(col("w") > 0) // df == N terms carry no signal and poison norms
    val nrm = w.groupBy("id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    // the normalized posting list feeds BOTH sides of the self-join:
    // persist or Catalyst re-inlines the whole tf-idf subtree per side
    val wn = OperatorCaches.persistTracked(
      w.join(nrm, Seq("id"))
        .select(col("term"), col("id"), (col("w") / col("nrm")).as("wn")))
    wn.as("a").join(wn.as("b"),
        col("a.term") === col("b.term") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(round(sum(col("a.wn") * col("b.wn")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Okapi BM25 scored retrieval (Robertson et al., TREC-3) — the
    * ranked-retrieval complement of [[tfidfCosinePairs]]'s symmetric
    * similarity join: score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf +
    * k1·(1 − b + b·dl/avgdl)) with idf(t) = ln(1 + (N − df + 0.5) /
    * (df + 0.5)). Returns the topK (id, score) rows for the query-term
    * bag, score desc / id asc.
    *
    * Scale shape: the query terms are a literal predicate pushed into the
    * exploded token stream (everything not in the query dies in the
    * narrow map — df/tf aggregate ONLY query-term postings), doc length
    * and corpus stats are map-side-combined single-row aggregates
    * broadcast back, and the final ranking is a top-k
    * (TakeOrderedAndProject), never a corpus sort. Per-term summands
    * round at 6 dp inside the final sum's round, the repo's standard
    * order-independence grid for double sums.
    */
  def bm25TopK(
      df: DataFrame,
      queryTerms: Seq[String],
      topK: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    val toks = df.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val dl = toks.groupBy("id").agg(count(lit(1)).as("dl"))
    // exact average doc length: integer sum / count (no double-sum order
    // dependence), one bounded row broadcast everywhere
    val stats = broadcast(dl.agg(
      count(lit(1)).cast("double").as("__n"),
      (sum("dl").cast("double") / count(lit(1))).as("__avgdl")))
    val qtf = toks.filter(col("tok").isin(queryTerms: _*))
      .groupBy("id", "tok").agg(count(lit(1)).cast("double").as("tf"))
    val qdf = qtf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
    qtf.join(qdf, Seq("tok"))
      .join(dl, Seq("id"))
      .crossJoin(stats)
      .withColumn("idf",
        log(lit(1.0) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("summand",
        col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("__avgdl"))))
      .groupBy("id")
      .agg(round(sum("summand"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("id"))
      .limit(topK)
  }

  /** Perplexity-style LM quality score from a corpus-trained unigram
    * model: surprisal(doc) = −mean log2 P(token), P(token) = corpus
    * frequency / corpus token count. The degenerate-but-exact member of
    * the CCNet/Gopher LM-filtering family — swap the unigram table for
    * imported KenLM n-gram scores and nothing else changes. High scores =
    * rare-token-heavy docs (gibberish, boilerplate-stripped residue); the
    * usual policy keeps a middle band.
    *
    * Shuffles carry (token, count) pairs and per-doc partial sums only;
    * the corpus token total rides in as a 1-row broadcast, so the plan is
    * one job at any scale.
    */
  def unigramSurprisal(
      df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the token stream feeds the model, its total, AND the scoring join —
    // materialize once or the corpus re-tokenizes per subtree
    val tok = OperatorCaches.persistTracked(
      df.select(col(idCol), explode(wsTokens(col(textCol))).as("w")))
    val freq = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum("cnt").as("__total"))
    tok.join(freq, Seq("w"))
      .crossJoin(broadcast(total))
      .groupBy(idCol)
      .agg(round(avg(-log2(col("cnt").cast("double") / col("__total"))), 4)
        .as("surprisal"))
  }

  /** Bigram-LM surprisal with Stupid Backoff (Brants et al. 2007, "Large
    * Language Models in Machine Translation"): token i ≥ 2 scores
    * S(w_i | w_{i−1}) = c(w_{i−1} w_i)/c(w_{i−1}), backing off to
    * α·p̂(w_i) when the bigram is unseen (α = 0.4, the published
    * constant; p̂ = add-one-smoothed unigram (c+1)/(N+V+1), so OOV words
    * score 1/(N+V+1) instead of −log 0); each document's first token
    * scores p̂(w_1). The model trains on `model` and scores `df` — the
    * CCNet shape (train on the reference corpus, score the crawl), and
    * the reason backoff actually fires: scoring a corpus against its own
    * counts never meets an unseen bigram. The stronger-model sibling of
    * [[unigramSurprisal]] in the perplexity-filter family: repetitive or
    * formulaic text scores low, incoherent token soup that a unigram
    * model cannot distinguish scores high.
    *
    * Scale shape: the model state is the two frequency tables (vocab- and
    * bigram-bounded, never corpus-bounded); the scoring pass joins them
    * back by token key — three shuffles of (token(s), count) pairs and
    * one map-side-combined per-doc average. Deterministic throughout, so
    * the oracle replays counts, backoff, and the rounded average exactly.
    */
  def bigramSurprisal(
      df: DataFrame,
      model: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      alpha: Double = 0.4): DataFrame = {
    def bigrams(t: Column): Column = zip_with(
      slice(t, lit(1), greatest(size(t) - 1, lit(0))),
      slice(t, lit(2), greatest(size(t) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    // model state: vocab- and bigram-bounded frequency tables (+ add-one
    // smoothed unigram so OOV words score 1/(N+V), never −log 0)
    val mArrs = model.select(wsTokens(lower(col(textCol))).as("t"))
    val uni = OperatorCaches.persistTracked(
      mArrs.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wc")))
    val totals = uni.agg(sum("wc").as("__n"),
      count(lit(1)).as("__v"))
    val big = mArrs.select(explode(bigrams(col("t"))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("bc"))
    def pUni(wc: Column): Column =
      (coalesce(wc, lit(0L)) + 1).cast("double") / (col("__n") + col("__v") + 1)
    val arrs = OperatorCaches.persistTracked(
      df.select(col(idCol), wsTokens(lower(col(textCol))).as("t")))
    val headScores = arrs
      .select(col(idCol), element_at(col("t"), 1).as("w"))
      .join(uni, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol), (-log2(pUni(col("wc")))).as("nll"))
    val pairScores = arrs
      .select(col(idCol), explode(bigrams(col("t"))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .join(big, Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w1"), col("wc").as("c1")), Seq("w1"), "left")
      .join(uni.select(col("w").as("w2"), col("wc").as("c2")), Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        (-log2(when(col("bc").isNotNull,
            col("bc").cast("double") / col("c1"))
          .otherwise(lit(alpha) * pUni(col("c2")))))
          .as("nll"))
    headScores.unionByName(pairScores)
      .groupBy(idCol)
      .agg(round(avg("nll"), 4).as("surprisal_bo"))
  }

  /** Bigram collocation mining by pointwise mutual information:
    * PMI(a,b) = log2(P(ab) / (P(a)·P(b))) over adjacent token pairs, with
    * a minimum pair count to keep the estimate stable (rare pairs have
    * unboundedly noisy PMI). The classic corpus-analysis op for finding
    * multiword units ("new york", "machine learning") worth protecting
    * from tokenizers and dedup shingling.
    *
    * One narrow zip_with builds the bigram stream; the shuffles carry
    * (token, count) / (bigram, count) pairs only. Unigram totals join back
    * by token — two broadcast-friendly frequency tables at any corpus
    * size (vocab-bounded, not corpus-bounded).
    */
  def collocations(
      df: DataFrame,
      textCol: String = "text",
      minCount: Long = 5L): DataFrame = {
    val t = wsTokens(lower(col(textCol)))
    // tokenized arrays materialize once; pairs and unigrams both read them
    val arrs = OperatorCaches.persistTracked(df.select(t.as("t")))
    val pairs = arrs.select(explode(zip_with(
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val uni = arrs.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    val totalUni = uni.agg(sum("wc").as("__tu"))
    // bigram total is over ALL adjacent pairs — normalizing by the
    // post-minCount total would shift every PMI up by a constant
    val bigAll = OperatorCaches.persistTracked(
      pairs.groupBy("w1", "w2").agg(count(lit(1)).as("bc")))
    val totalBig = bigAll.agg(sum("bc").as("__tb"))
    val big = bigAll.filter(col("bc") >= minCount)
    big
      .join(uni.select(col("w").as("w1"), col("wc").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("wc").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totalUni)).crossJoin(broadcast(totalBig))
      // + 0.0 canonicalizes IEEE -0.0 (a PMI an ulp below zero rounds to
      // negative zero, which stringifies differently across engines)
      .withColumn("pmi", round(log2(
        (col("bc").cast("double") / col("__tb")) /
          ((col("c1").cast("double") / col("__tu")) *
            (col("c2").cast("double") / col("__tu")))), 4) + lit(0.0))
      .select("w1", "w2", "bc", "pmi")
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
  }

  /** Order-sensitive rolling document fingerprint (token-stream identity —
    * unlike md5(text), two docs differing only in whitespace runs agree).
    *
    * The chain step is the PORTABLE 60-bit hash
    * `parse_hex(md5(acc ":" tok)[0,15))` rather than xxhash64: a content
    * fingerprint's whole job is to be a stable identity AT REST — written
    * next to the corpus, joined against by later ingests, possibly read by
    * a different engine — so it must be reproducible outside Spark (the
    * DuckDB oracle replays this chain verbatim via list_reduce). md5 is
    * ~4x the per-token cost of xxhash64; one narrow map, no shuffle, so
    * scan-dominated at 100 TB either way.
    */
  def fingerprint(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("fingerprint",
      aggregate(
        wsTokens(col(textCol)),
        lit(1125899906842597L),
        (acc, tok) => PortableHash.portable60(
          concat(acc.cast("string"), lit(":"), tok))))

  /** Fixed-size token-window chunking with overlap — the context-window
    * splitter of a training pipeline (documents → model-sized pieces,
    * adjacent chunks sharing `overlap` tokens so no boundary context is
    * lost). Output: one row per (doc, chunk_idx) with the chunk text and
    * its token count.
    *
    * Plan shape: tokenize (narrow) → explode a per-doc chunk-index
    * sequence → slice. No shuffle at all: chunk rows are born in the same
    * partition as their document, so at 100 TB this pipelines straight
    * into the next narrow stage (tokenize/pack) with zero exchange.
    */
  def chunk(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      chunkTokens: Int = 64,
      overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "need 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    // chunk i covers tokens [i·stride+1, i·stride+chunkTokens]; the last
    // chunk is the first one whose window reaches the end of the doc
    val nToks = size(col("__toks"))
    val nChunks = when(nToks <= chunkTokens, lit(1))
      .otherwise(ceil((nToks - lit(chunkTokens)).cast("double") / stride).cast("int") + 1)
    df.select(col(idCol), wsTokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(
        col(idCol),
        col("chunk_idx"),
        array_join(slice(col("__toks"), col("chunk_idx") * stride + 1, lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(lit(chunkTokens), size(col("__toks")) - col("chunk_idx") * stride)
          .as("n_chunk_tokens"))
  }

  /** Content-defined chunking (Rabin/CDC family): a chunk boundary falls
    * AFTER token i whenever the portable 60-bit hash of the k-token window
    * ending at i is ≡ 0 mod `divisor` — boundaries are functions of LOCAL
    * content only, so an edit re-chunks just its own neighborhood, where
    * [[chunk]]'s fixed windows shift every downstream boundary (and an
    * incremental dedup against an earlier crawl then misses every chunk
    * after the edit — CDC chunk digests keep matching). Expected chunk
    * length ≈ `divisor` tokens (each eligible position cuts with
    * probability 1/divisor).
    *
    * The boundary hash is [[PortableHash.portable60]], not xxhash64:
    * chunk identity is an AT-REST property (digest tables, cross-crawl
    * joins, possibly other engines), same rationale as [[fingerprint]] —
    * and it is what lets the q_doc_chunks_cdc oracle replay the exact cut
    * positions in SQL.
    *
    * Plan shape: tokenize → per-position window hashes → cut-position
    * array → slice once per chunk (all inside one narrow projection,
    * O(n·k) hash work per doc, zero shuffle — chunk rows are born in
    * their document's partition, like [[chunk]]).
    *
    * The cut array feeds three consumers (starts, ends, the zip), and a
    * plain column reference would let projection collapse re-inline the
    * 2M-hash expression into each one (measured 11.3 s vs ~1 s at sf0.1
    * — the same HOF re-evaluation trap ngramJaccard's persisted sketch
    * dodges). Here the whole derivation nests inside ONE expression with
    * the cut array bound as a transform lambda VARIABLE — lambda
    * variables are values, evaluated once per row — so no persist is
    * needed for a narrow map.
    */
  def chunkCdc(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      divisor: Int = 32): DataFrame = {
    require(k >= 1 && divisor >= 2, "need k >= 1 and divisor >= 2")
    val n = size(col("__toks"))
    // cut positions: i in [k, n-1] with window-hash ≡ 0 (never n — the doc
    // end is always a boundary and must not double); empty doc (zero
    // tokens) guarded so sequence(1, 0) never produces its descending
    // artifact
    val cuts = when(n >= 1,
      filter(
        transform(sequence(lit(1), n),
          i => when(i >= lit(k) && i < n &&
            PortableHash.portable60(
              array_join(slice(col("__toks"), i - lit(k - 1), lit(k)), " "))
              % lit(divisor) === 0, i)),
        c => c.isNotNull))
      .otherwise(lit(Array.emptyIntArray))
    val chunks = element_at(
      transform(array(cuts), c => {
        val starts = concat(array(lit(1)), transform(c, x => x + 1))
        val ends = concat(c, array(n))
        when(n === 0,
          array(struct(lit(0).as("n_chunk_tokens"), lit("").as("chunk_text"))))
        .otherwise(zip_with(starts, ends, (s, e) =>
          struct((e - s + 1).cast("int").as("n_chunk_tokens"),
            array_join(slice(col("__toks"), s, e - s + 1), " ").as("chunk_text"))))
      }), 1)
    df.select(col(idCol), wsTokens(col(textCol)).as("__toks"))
      .select(col(idCol), posexplode(chunks).as(Seq("chunk_idx", "__c")))
      .select(col(idCol), col("chunk_idx"),
        col("__c.chunk_text").as("chunk_text"),
        col("__c.n_chunk_tokens").as("n_chunk_tokens"))
  }

  /** BPE merge training (Sennrich et al. 2016) — the tokenizer-training
    * step of an LLM data pipeline, in its SCALABLE shape: merges are
    * computed over the WORD-FREQUENCY table, not the corpus. One corpus
    * aggregation builds (word, freq); every merge round then runs on that
    * vocabulary-bounded table (pair counts weighted by freq), so the loop
    * cost is O(vocab · word-length) per round regardless of corpus size —
    * exactly how reference BPE trainers work, and why this parallelizes:
    * the corpus is touched once.
    *
    * Deterministic throughout: symbols start as the word's characters
    * plus a '</w>' end marker; each round picks argmax pair by
    * (weighted count DESC, sym_a ASC, sym_b ASC) — exact integer
    * arithmetic, total order — and applies it greedily left-to-right
    * (overlapping matches resolve to run offsets 0, 2, 4…, the classic
    * greedy semantics, implemented as a per-word left fold). The DuckDB
    * oracle replays every round with the window-parity closed form of the
    * same greedy rule, so the two derivations cross-check each other.
    *
    * The argmax is collected per round (ONE row — vocabulary-bounded
    * driver state, like the k-means centroids). Returns the merge table
    * (round, sym_a, sym_b, merged, pair_count).
    *
    * SCALE CONTRACT: the loop is DRIVER-PACED — one Spark job (pair
    * count + argmax collect + re-map) per merge, on an ever-longer
    * cached plan. Fine at audit scale (the catalog runs 8 merges); a
    * real 50k-merge tokenizer run would be 50k sequential jobs and is
    * NOT this operator's regime — use [[bpeTrainBatched]], which
    * accepts top-k non-conflicting merges per round (the standard
    * distributed-BPE batching) and cuts the round count by ~k.
    */
  def bpeTrain(
      df: DataFrame,
      textCol: String = "text",
      nMerges: Int = 8): DataFrame = {
    require(nMerges >= 1, "need nMerges >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    var syms = OperatorCaches.persistTracked(
      df.select(explode(wsTokens(lower(col(textCol)))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .select(col("freq"),
          concat(split(col("w"), ""), array(lit("</w>"))).as("s")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    for (r <- 1 to nMerges) {
      val n = size(col("s"))
      val pairs = syms.select(col("freq"),
          explode(zip_with(
            slice(col("s"), lit(1), greatest(n - 1, lit(0))),
            slice(col("s"), lit(2), greatest(n - 1, lit(0))),
            (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .select(col("freq"), col("p.a"), col("p.b"))
      val top = pairs.groupBy("a", "b").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) {
        // degenerate vocabulary (every word fully merged): stop early
      } else {
        val row = top.head
        val a: String = row.getString(0)
        val b: String = row.getString(1)
        val cnt: Long = row.getLong(2)
        merges += ((r, a, b, a + b, cnt))
        val applied = syms.select(col("freq"),
          element_at(transform(array(col("s")),
            sv => bpeApplyMerge(sv, a, b)), 1).as("s"))
        val next = OperatorCaches.persistTracked(applied)
        next.count() // materialize before releasing the parent
        syms = next
      }
    }
    merges.toSeq.toDF("round", "sym_a", "sym_b", "merged", "pair_count")
  }

  /** Batched BPE training — the TOKENIZER-SCALE shape of [[bpeTrain]]:
    * each round accepts up to `batchK` merges at once, so a 50k-merge
    * vocabulary costs ~50k/batchK driver-paced rounds instead of 50k
    * (the standard distributed-BPE batching; see e.g. the discussion in
    * Sennrich et al.'s reference implementation issues and every
    * large-corpus trainer since).
    *
    * Batch rule (deterministic, oracle-replayable): rank the round's
    * top-`batchK` pairs by (weighted count DESC, sym_a, sym_b); accept a
    * candidate iff it shares NO symbol with ANY higher-ranked candidate
    * (the one-shot rule — a pair conflicting with a rejected candidate is
    * still rejected; conservative vs greedy-accept, but expressible as a
    * single anti-join, which is what lets DuckDB replay it without
    * sequential state). Accepted merges are symbol-DISJOINT, so each
    * round-start position matches at most one rule, no application order
    * exists, and one simultaneous pass applies them all.
    *
    * Application is SIMULTANEOUS against the ROUND-START arrays (matches
    * checked on the pre-round symbols, exactly like the single-merge
    * closed form) — NOT sequential rule-chaining, which could re-match
    * tokens created earlier in the same round when a merged string equals
    * a pre-existing symbol (merge ("a","b") then ("ab","x"): disjoint as
    * strings, but chaining would merge the just-created "ab" with "x").
    * Within-round semantics therefore differ from running [[bpeTrain]]
    * batchK times — deliberately: with batchK = 1 the two are IDENTICAL
    * (property-tested), and at larger batchK the accepted counts are all
    * exact as-of round start, the property large-corpus trainers rely on.
    *
    * Returns (round, rank, sym_a, sym_b, merged, pair_count): rank is the
    * within-round acceptance order, pair_count the round-start count.
    */
  def bpeTrainBatched(
      df: DataFrame,
      textCol: String = "text",
      rounds: Int = 3,
      batchK: Int = 4): DataFrame = {
    require(rounds >= 1 && batchK >= 1, "need rounds >= 1 and batchK >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    var syms = OperatorCaches.persistTracked(
      df.select(explode(wsTokens(lower(col(textCol)))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .select(col("freq"),
          concat(split(col("w"), ""), array(lit("</w>"))).as("s")))
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String, String, String, Long)]
    for (r <- 1 to rounds) {
      val n = size(col("s"))
      val pairs = syms.select(col("freq"),
          explode(zip_with(
            slice(col("s"), lit(1), greatest(n - 1, lit(0))),
            slice(col("s"), lit(2), greatest(n - 1, lit(0))),
            (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .select(col("freq"), col("p.a"), col("p.b"))
      // batchK rows to the driver — bounded state, like bpeTrain's one
      val top = pairs.groupBy("a", "b").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(batchK).collect()
        .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
      val accepted = top.zipWithIndex.filter { case ((a, b, _), i) =>
        !top.take(i).exists { case (ha, hb, _) =>
          ha == a || ha == b || hb == a || hb == b }
      }.map(_._1)
      if (accepted.nonEmpty) {
        accepted.zipWithIndex.foreach { case ((a, b, cnt), i) =>
          merges += ((r, i + 1, a, b, a + b, cnt))
        }
        val rules = accepted.map { case (a, b, _) => (a, b) }.toSeq
        val applied = syms.select(col("freq"),
          element_at(transform(array(col("s")),
            sv => bpeApplyMerges(sv, rules)), 1).as("s"))
        val next = OperatorCaches.persistTracked(applied)
        next.count() // materialize before releasing the parent
        syms = next
      }
    }
    merges.toSeq
      .toDF("round", "rank", "sym_a", "sym_b", "merged", "pair_count")
  }

  /** Simultaneous multi-rule variant of [[bpeApplyMerge]]: one greedy
    * left-to-right pass matching a symbol-DISJOINT rule set against the
    * round-start array. At most one rule matches any position (caller
    * guarantees disjointness), so the merged value is a coalesce over
    * per-rule when()s; the skip/consume logic is unchanged — consecutive
    * matches can only be the same (x, x) rule, where run parity applies
    * exactly as in the single-rule fold.
    */
  private def bpeApplyMerges(sv: Column, rules: Seq[(String, String)]): Column = {
    val idx = sequence(lit(0), size(sv) - 1)
    aggregate(idx,
      struct(lit(false).as("skip"),
        array().cast("array<string>").as("out")),
      (acc, i) => {
        val cur = element_at(sv, i + 1)
        val nxt = element_at(sv, i + 2) // null past the end
        val isMerge = !acc.getField("skip") &&
          rules.map { case (a, b) =>
            cur === lit(a) && nxt.isNotNull && nxt === lit(b)
          }.reduce(_ || _)
        val mergedOrCur = coalesce(rules.map { case (a, b) =>
          when(cur === lit(a) && nxt.isNotNull && nxt === lit(b), lit(a + b))
        } :+ cur: _*)
        struct(
          isMerge.as("skip"),
          when(acc.getField("skip"), acc.getField("out"))
            .otherwise(concat(acc.getField("out"),
              array(when(isMerge, mergedOrCur).otherwise(cur))))
            .as("out"))
      },
      acc => acc.getField("out"))
  }

  /** Greedy left-to-right single-merge application over a symbol array
    * (the BPE apply step) as a left fold: acc = (skipNext, out). A merge
    * consumes position i+1, so a match at i+1 inside the consumed span
    * never fires — runs of consecutive matches merge at offsets 0, 2, 4…
    * `sv` must be a lambda variable or cheap column reference (the fold
    * evaluates it per element).
    */
  private def bpeApplyMerge(sv: Column, a: String, b: String): Column = {
    val idx = sequence(lit(0), size(sv) - 1)
    aggregate(idx,
      struct(lit(false).as("skip"),
        array().cast("array<string>").as("out")),
      (acc, i) => {
        val cur = element_at(sv, i + 1)
        val nxt = element_at(sv, i + 2) // null past the end
        val isMerge = !acc.getField("skip") &&
          cur === lit(a) && nxt.isNotNull && nxt === lit(b)
        struct(
          isMerge.as("skip"),
          when(acc.getField("skip"), acc.getField("out"))
            .otherwise(concat(acc.getField("out"),
              array(when(isMerge, lit(a + b)).otherwise(cur))))
            .as("out"))
      },
      acc => acc.getField("out"))
  }

  /** BPE ENCODE over a trained merge list — the other half of the
    * tokenizer: per-document subword token counts under the [[bpeTrain]]
    * vocabulary. Scalable shape mirrors training: the merge sequence is
    * applied once per DISTINCT word (vocabulary-bounded work — the merge
    * folds never touch the corpus), and documents join their tokens
    * against that tiny (word → n_pieces) table; only (doc, word-hash)
    * pairs shuffle. Returns (idCol, n_ws_tokens, n_bpe_tokens).
    */
  def bpeTokenCounts(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "need at least one merge")
    val words = df.select(col(idCol), explode(wsTokens(lower(col(textCol)))).as("w"))
    val vocab0 = words.select("w").distinct()
      .select(col("w"), concat(split(col("w"), ""), array(lit("</w>"))).as("s"))
    // apply the ranked merges in order, all inside ONE expression: each
    // fold's input is the previous fold's output bound through the
    // transform(array(...)) lambda-variable dodge
    val encoded = merges.foldLeft(vocab0) { case (v, (a, b)) =>
      v.select(col("w"),
        element_at(transform(array(col("s")),
          sv => bpeApplyMerge(sv, a, b)), 1).as("s"))
    }
    val pieces = OperatorCaches.persistTracked(
      encoded.select(col("w"), size(col("s")).cast("long").as("n_pieces")))
    words.join(pieces, Seq("w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_ws_tokens"), sum("n_pieces").as("n_bpe_tokens"))
  }

  /** Cross-crawl chunk-reuse statistics — the [[chunkCdc]] payoff as one
    * measurable row. Chunk `base` and `edited` (a re-crawl of the same
    * corpus) with BOTH chunkers, digest the chunk texts, and count the
    * edited-crawl chunks whose digest already exists in the base crawl:
    * that count is exactly the storage/dedup that a chunk-level digest
    * table buys across crawls. CDC boundaries are edit-local, so an
    * edited doc churns only the chunks its edit touches; fixed windows
    * shift every boundary downstream of the edit, so an edited doc
    * re-uploads wholesale. Digest frames persist (tracked) because each
    * feeds two consumers — count and the reuse semi-join.
    */
  def chunkReuseStats(
      base: DataFrame,
      edited: DataFrame,
      k: Int = 3,
      divisor: Int = 32,
      fixedTokens: Int = 32): DataFrame = {
    def cdcDg(d: DataFrame) = OperatorCaches.persistTracked(
      chunkCdc(d, k = k, divisor = divisor)
        .select(md5(col("chunk_text")).as("dg")))
    def fixedDg(d: DataFrame) =
      chunk(d, chunkTokens = fixedTokens, overlap = 0)
        .select(md5(col("chunk_text")).as("dg"))
    def reused(b: DataFrame, e: DataFrame) =
      e.join(b.distinct(), Seq("dg"), "left_semi")
    val bc = cdcDg(base)
    val ec = cdcDg(edited)
    bc.agg(count(lit(1)).as("n_base_chunks")).crossJoin(
      ec.agg(count(lit(1)).as("n_edited_chunks"))).crossJoin(
      reused(bc, ec).agg(count(lit(1)).as("n_reused_cdc"))).crossJoin(
      reused(fixedDg(base), fixedDg(edited)).agg(count(lit(1)).as("n_reused_fixed")))
  }

  /** Vocabulary-coverage audit: fix the vocabulary to the corpus's top-K
    * tokens (count DESC, token ASC — fully deterministic) and report, per
    * language, total tokens, out-of-vocabulary tokens, and the OOV rate.
    * The pre-tokenizer QA gate: a language whose OOV rate spikes under a
    * candidate vocabulary will fragment into subwords (high fertility) or
    * degrade to UNK — this measures that BEFORE committing a tokenizer.
    *
    * Scale: one (token) count shuffle builds the frequency table; the
    * vocabulary is a K-row TakeOrdered result broadcast into a left-semi
    * probe; the per-language report is a partial-aggregable conditional
    * count. Nothing grows with the corpus except the one scan.
    */
  def vocabCoverage(
      df: DataFrame,
      topK: Int,
      textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    // deliberately NOT persisted: the token stream is consumed twice
    // (vocab build, probe) but it is corpus-sized, and a corpus-scale
    // cache is all spill — measured ×1000 (270M tokens): 34.9 s with the
    // persist vs 34.6 s rescanning, i.e. the disk-backed cache read
    // costs as much as re-exploding inside codegen while also pinning
    // executor memory. Each consumer re-derives tokens from the scan in
    // its own WholeStageCodegen; only the K-row vocab and the per-lang
    // aggregate ever shuffle. Cost is two scan-shaped passes — linear
    // (×100 2.8 s → ×1000 34.6 s tracks the 10× token volume).
    def tok = df.select(col(langCol).as("lang"), explode(wsTokens(col(textCol))).as("w"))
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(topK)
      .select(col("w"), lit(1).as("__in"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
  }

  /** CCNet-style perplexity partitioning (Wenzek et al. 2020): score every
    * document with the corpus LM ([[unigramSurprisal]] here — swap in
    * [[bigramSurprisal]] or imported KenLM scores and nothing else
    * changes), then cut each language into head / middle / tail at the
    * per-language surprisal terciles. The head (lowest perplexity ≈ most
    * reference-like) is what CCNet keeps or upweights; the tail is
    * gibberish-leaning. Returning the bucket WITH the score and the cut
    * points keeps the decision auditable per document.
    *
    * Scale shape: the scoring pass is [[unigramSurprisal]]'s (one token
    * shuffle, model table vocab-bounded); the cuts are one exact grouped
    * percentile per language (two boundary values per language — a
    * lang-bounded frame broadcast back onto the scored rows). At 100 TB
    * swap the exact percentile for percentile_approx — the only change.
    * Boundary semantics: bucket by (surprisal ≤ p33) → head,
    * (≤ p66) → middle, else tail, with both cut points rounded to 4 dp so
    * any engine replaying the comparison decides identically.
    */
  def perplexityBuckets(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    val scored = OperatorCaches.persistTracked(
      unigramSurprisal(df, idCol, textCol)
        .join(df.select(col(idCol), col(langCol)), Seq(idCol)))
    val cuts = scored.groupBy(langCol).agg(
      round(expr("percentile(surprisal, 0.3333)"), 4).as("p33"),
      round(expr("percentile(surprisal, 0.6667)"), 4).as("p66"))
    scored.join(broadcast(cuts), Seq(langCol))
      .select(col(idCol), col(langCol), col("surprisal"),
        col("p33"), col("p66"),
        when(col("surprisal") <= col("p33"), "head")
          .when(col("surprisal") <= col("p66"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Multinomial Naive Bayes text classifier — train on a labeled slice,
    * score a target slice. The deterministic, count-based member of the
    * model-based quality/domain-classifier family (the role fastText-style
    * linear classifiers play in WebText/CCNet-shaped pipelines: label a
    * reference corpus, score the crawl, gate or re-weight on the
    * prediction). Gradient-trained classifiers are seed/order-dependent and
    * could never be oracle-replayed; NB's sufficient statistics are pure
    * counts, so the full train→score path is exactly reproducible in any
    * engine — same reason the repo's LM-filter family starts from count
    * models ([[unigramSurprisal]], [[bigramSurprisal]]).
    *
    * Model: P(c) = docs_c / docs_total; add-one-smoothed likelihood
    * P(w|c) = (count(w, c) + 1) / (tokens_c + V + 1) over the train vocab
    * of size V, with the +1 bucket absorbing out-of-vocabulary tokens
    * (an OOV token contributes 1/(tokens_c + V + 1) to every class — never
    * −log 0). score(d, c) = log2 P(c) + Σ_{w ∈ d} log2 P(w|c); the
    * prediction is the argmax over scores ROUNDED to 4 dp (cross-engine
    * float-safe), ties to the lexicographically smallest label.
    *
    * Scale shape: the trained model is one (vocab × classes) count table —
    * vocab-bounded, never corpus-bounded — built by a single (token, class)
    * shuffle and broadcast to the scoring join; per-class totals, doc
    * priors, and the class SET are the only driver state (classes are
    * enum-bounded by definition — a label space that grows with the corpus
    * is not a classification problem). Scoring is one explode + one
    * broadcast hash join + one map-side-combined per-doc aggregation: at
    * 100 TB the crawl side streams through scan-shaped tasks and only
    * per-doc per-class partial sums shuffle.
    */
  def nbClassify(
      train: DataFrame,
      test: DataFrame,
      labelCol: String = "lang",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    // driver job 1 (tiny): class set + doc priors from one grouped count —
    // no tokenization touched
    val docCounts: Map[String, Long] = train
      .groupBy(col(labelCol).as("y")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    require(docCounts.nonEmpty, "nbClassify: train slice is empty")
    val labels = docCounts.keys.toSeq.sorted
    val nTrain = docCounts.values.sum.toDouble
    // vocab × classes count grid as one row per token (pivot) — the model
    // table the scoring join broadcasts; absent (w, c) pairs read as 0.
    // Persisted: the stats aggregate below and the scoring join both read it
    val counts = OperatorCaches.persistTracked(
      train.select(col(labelCol).as("y"), explode(wsTokens(col(textCol))).as("w"))
        .groupBy("w").pivot("y", labels).agg(count(lit(1))))
    // driver job 2: vocab size + per-class token totals in ONE aggregate
    // over the (vocab-bounded) model table
    val statsRow = counts.agg(
      count(lit(1)).as("__v"),
      labels.map(c => sum(coalesce(col(s"`$c`"), lit(0L))).as(s"__t_$c")): _*).head()
    val vocab = statsRow.getLong(0)
    val classTokens: Map[String, Long] =
      labels.zipWithIndex.map { case (c, i) => c -> statsRow.getLong(i + 1) }.toMap

    val tokS = test.select(col(idCol), explode(wsTokens(col(textCol))).as("w"))
    val scored = tokS.join(broadcast(counts), Seq("w"), "left")
    val nllCols = labels.map { c =>
      val denom = classTokens.getOrElse(c, 0L).toDouble + vocab + 1
      sum(-log2((coalesce(col(s"`$c`"), lit(0L)) + 1).cast("double") / lit(denom)))
        .as(s"__nll_$c")
    }
    val perDoc = scored.groupBy(col(idCol)).agg(nllCols.head, nllCols.tail: _*)
    val withScores = labels.foldLeft(perDoc) { (d, c) =>
      val logPrior = math.log(docCounts(c) / nTrain) / math.log(2.0)
      d.withColumn(s"s_$c", round(lit(logPrior) - col(s"__nll_$c"), 4))
    }
    val best = greatest(labels.map(c => col(s"s_$c")): _*)
    // ascending label order in the when-chain = smallest label wins ties
    val pred = labels.foldRight(lit(null).cast("string")) { (c, els) =>
      when(col(s"s_$c") === best, lit(c)).otherwise(els)
    }
    withScores
      .select(col(idCol), pred.as("pred"), best.as("score"))
      .join(test.select(col(idCol), col(labelCol).as("y_true")), Seq(idCol))
      .withColumn("correct", (col("pred") === col("y_true")).cast("int"))
  }

  /** Jensen–Shannon divergence (bits) between the unigram token
    * distributions of two corpus slices — the symmetric, bounded [0, 1]
    * drift measure for "did the crawl mix shift" monitoring, complementing
    * PSI (binned scalar) and KS (CDF) with a full-vocabulary comparison:
    *
    *   JS = ½ Σ p·log2(2p/(p+q)) + ½ Σ q·log2(2q/(p+q))
    *
    * Zero-count terms contribute 0 (no smoothing needed — JS is finite on
    * disjoint support, unlike KL).
    *
    * Distributed shape: one explode + ONE groupBy(token) with map-side
    * combine folds both slices to a (token, cnt_a, cnt_b) vocabulary
    * table; totals/vocab sizes are a broadcast single-row reduce over it,
    * and the contribution sum is a second reduce — shuffles carry the
    * vocabulary, never tokens.
    *
    * Cross-engine determinism: counts are exact BIGINTs; each term's
    * contribution is a fixed IEEE expression over two exact ratios, so
    * per-term values are bit-identical — only the reduce order differs,
    * which the 4-dp output grid (the entropy-family convention) absorbs.
    * An EMPTY slice (n_a = 0 or n_b = 0 — one side of the split has no
    * tokens) makes p or q a divide-by-zero, which Spark NULLs and other
    * engines error or NaN on — js_bits is explicitly NULL there (the
    * explicit-NULL doctrine: JS against a nonexistent distribution is
    * undefined, not zero), with the same CASE mirrored in the oracle.
    *
    * Returns one row: (n_a, n_b, vocab_a, vocab_b, vocab_shared, js_bits).
    */
  def jsDivergence(df: DataFrame, textCol: Column, groupCol: Column): DataFrame = {
    val tok = df
      .select(groupCol.cast("long").as("g"),
        explode(wsTokens(lower(trim(textCol)))).as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = tok.groupBy("tok")
      .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("cb"))
    val tot = broadcast(counts.agg(
      sum("ca").as("n_a"), sum("cb").as("n_b"),
      sum(when(col("ca") > 0, 1L).otherwise(0L)).as("vocab_a"),
      sum(when(col("cb") > 0, 1L).otherwise(0L)).as("vocab_b"),
      sum(when(col("ca") > 0 && col("cb") > 0, 1L).otherwise(0L))
        .as("vocab_shared")))
    counts.crossJoin(tot)
      .withColumn("p", col("ca").cast("double") / col("n_a"))
      .withColumn("q", col("cb").cast("double") / col("n_b"))
      .withColumn("contrib",
        when(col("ca") > 0,
          col("p") * log2(lit(2.0) * col("p") / (col("p") + col("q"))))
          .otherwise(0.0) +
        when(col("cb") > 0,
          col("q") * log2(lit(2.0) * col("q") / (col("p") + col("q"))))
          .otherwise(0.0))
      .groupBy("n_a", "n_b", "vocab_a", "vocab_b", "vocab_shared")
      .agg(sum("contrib").as("contrib_sum"))
      .select(col("n_a"), col("n_b"), col("vocab_a"), col("vocab_b"),
        col("vocab_shared"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          round(col("contrib_sum") * 0.5, 4)).as("js_bits"))
  }
}

/** Minimal per-language stopword profiles (public common-word lists). */
object StopWords {
  val en: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "that", "for", "on", "with", "as", "was", "at", "by", "be")
  val es: Seq[String] = Seq("el", "la", "los", "las", "de", "que", "y", "en",
    "un", "una", "es", "por", "con", "para", "del", "se", "no", "su")
  val fr: Seq[String] = Seq("le", "la", "les", "de", "des", "et", "en", "un",
    "une", "est", "que", "pour", "dans", "qui", "sur", "au", "pas", "ne")
  val deu: Seq[String] = Seq("der", "die", "das", "und", "in", "den", "von",
    "zu", "mit", "sich", "auf", "ist", "im", "dem", "nicht", "ein", "eine")
  val it: Seq[String] = Seq("il", "la", "di", "che", "e", "un", "una", "per",
    "in", "non", "sono", "con", "del", "della", "le", "si", "da")
  val profiles: Map[String, Seq[String]] =
    Map("en" -> en, "es" -> es, "fr" -> fr, "de" -> deu, "it" -> it)
}
