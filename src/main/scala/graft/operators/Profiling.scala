package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass column profiling (reference SURVEY.md §2d rows 2-7).
  *
  * The reference profiles the fact table with single-pass conditional
  * aggregates: per-column negative counts (W2_NYCTaxi_ETL.ipynb cell 9),
  * per-column null counts (cells 12/14/77), exact distinct cardinalities
  * (cell 16), describe() summaries (cells 6/27/44/94) and an exact
  * percentile (cell 21). All of these are a single scan + single-row
  * reduce — no shuffle of data rows, only of 1-row partial aggregates —
  * which is exactly how they stay cheap at 100 TB.
  */
object Profiling {

  private def aggAll(df: DataFrame, aggs: Seq[Column]): DataFrame = {
    require(aggs.nonEmpty, "profiling needs at least one column")
    df.groupBy().agg(aggs.head, aggs.tail: _*)
  }

  /** sum(when(c < 0, 1).otherwise(0)) per column, one scan (reference cell 9). */
  def negativeCounts(df: DataFrame, cols: Seq[String]): DataFrame =
    aggAll(df, cols.map(c => sum(when(col(c) < 0, 1).otherwise(0)).as(s"neg_$c")))

  /** count(when(c.isNull, 1)) per column, one scan (reference cells 12/14/77). */
  def nullCounts(df: DataFrame, cols: Seq[String]): DataFrame =
    aggAll(df, cols.map(c => count(when(col(c).isNull, lit(1))).as(s"null_$c")))

  /** Exact distinct cardinality per column (reference cell 16). Exact
    * countDistinct expands to one shuffle per distinct-column under a single
    * Aggregate; fine at notebook scale.
    */
  def distinctCounts(df: DataFrame, cols: Seq[String]): DataFrame =
    aggAll(df, cols.map(c => countDistinct(col(c)).as(s"dist_$c")))

  /** Scale path for cell 16, under audit: the HyperLogLog++ sketch
    * (`approx_count_distinct`: one pass, no per-column shuffle of raw
    * values, bounded error) checked against [[distinctCounts]]. One row
    * per column with the EXACT distinct count and whether the HLL++
    * estimate lands within `tol` relative error of it. The HLL estimate itself is
    * order-independent and hash-deterministic, so the booleans are
    * deterministic — which makes this auditable by an independent engine
    * (the oracle recomputes the exact counts and asserts the bound holds),
    * the standard way to put a sketch under a correctness gate. At 100 TB
    * you run the sketch alone; this audit shape is for sampled QA slices.
    * `tol` = 3× the requested rsd (rsd is one standard error; the estimate
    * is DETERMINISTIC for a fixed dataset, so the band is a one-time
    * property of the data, not a per-run coin flip).
    *
    * rsd default is 0.05, not approx_count_distinct's 0.01: the HLL++
    * per-row update cost grows with register count (measured 6.4 s at
    * rsd 0.01 vs 0.47 s at 0.05 over 6M rows x 4 columns) — pick the
    * loosest rsd the downstream decision tolerates.
    */
  def approxDistinctAudit(
      df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame = {
    val tol = 3 * rsd
    // exact and sketch sides are SEPARATE aggregations, crossed at one row
    // each. Putting countDistinct and approx_count_distinct in one agg is a
    // scale trap: multi-distinct plans through Expand with a partial
    // aggregate GROUPED BY the distinct values, so every non-distinct
    // aggregate's buffer — 2^p words per HLL at this rsd — is allocated
    // per distinct GROUP, not per partition (measured 120 s vs 0.3 s on
    // sf0.1 lineitem; at 100 TB it is an OOM, not a slowdown).
    val exact = aggAll(df, cols.zipWithIndex.map { case (c, i) =>
      countDistinct(col(c)).as(s"__exact$i")
    })
    val est = aggAll(df, cols.zipWithIndex.map { case (c, i) =>
      approx_count_distinct(col(c), rsd).as(s"__est$i")
    })
    val stackArgs = cols.zipWithIndex.map { case (c, i) =>
      s"'$c', __exact$i, CAST(abs(__est$i - __exact$i) <= $tol * __exact$i AS BOOLEAN)"
    }.mkString(", ")
    exact.crossJoin(est)
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, exact_distinct, hll_within_tol)")
  }

  /** approx_percentile accuracy audit, one row per requested p — the
    * percentile sibling of [[approxDistinctAudit]] and the 100-TB path
    * for quantiles: exact `percentile` sorts/collects every group value,
    * approx_percentile keeps a bounded sketch. The sketch targets RANK
    * error ≤ 1/accuracy per summary, and distributed partial-summary
    * merges compound it (observed: a 10k-row, 32-partition aggregate
    * missing the single-summary bound by a few ranks), so the audit uses
    * the engineering bound 2/accuracy and brackets each approx value
    * between the exact quantiles at p ± 2/accuracy: `pctl_within_tol` is a
    * deterministic boolean an independent engine can hold us to (it
    * recomputes the exact side and the bracket; the sketch value itself
    * is engine-specific and never compared). Exact side rounded 2 dp,
    * the repo's money-column boundary.
    */
  def approxPercentileAudit(
      df: DataFrame, c: String, ps: Seq[Double],
      accuracy: Int = 1000): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p < 1), "need 0 < p < 1")
    val eps = 2.0 / accuracy
    // exact side via sketch-guided selection (one bounded-bucket pass +
    // one winners-only sort for all 3·|ps| ranks — the percentile(...)
    // aggregate's value buffer measured 3.3 s at sf0.1 on this entry);
    // the KLL sketch side stays an aggregate. Values are bit-identical
    // to the aggregate's (Sketches.exactInterpolatedPercentiles scaladoc)
    val exPs = ps.flatMap(p => Seq(p,
      math.max(0.0, p - eps), math.min(1.0, p + eps)))
    val exact = Sketches.exactInterpolatedPercentiles(df, col(c), Nil, exPs)
    val ap = aggAll(df, Seq(
      expr(s"approx_percentile(`$c`, array(${ps.mkString(", ")}), $accuracy)")
        .as("__ap")))
    val stackArgs = ps.indices.map { i =>
      val (ex, lo, hi) = (3 * i, 3 * i + 1, 3 * i + 2)
      s"'${math.round(ps(i) * 1000)}', round(__q$ex, 2), " +
        s"CAST(__ap[$i] >= __q$lo AND __ap[$i] <= __q$hi AS BOOLEAN)"
    }.mkString(", ")
    exact.crossJoin(ap)
      .selectExpr(s"stack(${ps.size}, $stackArgs) AS " +
        "(p_mille, exact_pctl, pctl_within_tol)")
  }

  /** describe()-shaped stats as a deterministic single-row frame
    * (reference cells 6/27/44/94 use df.describe()).
    */
  def summaryStats(df: DataFrame, c: String): DataFrame =
    aggAll(df, Seq(
      count(col(c)).as("count"),
      round(avg(col(c)), 4).as("mean"),
      round(stddev(col(c)), 4).as("stddev"),
      min(col(c)).as("min"),
      max(col(c)).as("max")))

  /** describe()-shaped stats for SEVERAL numeric columns in ONE
    * aggregation pass (the reference's cells 6/27/44/94 describe multiple
    * columns per call): a single agg computes count/mean/stddev/min/max
    * for every column — one scan, one 5-values-per-column reduce, no
    * per-column jobs — then `stack` unpivots the one aggregated row into
    * the tidy (col_name, n, mean, stddev, min, max) shape without touching
    * the driver.
    */
  def summaryStatsMulti(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "summaryStatsMulti needs at least one column")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        count(col(c)).as(s"__n$i"),
        avg(col(c)).as(s"__mean$i"),
        stddev(col(c)).as(s"__sd$i"),
        min(col(c)).cast("double").as(s"__min$i"),
        max(col(c)).cast("double").as(s"__max$i"))
    }
    val stackArgs = cols.zipWithIndex.map { case (c, i) =>
      s"'$c', __n$i, __mean$i, __sd$i, __min$i, __max$i"
    }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n, mean, stddev, min, max)")
  }

  /** Exact interpolated percentiles (reference cell 21 uses
    * approxQuantile(relativeError=0) ⇒ exact). `percentile` is the exact
    * aggregate; swap to percentile_approx (GK sketch) at 100 TB.
    */
  def percentiles(df: DataFrame, c: String, ps: Seq[Double]): DataFrame = {
    // sketch-guided SELECTION, not the percentile(...) aggregate: the
    // aggregate's per-partition value map + single-thread merge/sort
    // measured 3.2 s at sf0.1 where the two-scan selection runs the same
    // ranks in a fraction, with bit-identical interpolation
    // (Sketches.exactInterpolatedPercentiles scaladoc; PercentileSpec)
    val one = Sketches.exactInterpolatedPercentiles(df, col(c), Nil, ps)
    one.select(ps.zipWithIndex.map { case (p, i) =>
      // round the label (0.95 * 1000 is 949.99… as a double — toInt alone
      // would emit p949)
      round(col(s"__q$i"), 2).as("p" + math.round(p * 1000))
    }: _*)
  }

  /** Robust per-group outlier profile via the median / MAD rule: a value
    * is flagged when |x − median| > k · MAD (MAD = median absolute
    * deviation — unlike mean/stddev, neither anchor is dragged by the
    * outliers being hunted). Exact grouped medians: two grouped exact
    * percentile passes with a join between them (medians are not
    * algebraic — two shuffles is the honest floor; at 100 TB swap the
    * exact percentile for percentile_approx and the plan shape is
    * unchanged). Output: group, n, median, mad, n_outliers.
    */
  def madOutliers(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Double = 3.0): DataFrame = {
    val vals = df.select(col(groupCol), col(valueCol).cast("double").as("x"))
    // grouped medians via sketch-guided selection — bit-identical to the
    // percentile(x, 0.5) aggregate (Sketches.exactInterpolatedPercentiles
    // scaladoc) whose grouped value buffers measured 3.0 s at sf0.1 here
    // both anchor tables are |groups| rows but carry a multi-scan
    // selection pipeline each — lineage-cut them so the dev stream, the
    // MAD pass and the final fence scan all share ONE materialization
    // (the first un-cut form re-ran the median pipeline per reference
    // and REGRESSED this entry 3.8 → 11 s at sf0.1)
    val med = Lineage.cutLazyLocal(
      Sketches.exactInterpolatedPercentiles(
          vals, col("x"), Seq(groupCol), Seq(0.5))
        .select(col(groupCol), col("__q0").as("median")))
    val devs = vals.join(broadcast(med), Seq(groupCol))
    val mad = Lineage.cutLazyLocal(
      Sketches.exactInterpolatedPercentiles(
          devs, abs(col("x") - col("median")), Seq(groupCol), Seq(0.5))
        .select(col(groupCol), col("__q0").as("mad")))
    val stats = med.join(mad, Seq(groupCol))
    // the flag compares on the 6 dp grid: an exact-percentile anchor is
    // interpolated, and a raw-float > at the fence is ulp-sensitive.
    // n rides this same fence scan (count per group of the joined rows —
    // a separate count pass would re-scan the source for one long)
    vals.join(broadcast(stats), Seq(groupCol))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        round(first("median"), 4).as("median"),
        round(first("mad"), 4).as("mad"),
        sum(when(round(abs(col("x") - col("median")), 6) >
          round(lit(k) * col("mad"), 6), 1L).otherwise(0L)).as("n_outliers"))
  }

  /** Sketch-anchored MAD outlier profile — the SCALE PATH for
    * [[madOutliers]]: the exact grouped percentiles there are two
    * full-sort shuffles (a measured 23.5 s ×1000 wall on one box); this
    * variant anchors median and MAD on the log-histogram quantile sketch
    * ([[Sketches.logHistSketch]] — bounded bucket tables, never a data
    * sort), so the whole profile is three scans plus broadcast-size
    * anchor joins at any corpus size. Anchors are within 2^-(subBits+1)
    * relative of the exact disc-quantiles (the sketch's published bound,
    * audited by q_outlier_mad_approx / q_quantile_sketch), and — unlike
    * approx_percentile's KLL sketch — fully DETERMINISTIC and
    * engine-portable: an independent engine replays every bucket, both
    * anchors, and the flag counts byte-for-byte.
    *
    * `valueCol` (and hence the deviations) must be non-negative
    * money-like values — the sketch buckets integer cents.
    */
  def madOutliersSketch(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Double = 3.0): DataFrame = {
    val vals = df.select(col(groupCol), col(valueCol).cast("double").as("x"))
    val med = Sketches.logHistQuantiles(
        Sketches.logHistSketch(vals, col("x"), Seq(groupCol)),
        Seq(groupCol), Seq(0.5))
      .select(col(groupCol), col("est").as("median_est"))
    val dev = vals.join(broadcast(med), Seq(groupCol))
      .withColumn("d", abs(col("x") - col("median_est")))
    val mad = Sketches.logHistQuantiles(
        Sketches.logHistSketch(dev, col("d"), Seq(groupCol)),
        Seq(groupCol), Seq(0.5))
      .select(col(groupCol), col("est").as("mad_est"))
    dev.join(broadcast(mad), Seq(groupCol))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        round(first("median_est"), 4).as("median_est"),
        round(first("mad_est"), 4).as("mad_est"),
        // same 6-dp fence grid as the exact operator
        sum(when(round(col("d"), 6) > round(lit(k) * col("mad_est"), 6), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** Shannon entropy (bits) of a column's value distribution — the
    * profiling signal for key quality (0 = constant column, log2(n) =
    * unique key). One groupBy + one reduce: shuffles carry (value, count)
    * pairs, then k-row partials.
    */
  def valueEntropy(df: DataFrame, c: String): DataFrame = {
    val freq = df.groupBy(col(c)).agg(count(lit(1)).cast("double").as("ct"))
    freq.agg(sum("ct").as("__n"), count(lit(1)).as("n_values"),
        sum(col("ct") * log2(col("ct"))).as("__sclc"))
      // H = log2 N − (Σ c·log2 c)/N — one pass, no per-row p division
      .select(lit(c).as("col_name"), col("n_values"),
        round(log2(col("__n")) - col("__sclc") / col("__n"), 4).as("entropy_bits"))
  }

  /** Mutual information (bits) between two categorical columns:
    * I(X;Y) = Σ p(x,y) log2( p(x,y) / (p(x)p(y)) ) over the joint
    * contingency table. The column-dependence probe (0 = independent) a
    * profiler runs before trusting a composite partition key. Shuffles
    * carry the (x, y, count) table and two marginal tables — never rows.
    */
  def mutualInfo(df: DataFrame, a: String, b: String): DataFrame = {
    val joint = df.groupBy(col(a).as("x"), col(b).as("y"))
      .agg(count(lit(1)).cast("double").as("cxy"))
    val ma = joint.groupBy("x").agg(sum("cxy").as("cx"))
    val mb = joint.groupBy("y").agg(sum("cxy").as("cy"))
    val n = broadcast(joint.agg(sum("cxy").as("__n")))
    joint.join(ma, Seq("x")).join(mb, Seq("y")).crossJoin(n)
      .agg(round(sum(col("cxy") / col("__n") *
        log2(col("cxy") * col("__n") / (col("cx") * col("cy")))), 4)
        .as("mi_bits"))
      .select(lit(a).as("col_a"), lit(b).as("col_b"), col("mi_bits"))
  }

  /** Join-key skew report: the numbers that predict whether a shuffle on
    * `keyCol` dies at scale — key cardinality, the heaviest key's row
    * share, p50/p99 per-key counts and their ratio. One groupBy(key) then
    * k-row statistics; this is the probe to run BEFORE a 100 TB join to
    * decide between plain shuffle, AQE skew split, and salting.
    */
  def skewReport(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).cast("double").as("ct"))
    counts.agg(
        count(lit(1)).as("n_keys"),
        sum("ct").as("__n"),
        max("ct").as("__max"),
        expr("percentile(ct, 0.5)").as("__p50"),
        expr("percentile(ct, 0.99)").as("__p99"))
      .select(lit(keyCol).as("key"), col("n_keys"),
        col("__max").cast("long").as("max_key_rows"),
        round(col("__max") / col("__n"), 6).as("max_key_share"),
        round(col("__p99") / col("__p50"), 4).as("p99_over_p50"))
  }

  /** Z-score feature standardization — the scaling pass before any
    * distance-based stage (k-means/IVF training, cosine on raw numeric
    * features, anomaly fences): per column, z = (x − mean) / stddev_samp,
    * appended as `<col>_z`. One aggregate computes every column's
    * moments in a single scan; the per-row scaling is then a narrow
    * broadcast-literal projection — scan-shaped at any corpus size.
    *
    * Cross-engine determinism: mean and stddev are ROUNDED TO 6 DP
    * BEFORE becoming scaling anchors. The raw aggregates differ across
    * engines by summation-order noise (~1e-12); anchoring on the rounded
    * values makes every downstream z an IEEE-exact function of values
    * both engines agree on, so the 4-dp z survives a 600k-row
    * per-row comparison (unrounded anchors would flip ~2% of columns'
    * boundary rows). A constant column (stddev 0) scales to null —
    * explicitly, not via a 0-division Infinity.
    */
  def standardize(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "standardize needs at least one column")
    val aggs = cols.flatMap(c => Seq(
      round(avg(col(c)), 6).as(s"__m_$c"),
      round(stddev_samp(col(c)), 6).as(s"__s_$c")))
    val st = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      val mean = st.getDouble(2 * i)
      val std = st.getDouble(2 * i + 1)
      d.withColumn(s"${c}_z",
        if (std == 0.0) lit(null).cast("double")
        else round((col(c) - lit(mean)) / lit(std), 4))
    }
  }

  /** Seeded differentially-private counts (Dwork et al., TCC 2006): per
    * group, count + Laplace(sensitivity/ε) noise — the release shape for
    * publishing aggregate corpus statistics (per-domain doc counts,
    * per-language token totals) without exposing individual membership.
    * A groupBy count has sensitivity 1 (one record moves one group's
    * count by 1), so noise scale is 1/ε.
    *
    * The noise is SEEDED, not sampled: u = (portable60(seed:group) +
    * 0.5)/2^60 − 0.5 ∈ (−0.5, 0.5) strictly, then the Laplace inverse
    * CDF −(1/ε)·sgn(u)·ln(1 − 2|u|). Fixing the draw per (seed, group)
    * is what makes a DP release REPRODUCIBLE (re-running the pipeline
    * republishes the identical numbers rather than spending fresh ε —
    * the standard practice for versioned data releases), and is also
    * what lets an independent engine replay the release byte-for-byte:
    * the noise is as portable as the counts. Privacy holds against
    * consumers who don't hold the seed; rotate the seed to re-randomize.
    * One map-side-combined aggregate, then a narrow literal projection —
    * scan-shaped at any scale.
    *
    * The noise key LENGTH-PREFIXES each group value (`len#value`, null →
    * `~`): a raw `concat_ws(":")` would let values containing ':' (or a
    * null next to an empty string — concat_ws silently skips nulls)
    * collide onto one key and hand two groups the SAME Laplace draw,
    * breaking the per-group-independence the ε accounting assumes.
    * Length-prefixed tokens are self-delimiting, so the concatenation is
    * injective whatever the values contain. Non-string group columns go
    * through cast-to-string — keep group keys string/integer typed so the
    * rendering is engine-portable.
    *
    * Adjacency caveat the "reproducible release" framing undersells: the
    * per-group draw is FIXED, so publishing two releases of *changed*
    * data under the same seed exposes exact count deltas (noise cancels
    * in the difference). Reproducibility covers re-runs of the SAME
    * snapshot; a new snapshot under the same ε budget needs a new seed
    * (and spends fresh ε).
    */
  def dpNoisyCounts(
      df: DataFrame,
      groupCols: Seq[String],
      epsilon: Double,
      seed: String = "dp"): DataFrame = {
    require(epsilon > 0, "epsilon must be positive")
    val tokens = groupCols.map { c =>
      val sv = col(c).cast("string")
      coalesce(concat(length(sv), lit("#"), sv), lit("~"))
    }
    val u = (PortableHash.portable60(
        concat_ws(":", lit(seed) +: tokens: _*)) + 0.5) /
      lit(math.pow(2.0, 60)) - 0.5
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("true_count"))
      .withColumn("__u", u)
      .withColumn("noisy_count", round(
        col("true_count") +
          lit(-1.0 / epsilon) * signum(col("__u")) * log(lit(1.0) - abs(col("__u")) * 2),
        4))
      .drop("__u")
  }

  /** Sample autocorrelation of an already-aggregated series at lags
    * 1..maxLag, by the standard biased estimator (the one whose lag-0
    * denominator makes |r_l| ≤ 1 and the ACF p.s.d.):
    *
    *   r_l = Σ_t (x_t − x̄)(x_{t+l} − x̄) / Σ_t (x_t − x̄)²
    *
    * `series` has ONE row per integral time index (`tCol`) — the caller
    * aggregates the corpus down to the series first (a daily-counts
    * groupBy), which is what bounds everything here: the lag self-join,
    * the mean, and both moment sums run over series-length rows, never
    * raw events. Gaps in the index are the caller's contract (gap-fill
    * first; a missing t simply contributes no pair at any lag).
    *
    * Cross-engine determinism: x̄ and the centered products are doubles,
    * but over the bounded series support with one shared expression
    * order, the t-closeness ~1e-16-vs-5e-7 argument applies. Returns
    * (lag, n_pairs, acf) ordered by lag.
    */
  def acf(series: DataFrame, tCol: Column, xCol: Column,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 1000, "maxLag must be in [1, 1000]")
    val s = series.select(tCol.cast("long").as("t"),
      xCol.cast("double").as("x"))
    val stats = broadcast(s.agg(avg("x").as("xbar"),
      count(lit(1)).as("n_series")))
    val centered = s.crossJoin(stats)
      .select(col("t"), (col("x") - col("xbar")).as("d"))
    val denom = broadcast(centered.agg(sum(col("d") * col("d")).as("ss")))
    val lags = broadcast(
      s.sparkSession.range(1, maxLag + 1).select(col("id").as("lag")))
    centered.crossJoin(lags)
      .select((col("t") + col("lag")).as("t2"), col("lag"),
        col("d").as("d1"))
      .join(centered.select(col("t").as("t2"), col("d").as("d2")), Seq("t2"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("d1") * col("d2")).as("num"))
      .crossJoin(denom)
      // a constant series has zero variance: ACF undefined — NULL by an
      // explicit shared guard, not an engine-specific NaN/inf split
      .select(col("lag"), col("n_pairs"),
        when(col("ss") > 0, round(col("num") / col("ss"), 6)).as("acf"))
      .orderBy("lag")
  }

  /** Exact 1-Wasserstein (earth-mover) distance between the value
    * distributions of two slices, on an integral grid — the drift
    * measure that is SENSITIVE TO HOW FAR mass moved, completing the
    * drift family (PSI: binned ratios; KS: max CDF gap; JS: vocabulary
    * overlap — none of them metric in the value space):
    *
    *   W1 = ∫ |F_a(x) − F_b(x)| dx
    *      = Σ_support |cumA·nB − cumB·nA| · Δx / (nA·nB)
    *
    * over the DISTINCT unit-value support in order (the grouped-Lorenz
    * trapezoid trick applied to the CDF gap).
    *
    * Cross-engine determinism: ENTIRELY exact until one final division —
    * values arrive as integral units (`unitCol`, e.g. cents), the CDF
    * gap is the cross-multiplied integer |cumA·nB − cumB·nA|, and the
    * per-gap terms accumulate in decimal(38,0) (cum·n·Δx reaches ~n²·Δx,
    * past int64 at corpus scale; DuckDB would promote to HUGEINT while
    * Spark wraps — the q_gini_concentration lesson).
    *
    * Distributed shape: ONE groupBy(unit) with two conditional sums
    * folds the corpus to its support, then a support-sized ordered
    * window (bin-first contract — bin continuous values to a coarser
    * grid upstream if the support is unbounded) and a single reduce.
    *
    * Returns one row: (n_a, n_b, support, w1) — w1 in units, 6 dp;
    * explicit NULL when either slice is empty (W1 against a nonexistent
    * distribution is undefined — the jsDivergence doctrine).
    */
  def wasserstein1(df: DataFrame, unitCol: Column, groupCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val counts = df
      .select(unitCol.cast("long").as("v"), groupCol.cast("long").as("g"))
      .groupBy("v")
      .agg(sum(when(col("g") === 0L, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = broadcast(counts.agg(
      sum("ca").as("n_a"), sum("cb").as("n_b")))
    counts
      .withColumn("cum_a", sum("ca").over(w))
      .withColumn("cum_b", sum("cb").over(w))
      .withColumn("dx", lead("v", 1).over(Window.orderBy("v")) - col("v"))
      .crossJoin(tot)
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        count(lit(1)).as("support"),
        sum(when(col("dx").isNotNull,
          abs(col("cum_a").cast(dec) * col("n_b").cast(dec) -
            col("cum_b").cast(dec) * col("n_a").cast(dec)) *
            col("dx").cast(dec))).as("area"))
      .select(col("n_a"), col("n_b"), col("support"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          round(col("area").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 6))
          .as("w1"))
  }

  /** Exact weighted median per group: the smallest support value v with
    * 2·cumWeight(v) ≥ totalWeight — the lower weighted median, the "what
    * price does half the VOLUME trade at" statistic that the unweighted
    * median gets wrong whenever quantity and value correlate.
    *
    * Cross-engine determinism: ENTIRELY exact — values and weights are
    * integral units, the selection predicate is the cross-multiplied
    * integer comparison (no division, no doubles anywhere), and the
    * support fold makes ties well-defined by construction. Envelope:
    * the predicate computes 2·cumWeight, so the per-group weight total
    * must stay ≤ 2^62 (4.6e18) — at unit weights that is 4.6e18 rows;
    * past it, swap the two comparison operands to decimal(38,0).
    *
    * Distributed shape: ONE groupBy(group, value) with map-side combine
    * folds the corpus to the per-group support; the cumulative pass is a
    * per-group window over that bounded support (bin-first contract for
    * unbounded supports); one final min-reduce.
    *
    * Returns (grp, total_w, n_support, w_median) ordered by grp.
    */
  def weightedMedian(
      df: DataFrame,
      groupCol: Column,
      valueCol: Column,
      weightCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // group keeps its native type (string flags, codes, …) — only value
    // and weight are forced onto the integral grid
    val sup = df.select(groupCol.as("grp"),
        valueCol.cast("long").as("v"), weightCol.cast("long").as("wt"))
      .filter(col("wt") > 0L)
      .groupBy("grp", "v").agg(sum("wt").as("wv"))
    val wc = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wg = Window.partitionBy("grp")
    sup
      .withColumn("cum", sum("wv").over(wc))
      .withColumn("total_w", sum("wv").over(wg))
      .withColumn("n_support", count(lit(1)).over(wg))
      .filter(lit(2L) * col("cum") >= col("total_w"))
      .groupBy("grp")
      .agg(max("total_w").as("total_w"), max("n_support").as("n_support"),
        min("v").as("w_median"))
      .orderBy("grp")
  }

  /** Empirical-Bayes shrinkage of per-group success rates via the
    * moment-matched Beta-Binomial prior (Robbins/Efron–Morris in the
    * form every CTR/quality-score ranker uses): fit Beta(α, β) to the
    * observed per-group rates by method of moments,
    *
    *   s = m(1−m)/v − 1,   α = m·s,   β = (1−m)·s
    *
    * (m, v the 6-dp-anchored mean/variance of the raw rates), then
    * shrink each group: rate* = (x_g + α) / (n_g + s). Small-n groups
    * collapse toward the global mean, large-n groups keep their data —
    * the fix for "a 1/1 group outranks a 970/1000 group".
    *
    * Cross-engine determinism: x_g, n_g are exact BIGINTs; m and v are
    * anchored on the 6-dp grid BEFORE deriving α/β (the Welch/CUPED
    * convention), so both engines shrink with identical doubles.
    *
    * Distributed shape: ONE groupBy(group) with map-side combine, one
    * broadcast single-row moment reduce over the bounded group support,
    * top-k as TakeOrderedAndProject.
    *
    * Returns (grp, n, successes, raw_rate, shrunk_rate) top `topK` by
    * shrunk_rate desc then grp ("grp", not "group" — reserved-word-proof
    * across engines); NULL shrunk_rate when the prior is degenerate
    * (v = 0 or s ≤ 0 — all groups identical, nothing to fit), with the
    * same guard mirrored in the oracle.
    */
  def ebShrinkage(
      df: DataFrame,
      groupCol: Column,
      successCol: Column,
      topK: Int = 20): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val perGroup = df
      .select(groupCol.cast("long").as("grp"),
        successCol.cast("long").as("x"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("x").as("successes"))
      .withColumn("raw_rate",
        round(col("successes").cast("double") / col("n"), 6))
    val prior = broadcast(perGroup.agg(
        round(avg("raw_rate"), 6).as("m"),
        round(var_samp("raw_rate"), 6).as("v"))
      .select(col("m"), col("v"),
        when(col("v") > 0.0,
          col("m") * (lit(1.0) - col("m")) / col("v") - lit(1.0))
          .as("s")))
    perGroup.crossJoin(prior)
      .select(col("grp"), col("n"), col("successes"), col("raw_rate"),
        when(col("s") > 0.0,
          round((col("successes") + col("m") * col("s")) /
            (col("n") + col("s")), 6)).as("shrunk_rate"))
      .orderBy(col("shrunk_rate").desc, col("grp"))
      .limit(topK)
  }
}
