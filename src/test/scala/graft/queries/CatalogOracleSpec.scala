package graft.queries

import graft.{SparkSpec, Verify}
import graft.TempDirs.withTempDir

import scala.sys.process._

/** The catalog entries built from shared fragments (the co-order graph,
  * the hyperplane splice, the min-label closure, the shingle, winnow,
  * moment, cohort, BPE, SemDeDup, DSIR, linkage and decontamination
  * helpers) still match their DuckDB oracles: `Verify.dump` writes them at
  * sf0.01 and `tools/compare_oracle.py` compares every value. sf0.01,
  * because the auto-banding oracles are spliced for its 500-row embedding
  * corpus.
  */
class CatalogOracleSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.01"

  /** Every entry whose Spark frame or oracle SQL is built from a shared
    * fragment. The compare's name filter also matches by prefix, so the
    * list holds every catalog name that starts with one of its names.
    */
  private val entries = Seq(
    // co-order graph
    "q_pagerank", "q_pagerank_gated", "q_negative_samples", "q_graph_bfs",
    "q_label_propagation", "q_ppr", "q_modularity", "q_hits",
    "q_graph_sage", "q_walk_cooc", "q_walk_cooc_gated",
    // hyperplane splice and cosine banding
    "q_ann_lsh", "q_ann_lsh_auto", "q_ann_quantized", "q_embed_neardup",
    "q_embed_neardup_auto", "q_embed_neardup_t90", "q_embed_neardup_auto_t90",
    // min-label closure, shingles, minhash sketches, winnowing
    "q_dedup_minhash", "q_dedup_incr_fuzzy", "q_dedup_clusters",
    "q_dedup_clusters_star", "q_dedup_cluster_weights", "q_dedup_keep_best", "q_dedup_clusters_exact", "q_dedup_clusters_maxdf",
    "q_entity_clusters", "q_leakage_safe_split", "q_ingest_neardup",
    "q_lsh_recall_audit", "q_dedup_ngram_jaccard", "q_dedup_containment",
    "q_containment_gated", "q_sim_join_sparse", "q_winnow_fingerprint",
    "q_winnow_neardup", "q_winnow_clusters", "q_winnow_incremental",
    "q_repeated_cut", "q_repeated_cut_strict",
    // embedding moments, survival cohort, format roundtrips
    "q_pca_power", "q_corr_matrix", "q_pca_deflate", "q_survival_km",
    "q_logrank", "q_cox_ph", "q_orc_roundtrip", "q_jsonl_roundtrip",
    "q_jsonl_quarantine", "q_csv_roundtrip",
    // BPE chains, the SemDeDup drop rule, DSIR weights
    "q_bpe_merges", "q_bpe_batched", "q_bpe_token_counts", "q_semdedup",
    "q_semdedup_2level", "q_dsir_sample", "q_dsir_separation",
    // linkage and decontamination
    "q_fuzzy_linkage", "q_fuzzy_linkage_gated", "q_fuzzy_linkage_fine",
    "q_decontaminate", "q_decontaminate_bloom", "q_decontaminate_bloom_fpr",
    // not built from a fragment; named because the prefix match pulls it in
    "q_decontaminate_semantic")

  test("the list names catalog entries and is closed under the compare's prefix match") {
    val names = QueryCatalog.all.map(_.name)
    assert(entries.distinct.size === entries.size)
    assert(entries.filterNot(names.contains).isEmpty)
    val pulledIn = names.filter(n => entries.exists(n.startsWith))
    assert(pulledIn.filterNot(entries.contains).isEmpty)
  }

  test("entries built from shared fragments match their DuckDB oracles at sf0.01") {
    withTempDir("oracle") { out =>
      assert(Verify.dump(spark, sf, out, Some(entries.toSet)).isEmpty)
      val log = new StringBuilder
      val code = Seq("python3", "tools/compare_oracle.py", sf, out,
          entries.mkString(","))
        .!(ProcessLogger(l => log.append(l).append('\n'),
          l => log.append(l).append('\n')))
      assert(code === 0, log)
      assert(log.toString.linesIterator.contains(s"OK ${entries.size}"), log)
    }
  }
}
