package graft

import org.apache.spark.sql.functions.col

/** Whole-surface partition-invariance: the oracle compare proves
  * Spark-vs-DuckDB agreement at ONE partitioning; this proves the
  * Spark side cannot drift with the cluster layout — rerun under a
  * different shuffle-partition count and a repartitioned input plan,
  * results must be row-identical. Queries chosen to cover every
  * nondeterminism-prone shape: rank windows, double aggregation,
  * top-k, LSH candidate joins, iterative integer PageRank, float
  * scoring joins, quantized averages.
  */
class DeterminismSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private val probes = Seq(
    "a4_top_products",        // top-k over double sums
    "a26_window_funcs",       // rank/ntile windows
    "ml_recommendations",     // float scoring join + rank
    "dedup_minhash_lsh",      // banded candidates + verify
    "graph_pagerank",         // 5 integer iterations
    "txt_interp_logprob",     // quantized average
    "sim_knn_sq8_rerank",     // two-stage retrieval
    "e3_transitions",         // lag sequence + ratio
    "u4_train_test_split",    // hash-bucket split
    "a28_quartiles",          // rank-selected values
    "txt_trigram_logprob",    // order-3 LM, vocab-grain context derive
    "txt_collocations",       // PMI top-k cut on the quantized integer
    "mix_temperature_sample", // derived-rate hash-bucket sampling
    "scd2_history",           // run-compaction windows + lead
    "ml_ndcg_at_10",          // discount-table metric
    "p20_winsorize",          // value-grain percentile cuts + clip
    "txt_bpe_merges",         // iterative argmax + driver-side merges
    "txt_backoff_heldout",    // 3-way left joins + quantized ln
    "ml_map_at_10",           // ppm average-precision terms
    "bi_rfm_segments",        // value-based cutpoints + 1-row crosses
    "bi_basket_lift",         // array pair expansion + top-k cut
    "bi_decay_topk",          // exact-power-of-two quantized sums
    "ml_negative_samples",    // hash-slot sampling + anti-join
    "sim_normalize",          // integer-exact centering/normalizing
    "p22_outliers",           // quantized moments -> IEEE z flags
    "txt_oov_rate",           // value-grain vocab cut + ppm ratio
    "bi_cohort_ltv",          // window cumsum + cents floor-division
    "u8_time_split",          // value-grain day cut
    "dedup_best_of_cluster",  // CC labels + longest-survivor window
    "mix_quality_bands",      // band cuts + hash keep rates
    "mix_budget_weighted",    // LSH weights + per-source budget window
    "ml_precision_popularity", // TakeOrdered top list + anti-join mask
    "ml_coldstart_report",    // split + seen-mask conditional sums
    "bi_abc_analysis",        // decimal cumsum + exact class boundaries
    "dedup_threshold_sweep",  // candidate-pair conditional sums
    "e8_bounce_rate",         // session grid + ppm ratio
    "graph_triangles",        // oriented wedge join + ppm coefficient
    "txt_inverted_index",     // rank-ordered posting-string assembly
    "sim_truncation_recall",  // two brute top-k sets + recall average
    "sim_hard_negatives",     // banded LSH candidates + rank window
    "mm_ahash",               // mapPartitions hash pass
    "sim_knn_pq_adc",         // codebook argmin + integer ADC sums
    "txt_kn_heldout",         // 3-way left joins + quantized KN ln
    "sim_knn_ivfpq",          // cell restriction × ADC composite
    "ops_drift_psi",          // midpoint split + smoothed ln shares
    "e10_key_skew",           // TakeOrdered cut + ppm ratios
    "graph_link_predict",     // capped wedge join + integer Jaccard
    "txt_quality_calibration", // band cut + quantized mean score
    "ts_rolling_z",           // trailing-frame integer moments
    "er_golden",              // match pairs + CC + survivor window
    "er_block_quality",       // md5-ordered fixed sample + pair masses
    "u10_weighted_sample",    // ES keys + TakeOrdered cut
    "scd2_merge",             // incremental merge = rebuild invariant
    "e12_top_paths",          // session windows + path top-k
    "txt_window_cooc",        // pair generator + hash-grain top-k
    "j10_asof_tolerance",     // as-of carry + staleness residual
    "txt_quality_filter",     // banded percent_rank decomposition
    "ml_recommendations_from_store", // registry read + scoring join
    "dedup_simhash_pairs",    // 60-bit fingerprint + 15-bit band join
    "dedup_clusters_lsh",     // LSH-verified edges + pointer-jump CC
    "dedup_ngram_jaccard_capped", // df-capped co-count self-join
    "dedup_semantic",         // cell assign + in-cell greedy prune
    "dedup_incremental",      // corpus×batch band join + verify
    "dedup_clusters_incremental", // quotient-graph CC + broadcast relabel
    "dedup_incremental_from_store", // persisted band index + fresh batch
    "dedup_clusters_incremental_from_store", // at-rest labels + fold
    "mix_prototype_prune",    // per-cell rank + integer cut count
    "txt_nb_classifier",      // micro-nat integer argmax
    "txt_dsir_select",        // hashed-bucket LM ratio top-k
    "dedup_minhash_estimate", // signature-position match counts
    "dedup_cluster_weights",  // CC labels + inverse-size ppm weights
    "sim_hybrid_rrf",         // two ranked branches + integer fusion
    "sim_mmr_rerank",         // greedy integer-argmax ladder
    "ops_ks_drift",           // value-grain CDF cumsum + top-1 cut
    "dq_mad_outliers",        // two value-grain discrete medians
    "u11_det_shuffle",        // mod-prime hash + per-shard rank
    "mix_epoch_plan",         // integer temperature shares + caps
    "txt_ppl_buckets",        // milli-nat score cuts + bucket sums
    "o6_topk_perkey",         // native two-phase per-key top-k heaps
    "ts_ewma",                // kernel-sum explode + integer division
    "sim_rp_recall",          // ±1-projection brute top-k vs baseline
    "j11_bloom_prefilter",    // sketch prefilter + exact verify join
    "txt_unigram_viterbi",    // integer-cost DP rungs + vocab cut
    "txt_unigram_hard_em",    // argmin-pieces explode + ppm renormalize
    "sim_kmeans_lloyd",       // integer Lloyd rounds + floor means
    "bi_dow_seasonality",     // calendar-arithmetic dow + ppm index
    "e13_conversion_latency", // per-user anchors + discrete quartiles
    "cdc_snapshot_diff",      // full-outer diff + payload compare
    "sim_knn_ivf_from_store", // persisted-index read + in-cell search
    "ts_cusum",               // prefix-sum − running-min reset identity
    "ml_covisitation",        // session pairs + capped first-seen order
    "sim_nprobe_sweep",       // shared candidate set × per-p rank cuts
    "u13_shard_pack",         // two-phase global prefix sum + pack
    "dq_benford",             // digit shares under a broadcast total
    "ts_autocorr",            // decimal cross-products + one division
    "txt_zipf_fit",           // head top-k cut + quantized-log fit
    "txt_heaps_law",          // first-occurrence conditional sums
    "graph_bfs_hops",         // seed top-k + frontier set algebra
    "bi_price_elasticity",    // discount-grain quantized-log slope
    "sim_knn_filtered",       // semi-join prefilter + float top-k
    "sim_pq_codes_trained",   // per-subspace integer Lloyd + argmin
    "sim_pq_distortion",      // decimal distortion totals, 2 codebooks
    "sim_knn_ivfpq_res",      // residual integer ADC in home cells
    "sim_ivfpq_res_vs_plain", // shared-baseline recall comparison
    "sim_knn_ivfpq_res_probe", // per-probed-cell residuals, full ADC
    "sim_knn_ivf_filtered",   // metadata semi-join ∧ cell restriction
    "graph_assortativity",    // decimal moments + one division
    "graph_ppr",              // sparse seed-teleport integer walk
    "graph_hits",             // integer L1-renormalized hub/auth
    "sim_ivf_split_cells",    // occupancy threshold + 2-seed split
    "dq_profile",             // multi-distinct Expand + stack unpivot
    "graph_adamic_adar",      // quantized-ln weights + top-k cut
    "dedup_embedding_decontam", // cross-side bucket join + ppm max
    "ml_novelty_at_10",       // bounded-eval quantized self-info
    "mix_curriculum",         // two-phase global training order
    "graph_modularity",       // LPA labels + one-fraction integer Q
    "sim_codebook_drift",     // half-split decimal distortion means
    "sim_ivf_assign_margin",  // sorted per-vec margins + tie counts
    "sim_rounding_canary",    // data-free literal probes (trivially)
    "sim_retrain_gain",       // two codebooks + decimal totals + sign CASE
    "sim_knn_ivfpq_refine",   // integer ADC cut + exact cosine rerank
    "mm_phash_clusters",      // banded pairs + pointer-jump CC labels
    "sim_pqstore_drift",      // persisted-code reconstruction halves
    "sim_knn_ivfpq_store_refine", // store ADC cut + exact rerank
    "sim_knn_ivfpq_filtered", // pre-filter semi-join under the ADC
    "sim_knn_ivfpq_store",    // store READ path only: the build is
                              // cached per sfDir (the from_store
                              // device); build determinism is proven
                              // separately by SimilaritySpec's
                              // two-identical-builds append case
    "sim_knn_ivfpq_probe",    // probe-widened candidates x integer ADC
    "txt_phrase_search",      // posting adjacency join + top cut
    "dedup_ppjoin_prefix",    // prefix-ranked candidates + exact verify
    "sim_range_search",       // windowless radius cut, in-cell stream
    "sim_range_from_store",   // same cut over the persisted index
    "dedup_span_merge",       // stride-1 dup windows + interval union
    "dedup_span_cut",         // positional cut + ordered re-join fp
    "dedup_span_incremental", // corpus-index semi-join + same merge
    "dedup_span_cut_incremental", // index-derived spans + shared cut tail
    "dedup_span_w_sweep",     // mass report per swept window size
    "dedup_train_contamination", // flipped-direction overlap kernel
    "dedup_cluster_agreement") // two CC labelings + pair-mass ratios

  private def rows(name: String): Seq[String] = {
    val df = SparkEntry.queries(name)(spark, d)
    df.collect().map(_.toString).sorted.toSeq
  }

  test("results are identical under a different shuffle-partition count") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val base = probes.map(n => n -> rows(n)).toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      probes.foreach { n =>
        assert(rows(n) == base(n), s"$n drifted with partition count")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
