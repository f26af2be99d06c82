"""Driver-facing query inventory with DuckDB oracle SQL.

Each entry pairs a Spark query (``(spark, sf_dir) -> DataFrame``) with
an ANSI-SQL oracle DuckDB can run over the same parquet tables — the
correctness gate from the build brief. Since DuckDB (without the
reference extension) cannot compute the curves, queries are made
self-checking in ANSI terms, per the two patterns the reference's own
test corpus uses (test/sql/lindel.test:15-111):

* **golden literals** — Spark computes encodes of fixed inputs; the
  oracle is the literal expected values (the reference's published
  goldens, docs/README.md:117-287).
* **round-trips** — Spark emits ``x, decode(encode(x))``; the oracle
  emits ``x, x``. A value-hash match proves bit-exact inversion over
  every row of the sf table.
* **independent bit-math** — Morton interleave *is* expressible in
  ANSI SQL (staged magic-number shifts), so the native Morton path
  gets a true value-level oracle computed independently by DuckDB.

Column names and types are aligned pairwise (everything integral is
BIGINT, floats are DOUBLE) because the driver hash-compares columns by
sorted name.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lindel_spark import dedup as LD
from lindel_spark import functions as LF
from lindel_spark import multimodal as MM
from lindel_spark import similarity as LS
from lindel_spark import text as LT
from lindel_spark import write as LW
from lindel_spark.util import local_frame

# registry: name -> (spark_fn, oracle_sql | None)
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def query(name: str, oracle: str | None):
    def deco(fn):
        _REGISTRY[name] = (fn, oracle)
        return fn
    return deco


# The correctness driver samples the first N registry entries per
# round. Queries never yet driver-sampled (through r03) are surfaced
# first so every family eventually gets a driver-recorded green row;
# every entry is locally hash-verified either way (tools/oracle_check.py).
_SAMPLE_FIRST = [
    # round-15 rotation: (a) new this round; (b) operator-changed
    # this round; then the r14/r13 blocks age downward. Everything
    # else stays covered by the local full-registry sweeps.
    # (a) round-15 new
    "events_cochran_q",  # new: binary repeated-measures Q
    "events_page_trend",  # new: ordered-alternative trend L/z
    "events_esd_outliers",  # new: generalized-ESD outlier ladder
    "graph_closeness",  # new: sampled-source closeness
    "emb_kmeans",  # new: distributed Lloyd k-means
    "events_logistic_probe",  # new: fixed-round IRLS logistic probe
    "events_isotonic_calibration",  # new: minimax PAV calibration
    "events_ar2_forecast",  # new: Yule-Walker AR(2) horizon
    "graph_ktruss",  # new: bounded k-truss peel
    "knn_mmr_topk",  # new: MMR diversified re-ranking
    "events_logistic_probe_by_type",  # new: per-group IRLS probes
    "graph_copurchase_edges",  # new: weighted bipartite projection
    "events_jonckheere",  # new: ordered-alternative unpaired JT
    "events_mood_median",  # new: robust k-sample median test
    "events_runs_test",  # new: Wald-Wolfowitz randomness audit
    "events_durbin_watson",  # new: residual autocorrelation DW
    "parts_by_fdr",  # new: dependence-robust BY step-up
    "parts_fisher_combined",  # new: Fisher meta p-combination
    "events_partial_corr",  # new: confounder-removed correlation
    "events_cronbach_alpha",  # new: battery internal consistency
    "events_randomization",  # new: seeded mean-diff permutation test
    "graph_clustering_coeff",  # new: per-node neighborhood cliquishness
    "events_brier_decomposition",  # new: Murphy REL-RES+UNC split
    # (b) round-15 operator-changed (friedman dup guard on the
    # pre-filter frame; graph-walk PQ full seen-set; sssp
    # checkpoint-unpersist)
    "events_friedman",
    "knn_graph_search_pq_recall",
    "graph_sssp_copurchase",
    # --- r14 rotation below ---
    # (a) round-14 new
    "graph_betweenness",  # new: sampled-source Brandes centrality
    "events_holt_winters_h",  # new: h-step HW horizon
    "knn_graph_search_recall",  # new: graph-walk ANN beam search
    "graph_harmonic",  # new: sampled-source harmonic centrality
    "events_linear_probe",  # new: multiple-OLS linear probe
    "events_linear_probe_by_type",  # new: per-group probes
    "events_dunn_posthoc",  # new: KW pairwise follow-up + BH
    "graph_assortativity",  # new: degree-mixing audit scalar
    # (b) round-14 operator-changed (bh_adjust NaN/column guards,
    # load_ann_model explicit existence, sssp per-round persist,
    # knn_model_roundtrip tempdir lifecycle)
    # -- covered by the r13 block below (parts_bh_fdr,
    #    knn_model_roundtrip, graph_sssp_copurchase already lead)
    # (a) round-13 new
    "knn_ivfpq_opq_recall",  # new face: OPQ x residual composition
    "knn_filtered_recall",  # new: attribute-filtered ANN
    "knn_filtered_pq_recall",  # new: filtered ANN, compressed layout
    "events_holt_winters",  # new: additive HW one-step forecast
    "events_kruskal_wallis",  # new: k-sample rank ANOVA
    "parts_bh_fdr",  # new: Benjamini-Hochberg step-up q-values
    "knn_graph_communities",  # new: kNN graph -> LPA composition
    "graph_ppr_transitions",  # new: personalized pagerank
    "events_bootstrap_ci",  # new: seeded Poisson bootstrap CI
    "knn_model_roundtrip",  # new: ANN artifact persistence
    "text_js_divergence",  # new: JS vocabulary drift
    "events_wilcoxon_paired",  # new: paired signed-rank test
    "events_mcnemar_paired",  # new: paired binary McNemar
    "events_anova_f",  # new: parametric k-sample F
    "events_cohens_d",  # new: pooled-SD effect size
    "events_brown_forsythe",  # new: spread-homogeneity W
    "events_mwu_pvalue",  # new: A-S erf polynomial p-values
    # (b) round-13 operator-changed (decimal rank sums, NULL-safe
    # noise seed)
    "events_mann_whitney", "events_cliffs_delta", "eval_auc_by_type",
    "profile_dp_counts", "graph_link_prediction",
    # --- r12 rotation below (driver-covered r12; keep order) ---
    # (a) round-12 new
    "graph_hits_transitions",  # new: HITS hubs/authorities
    "profile_t_closeness",  # new: TVD release-gate audit
    "features_woe_iv",  # new: WOE/IV category screen
    "events_ewma",  # new: FIR EWMA smoothing
    "text_dirichlet_ql",  # new: LM retrieval ranking
    "text_readability",  # new: Flesch reading ease
    "eval_conformal",  # new: split-conformal coverage
    "text_rake_phrases",  # new: RAKE keyphrases
    "text_tfidf_cosine_pairs",  # new: sparse lexical sim join
    "text_script_profile",  # new: script-class router
    "events_proportion_test",  # new: two-proportion z
    "events_kaplan_meier",  # new: survival/retention curve
    "text_heaps_fit",  # new: vocabulary-growth law
    "parts_weighted_quantiles",  # new: exact weighted quantiles
    "parts_best_split",  # new: 1-D decision stump
    "supplier_dbscan",  # new: exact grid DBSCAN
    "parts_rank_rbo",  # new: rank-biased overlap
    "text_phrase_search",  # new: positional phrase match
    "knn_lof_outliers",  # new: local outlier factor
    "dedup_containment",  # new: sub-document quote detector
    "events_attribution",  # new: multi-touch credit
    "parts_huber_mean",  # new: robust IRLS location
    "events_welch_ttest",  # new: unequal-variance t-test
    "events_spearman",  # new: midrank Spearman rho
    "graph_kcore",  # new: bounded-round k-core peel
    "graph_degree_profile",  # new: degree/wedge pre-flight audit
    "text_langid_trained",  # new: char-n-gram NB language ID
    "knn_opq_recall",  # new: OPQ rotation before PQ
    "graph_modularity",  # new: community-quality Newman Q
    "events_seasonal_decompose",  # new: fixed-period decomposition
    "eval_avg_precision",  # new: step-wise PR-AUC
    "knn_silhouette",  # new: quantizer separation audit
    "sampling_importance_weights",  # new: DSIR data selection
    # (b) round-12 operator-changed
    "graph_triangle_counts",  # degree-ordered edge-iterator rewrite
    "knn_ivfpq_recall",  # residual IVFADC default, gate 0.7
    "knn_join_pq_topk",  # residual ADC distributed path
    "knn_pq_recall",  # train_pq/pq_knn rotation params
    "knn_route_parity",  # pq routing family re-pin
    "text_url_canonical",  # name-exact tracker matching
    "sampling_kfold",  # NULL-key in-plan raise
    "profile_benford_prices",  # string-form digit extraction
    "sketch_hll_parts",  # p validation + in-plan guard
    "events_hll_users",  # consumes hll_estimate (guarded)
    "asof_join_tolerance",  # NULL-supplier semantic pinned
    "knn_ivf_recall",  # L2-nearest assignment rule (unit ≡ dot)
    "dedup_semantic",  # assign_cells under the shared rule
    # (c) stale-first: families the r11 driver sample did NOT cover
    "knn_ivf_health", "join_skew_report", "text_retrieval_eval",
    "embedding_drift_report", "features_target_encoded",
    "profile_drift_store", "profile_equidepth_histogram",
    "text_card_scrub", "dedup_clusters", "dedup_kept_best",
    "knn_brute", "sampling_hard_negatives", "text_bm25_topk",
    "text_hybrid_topk", "knn_label_propagation",
    "graph_pagerank_transitions", "text_lm_quality", "text_lm_bigram",
    "text_tfidf_topk", "text_winnow_fingerprints", "text_scrub_pii",
    "text_sentence_stats", "text_quality_deciles", "events_ohlc_daily",
    "events_time_weighted_avg", "events_scd2_history",
    "events_merge_upsert", "events_snapshot_diff", "events_rank_family",
    "events_grouping_sets", "events_mad_outliers", "events_user_entropy",
    "events_wow_growth",
    # --- r11 rotation below (driver-covered r11; keep order) ---
    # (a) round-11 new
    "profile_gini_spend",  # new: Gini concentration scalar
    "profile_mutual_information",  # new: MI/NMI redundancy screen
    "profile_fd_violations",  # new: functional-dependency audit
    "profile_agreement_kappa",  # new: Cohen's kappa agreement
    "events_acf",  # new: lag-k autocorrelation
    "text_ngram_novelty",  # new: reference-corpus gram novelty
    "embedding_covariance",  # new: distributed Gram/cov aggregate
    "embedding_pca_component",  # new: matrix-free power iteration
    "text_textrank_keywords",  # new: co-occurrence PageRank keywords
    "profile_chi_square",  # new: chi-square independence test
    "eval_roc_auc",  # new: exact midrank ROC-AUC
    "eval_calibration",  # new: reliability bins
    "eval_brier",  # new: Brier score
    "events_cusum",  # new: CUSUM drift alarms
    "features_corr_matrix",  # new: one-pass correlation matrix
    "linkage_jaro_pairs",  # new: Jaro-Winkler comparator
    "parts_band_join",  # new: 1-D numeric band join
    "events_interarrival",  # new: burstiness profile
    "events_gap_report",  # new: missing-data gaps
    "events_rolling_zscore",  # new: windowed point anomalies
    "text_pmi_collocations",  # new: PMI multi-word expressions
    "zorder_store_vacuum_cycle",  # new: retention vacuum / GDPR leg
    "events_ks_test",  # new: bin-free exact KS drift test
    "graph_lpa_communities",  # new: label-propagation communities
    "events_temporal_split",  # new: time split with embargo
    "multimodal_image_neardup",  # new: perceptual-hash image dedup
    "text_bpe_train",  # new: full BPE merge-training loop
    "text_bpe_vocab",  # new: trained-vocab readout
    "sketch_kll_quantiles",  # new: bound-free KLL-style sketch
    "text_bm25_store",  # new: persisted+incremental index
    "knn_propagate_rounds",  # new: multi-round label propagation
    "text_bpe_encode",  # new: tokenize under trained merges
    "text_tfidf_store",  # new: TF-IDF from the persisted index
    "sketch_kll_by_type",  # new: grouped bound-free quantiles
    "zorder_store_delete_cycle",  # new: tombstone delete + purge
    "profile_drift_report",  # new: PSI/KL snapshot drift audit
    "profile_l_diversity",  # new: l-diversity disclosure audit
    "graph_bfs_hops",  # new: multi-source bounded BFS
    "basket_triples",  # new: Apriori frequent 3-itemsets
    "text_zipf_fit",  # new: Zipf power-law corpus screen
    "embedding_random_projection",  # new: deterministic JL reduction
    "dedup_cluster_split",  # new: cluster-aware leak-safe split
    "text_trigram_backoff",  # new: reference-corpus LM filter
    "features_robust_scaled",  # new: median/MAD scaling
    # (a) round-11 operator-changed
    # (b) stale-first: families not in the r10 driver sample
    "dedup_fuzzy_pairs", "dedup_incremental_near",
    "sketch_heavy_hitters", "sketch_quantile_grid",
    "sketch_quantiles_by_type",
    "profile_value_histogram", "profile_parquet_layout",
    "profile_expectations", "profile_k_anonymity",
    "sources_orc_roundtrip", "pipeline_partitioned_roundtrip",
    "pipeline_corpus_prep", "customer_rfm_segments",
    "part_revenue_pareto", "bucketed_join_segments",
    "bloom_semi_join_orders", "embedding_ops",
    "events_pivot_daily", "events_unpivot_melt",
    "events_approx_percentiles", "events_cumulative_users",
    "events_linear_trend", "events_winsorized_stats",
    "events_pseudonymized", "knn_ivf", "knn_ivf_exhaustive",
    "knn_ivf_pipeline", "multimodal_frame_sample", "multimodal_resize",
    "tpch_q5_local_volume", "tpch_q6_forecast", "tpch_q4_priority",
    "tpch_q10_returned", "tpch_q14_promo", "tpch_q7_volume_shipping",
    "tpch_q13_custdist", "tpch_q19_disjunctive",
    "tpch_q22_idle_customers", "setop_active_returned_customers",
    "tpch_q15_top_supplier", "tpch_q17_small_quantity",
    "tpch_q8_market_share", "tpch_q9_product_profit",
    "tpch_q12_late_lines", "tpch_q2_top_supplier_per_part",
    "tpch_q11_important_parts", "tpch_q16_supplier_cnt",
    "tpch_q20_promo_suppliers", "tpch_q21_waiting_suppliers",
    # r10 rotation block (driver-covered in r10, keep adjacent)
    "linkage_customer_pairs", "linkage_incremental_batch",
    "text_bpe_pairs", "sampling_mixture_plan",
    "pipeline_length_batches", "text_canonicalized",
    "dedup_substring_spans", "dedup_substring_incremental",
    "zorder_store_lookup", "pipeline_bloom_pruned",
    "dedup_near_pairs", "dedup_ngram_jaccard",
    "zorder_store_select", "zorder_store_cycle",
    "pipeline_manifest_pruned",
    "knn_ann_simhash", "knn_ivf_refined_recall",
    "rt_hilbert_i32", "rt_morton_i32", "rt_hilbert_i64",
    "rt_hilbert_i16", "rt_hilbert_i16_8", "rt_hilbert_i8_16",
    "rt_hilbert_f32", "rt_hilbert_f64", "rt_morton_f32",
    "rt_morton_f32_4", "rt_morton_i8", "rt_morton_i8_8",
    "rt_unsigned_i16", "golden_scalars",
    "streaming_first_seen", "events_gapfilled_rollup",
    "events_sliding_rollup", "events_interval_join",
    "events_rolling_hour", "events_debounce_dedup",
]


def _ordered() -> list[str]:
    first = [n for n in _SAMPLE_FIRST if n in _REGISTRY]
    rest = [n for n in _REGISTRY if n not in set(first)]
    return first + rest


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _REGISTRY[k][0] for k in _ordered()}


def all_oracles() -> dict[str, str]:
    return {k: _REGISTRY[k][1] for k in _ordered()
            if _REGISTRY[k][1] is not None}


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))


# ---------------------------------------------------------------------------
# golden literals (reference test corpus values)
# ---------------------------------------------------------------------------

# 5x5 grid goldens, ordered by (a, b) — test/sql/lindel.test:30-111.
# Identical for tinyint[2] and int[2] at these magnitudes.
_GRID_H = [0, 3, 4, 5, 58, 1, 2, 7, 6, 57, 14, 13, 8, 9, 54,
           15, 12, 11, 10, 53, 16, 17, 30, 31, 32]
_GRID_M = [0, 1, 4, 5, 16, 2, 3, 6, 7, 18, 8, 9, 12, 13, 24,
           10, 11, 14, 15, 26, 32, 33, 36, 37, 48]


@query(
    "golden_scalars",
    """
    SELECT 22::BIGINT AS h_i8_3,
           29::BIGINT AS m_i8_3,
           2303654869236839926::BIGINT AS h_f32_2,
           '1fffca6dbd7d7d7d7d7d7d7d7d7d7d72' AS h_f64_2_hex,
           '0000000019db6d2fedb6db6db6db6db6' AS h_f32_3_hex,
           178258816::BIGINT AS h_str_abcd,
           1::BIGINT AS hd_x, 2::BIGINT AS hd_y, 3::BIGINT AS hd_z
    """,
)
def q_golden_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar goldens: test/sql/lindel.test:15-28, docs/README.md:173-212."""
    one = spark.range(1)
    i8 = [F.lit(v).cast("tinyint") for v in (1, 2, 3)]
    f32 = [F.lit(37.8).cast("float"), F.lit(0.2).cast("float")]
    f64 = [F.lit(37.8), F.lit(0.2)]
    f32_3 = [F.lit(v).cast("float") for v in (1.0, 5.0, 6.0)]
    abcd = [F.lit(o).cast("tinyint") for o in (97, 98, 99, 100)]
    dec = LF.hilbert_decode(F.lit(22).cast("long"), 3, input_width=32)
    return one.select(
        LF.hilbert_encode(i8, "int8").alias("h_i8_3"),
        LF.morton_encode(i8, "int8").alias("m_i8_3"),
        LF.hilbert_encode(f32, "float32").alias("h_f32_2"),
        F.lower(F.hex(LF.hilbert_encode(f64, "float64"))).alias("h_f64_2_hex"),
        F.lower(F.hex(LF.hilbert_encode(f32_3, "float32"))).alias("h_f32_3_hex"),
        LF.hilbert_encode(abcd, "int8").alias("h_str_abcd"),
        F.element_at(dec, 1).cast("long").alias("hd_x"),
        F.element_at(dec, 2).cast("long").alias("hd_y"),
        F.element_at(dec, 3).cast("long").alias("hd_z"),
    )


def _grid_oracle() -> str:
    rows = ", ".join(
        f"({a}, {b}, {_GRID_H[a * 5 + b]}, {_GRID_M[a * 5 + b]})"
        for a in range(5) for b in range(5)
    )
    return f"""
    SELECT a::BIGINT AS a, b::BIGINT AS b, h::BIGINT AS h, m::BIGINT AS m,
           a::BIGINT AS ha, b::BIGINT AS hb, a::BIGINT AS ma, b::BIGINT AS mb
    FROM (VALUES {rows}) AS t(a, b, h, m)
    """


def _grid_query(elem: str, decode_width: int):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        a = spark.range(5).select(F.col("id").alias("a"))
        b = spark.range(5).select(F.col("id").alias("b"))
        grid = a.crossJoin(b)
        cols = [F.col("a"), F.col("b")]
        h = LF.hilbert_encode(cols, elem)
        m = LF.morton_encode(cols, elem)
        g = grid.select(
            "a", "b", h.alias("h"), m.alias("m"),
            LF.hilbert_decode(h, 2, input_width=decode_width).alias("hd"),
            LF.morton_decode(m, 2, input_width=decode_width).alias("md"),
        )
        return g.select(
            "a", "b", "h", "m",
            F.element_at("hd", 1).cast("long").alias("ha"),
            F.element_at("hd", 2).cast("long").alias("hb"),
            F.element_at("md", 1).cast("long").alias("ma"),
            F.element_at("md", 2).cast("long").alias("mb"),
        )
    return fn


query("golden_grid_i8", _grid_oracle())(_grid_query("int8", 16))
query("golden_grid_i32", _grid_oracle())(_grid_query("int32", 64))


# ---------------------------------------------------------------------------
# round-trips over lineitem (decode(encode(x)) == x, hash-compared)
# ---------------------------------------------------------------------------

def _rt2_oracle(x_sql: str, y_sql: str, cast: str) -> str:
    return f"""
    SELECT CAST({x_sql} AS {cast}) AS x, CAST({y_sql} AS {cast}) AS y,
           CAST({x_sql} AS {cast}) AS dx, CAST({y_sql} AS {cast}) AS dy
    FROM lineitem
    """


# signed 16/8-bit inputs derived from positive keys; exercises the
# bit-cast negative-value semantics (SURVEY §1.2)
_X16 = "(l_orderkey * 7919) % 65536 - 32768"
_Y16 = "(l_partkey * 104729) % 65536 - 32768"
_X8 = "(l_orderkey * 7919) % 256 - 128"
_Y8 = "(l_partkey * 104729) % 256 - 128"


def _rt2_query(kind: str, elem: str, spark_cast: str, out_cast: str,
               decode_width: int, x_expr: str = "l_orderkey",
               y_expr: str = "l_partkey", want_float: bool = False):
    enc = LF.hilbert_encode if kind == "hilbert" else LF.morton_encode
    dec = LF.hilbert_decode if kind == "hilbert" else LF.morton_decode

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        li = _lineitem(spark, sf_dir)
        src = li.select(
            F.expr(x_expr).cast(spark_cast).alias("x"),
            F.expr(y_expr).cast(spark_cast).alias("y"),
        )
        h = enc([F.col("x"), F.col("y")], elem)
        d = dec(h, 2, want_float=want_float, input_width=decode_width)
        return src.select(
            F.col("x").cast(out_cast).alias("x"),
            F.col("y").cast(out_cast).alias("y"),
            F.element_at(d, 1).cast(out_cast).alias("dx"),
            F.element_at(d, 2).cast(out_cast).alias("dy"),
        )
    return fn


query("rt_hilbert_i32", _rt2_oracle("l_orderkey", "l_partkey", "BIGINT"))(
    _rt2_query("hilbert", "int32", "int", "long", 64))
query("rt_morton_i32", _rt2_oracle("l_orderkey", "l_partkey", "BIGINT"))(
    _rt2_query("morton", "int32", "int", "long", 64))
query("rt_hilbert_i64", _rt2_oracle("l_orderkey", "l_partkey", "BIGINT"))(
    _rt2_query("hilbert", "int64", "long", "long", 128))
query("rt_hilbert_i16", _rt2_oracle(_X16, _Y16, "BIGINT"))(
    _rt2_query("hilbert", "int16", "smallint", "long", 32,
               _X16, _Y16))
query("rt_morton_i8", _rt2_oracle(_X8, _Y8, "BIGINT"))(
    _rt2_query("morton", "int8", "tinyint", "long", 16, _X8, _Y8))
query("rt_hilbert_f64",
      _rt2_oracle("l_extendedprice", "l_discount", "DOUBLE"))(
    _rt2_query("hilbert", "float64", "double", "double", 128,
               "l_extendedprice", "l_discount", want_float=True))
query("rt_hilbert_f32",
      """
      SELECT CAST(CAST(l_extendedprice AS REAL) AS DOUBLE) AS x,
             CAST(CAST(l_discount AS REAL) AS DOUBLE) AS y,
             CAST(CAST(l_extendedprice AS REAL) AS DOUBLE) AS dx,
             CAST(CAST(l_discount AS REAL) AS DOUBLE) AS dy
      FROM lineitem
      """)(
    _rt2_query("hilbert", "float32", "float", "double", 64,
               "l_extendedprice", "l_discount", want_float=True))
query("rt_morton_f32",
      """
      SELECT CAST(CAST(l_extendedprice AS REAL) AS DOUBLE) AS x,
             CAST(CAST(l_discount AS REAL) AS DOUBLE) AS y,
             CAST(CAST(l_extendedprice AS REAL) AS DOUBLE) AS dx,
             CAST(CAST(l_discount AS REAL) AS DOUBLE) AS dy
      FROM lineitem
      """)(
    _rt2_query("morton", "float32", "float", "double", 64,
               "l_extendedprice", "l_discount", want_float=True))


_F4 = ["l_extendedprice", "l_discount", "l_quantity", "l_tax"]


def _rtf4_oracle() -> str:
    cols = ", ".join(
        f"CAST(CAST({e} AS REAL) AS DOUBLE) AS c{i}, "
        f"CAST(CAST({e} AS REAL) AS DOUBLE) AS d{i}"
        for i, e in enumerate(_F4)
    )
    return f"SELECT {cols} FROM lineitem"


@query("rt_morton_f32_4", _rtf4_oracle())
def q_rt_morton_f32_4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """float[4] Morton round-trip — the one documented reference bug
    (SURVEY §2.4): the reference's float[4] morton_encode actually
    dispatches to the *hilbert* kernel (src/lindel_extension.cpp:752).
    This port implements the intended Morton interleave; the
    decode(encode(x)) == x oracle is curve-implementation-independent,
    so it validates the intended semantics without whitelisting."""
    li = _lineitem(spark, sf_dir)
    src = li.select(
        *[F.expr(e).cast("float").alias(f"c{i}")
          for i, e in enumerate(_F4)]
    )
    h = LF.morton_encode([F.col(f"c{i}") for i in range(4)], "float32")
    d = LF.morton_decode(h, 4, want_float=True, input_width=128)
    return src.select(
        *[F.col(f"c{i}").cast("double").alias(f"c{i}") for i in range(4)],
        *[F.element_at(d, i + 1).cast("double").alias(f"d{i}")
          for i in range(4)],
    )


def _rtn_oracle(exprs: list[str]) -> str:
    cols = ", ".join(
        f"CAST({e} AS BIGINT) AS c{i}, CAST({e} AS BIGINT) AS d{i}"
        for i, e in enumerate(exprs)
    )
    return f"SELECT {cols} FROM lineitem"


def _rtn_query(kind: str, elem: str, spark_cast: str, decode_width: int,
               exprs: list[str]):
    enc = LF.hilbert_encode if kind == "hilbert" else LF.morton_encode
    dec = LF.hilbert_decode if kind == "hilbert" else LF.morton_decode
    n = len(exprs)

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        li = _lineitem(spark, sf_dir)
        src = li.select(
            *[F.expr(e).cast(spark_cast).alias(f"c{i}")
              for i, e in enumerate(exprs)]
        )
        h = enc([F.col(f"c{i}") for i in range(n)], elem)
        d = dec(h, n, input_width=decode_width)
        return src.select(
            *[F.col(f"c{i}").cast("long").alias(f"c{i}") for i in range(n)],
            *[F.element_at(d, i + 1).cast("long").alias(f"d{i}")
              for i in range(n)],
        )
    return fn


_E8 = [f"(l_orderkey * {7919 + 2 * i} + l_partkey * {104729 + i}) % 256 - 128"
       for i in range(8)]
_E16W = [f"(l_orderkey * {7919 + 2 * i} + l_partkey * {104729 + i}) % 65536 - 32768"
         for i in range(8)]
_E8W = [f"(l_orderkey * {7919 + 2 * i} + l_partkey * {104729 + i}) % 256 - 128"
        for i in range(16)]

query("rt_morton_i8_8", _rtn_oracle(_E8))(
    _rtn_query("morton", "int8", "tinyint", 64, _E8))
query("rt_hilbert_i16_8", _rtn_oracle(_E16W))(
    _rtn_query("hilbert", "int16", "smallint", 128, _E16W))
query("rt_hilbert_i8_16", _rtn_oracle(_E8W))(
    _rtn_query("hilbert", "int8", "tinyint", 128, _E8W))


@query(
    "rt_unsigned_i16",
    f"""
    SELECT CAST({_X16} AS BIGINT) AS x, CAST({_Y16} AS BIGINT) AS y,
           CAST(CAST({_X16} AS BIGINT) & 65535 AS BIGINT) AS ux,
           CAST(CAST({_Y16} AS BIGINT) & 65535 AS BIGINT) AS uy
    FROM lineitem
    """,
)
def q_rt_unsigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """want_unsigned decode: negative i16 inputs come back as u16 values
    (reference DECODE_TYPE_MAPPINGS, src/lindel_extension.cpp:64-97)."""
    li = _lineitem(spark, sf_dir)
    src = li.select(
        F.expr(_X16).cast("smallint").alias("x"),
        F.expr(_Y16).cast("smallint").alias("y"),
    )
    h = LF.hilbert_encode([F.col("x"), F.col("y")], "int16")
    d = LF.hilbert_decode(h, 2, want_unsigned=True, input_width=32)
    return src.select(
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.element_at(d, 1).cast("long").alias("ux"),
        F.element_at(d, 2).cast("long").alias("uy"),
    )


# ---------------------------------------------------------------------------
# native Morton vs independent DuckDB bit-math (true value oracle)
# ---------------------------------------------------------------------------

_MORTON2_DUCK = """
WITH t AS (
  SELECT l_orderkey::BIGINT AS x, l_partkey::BIGINT AS y FROM lineitem
), s1 AS (
  SELECT x, y,
         (x | (x << 16)) & 281470681808895 AS xa,
         (y | (y << 16)) & 281470681808895 AS ya
  FROM t
), s2 AS (
  SELECT x, y,
         (xa | (xa << 8)) & 71777214294589695 AS xb,
         (ya | (ya << 8)) & 71777214294589695 AS yb
  FROM s1
), s3 AS (
  SELECT x, y,
         (xb | (xb << 4)) & 1085102592571150095 AS xc,
         (yb | (yb << 4)) & 1085102592571150095 AS yc
  FROM s2
), s4 AS (
  SELECT x, y,
         (xc | (xc << 2)) & 3689348814741910323 AS xd,
         (yc | (yc << 2)) & 3689348814741910323 AS yd
  FROM s3
), s5 AS (
  SELECT x, y,
         (xd | (xd << 1)) & 6148914691236517205 AS xe,
         (yd | (yd << 1)) & 6148914691236517205 AS ye
  FROM s4
)
SELECT x, y, ((xe << 1) | ye)::BIGINT AS m FROM s5
"""


@query("morton_native_vals_i32", _MORTON2_DUCK)
def q_morton_native_vals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native-Column Morton vs DuckDB's own magic-number interleave —
    independent implementations of the same public bit-math, compared
    value-by-value over every lineitem row."""
    li = _lineitem(spark, sf_dir)
    src = li.select(
        F.col("l_orderkey").cast("long").alias("x"),
        F.col("l_partkey").cast("long").alias("y"),
    )
    m = LF.morton_encode_native(
        [F.col("x").cast("int"), F.col("y").cast("int")], "int32"
    )
    return src.select("x", "y", m.alias("m"))


# Native-Column Hilbert vs an independent DuckDB implementation of the
# same public Skilling algorithm (recursive CTE over the 31 bit levels,
# then the same magic-number interleave as _MORTON2_DUCK).  Coordinates
# are masked to 31 bits so every intermediate stays positive in signed
# BIGINT math in both engines.
_HILBERT2_DUCK = """
WITH RECURSIVE pts AS (
  SELECT (l_orderkey * 2654435761) % 2147483648 AS x,
         (l_partkey * 69621) % 2147483648 AS y
  FROM lineitem
), st AS (
  SELECT x, y, x AS a, y AS b, 31 AS k FROM pts
  UNION ALL
  SELECT x, y,
         CASE WHEN (b & q) != 0 THEN xor(a1, p)
              ELSE xor(a1, CASE WHEN (b & q) != 0 THEN 0
                           ELSE xor(a1, b) & p END) END AS a,
         xor(b, CASE WHEN (b & q) != 0 THEN 0
                ELSE xor(a1, b) & p END) AS b,
         k - 1 AS k
  FROM (
    SELECT x, y, b, k, q, p,
           CASE WHEN (a & q) != 0 THEN xor(a, p) ELSE a END AS a1
    FROM (
      SELECT x, y, a, b, k,
             (1::BIGINT << k) AS q, (1::BIGINT << k) - 1 AS p
      FROM st WHERE k >= 1
    )
  )
), fin AS (
  SELECT x, y, a, xor(b, a) AS b2 FROM st WHERE k = 0
), casc AS (
  SELECT x, y, a, b2,
         xor(xor(xor(xor(xor(b2, b2 >> 1), xor(b2, b2 >> 1) >> 2),
             xor(xor(b2, b2 >> 1), xor(b2, b2 >> 1) >> 2) >> 4) ,
             xor(xor(xor(b2, b2 >> 1), xor(b2, b2 >> 1) >> 2),
             xor(xor(b2, b2 >> 1), xor(b2, b2 >> 1) >> 2) >> 4) >> 8) ,
             xor(xor(xor(xor(b2, b2 >> 1), xor(b2, b2 >> 1) >> 2),
             xor(xor(b2, b2 >> 1), xor(b2, b2 >> 1) >> 2) >> 4) ,
             xor(xor(xor(b2, b2 >> 1), xor(b2, b2 >> 1) >> 2),
             xor(xor(b2, b2 >> 1), xor(b2, b2 >> 1) >> 2) >> 4) >> 8) >> 16)
         AS y0
  FROM fin
), tt AS (
  SELECT x, y, xor(a, y0 >> 1) AS fa, xor(b2, y0 >> 1) AS fb FROM casc
), s1 AS (
  SELECT x, y,
         (fa | (fa << 16)) & 281470681808895 AS xa,
         (fb | (fb << 16)) & 281470681808895 AS ya
  FROM tt
), s2 AS (
  SELECT x, y, (xa | (xa << 8)) & 71777214294589695 AS xb,
               (ya | (ya << 8)) & 71777214294589695 AS yb FROM s1
), s3 AS (
  SELECT x, y, (xb | (xb << 4)) & 1085102592571150095 AS xc,
               (yb | (yb << 4)) & 1085102592571150095 AS yc FROM s2
), s4 AS (
  SELECT x, y, (xc | (xc << 2)) & 3689348814741910323 AS xd,
               (yc | (yc << 2)) & 3689348814741910323 AS yd FROM s3
), s5 AS (
  SELECT x, y, (xd | (xd << 1)) & 6148914691236517205 AS xe,
               (yd | (yd << 1)) & 6148914691236517205 AS ye FROM s4
)
SELECT x, y, ((xe << 1) | ye)::BIGINT AS h FROM s5
"""


@query("hilbert_vals_i32", _HILBERT2_DUCK)
def q_hilbert_vals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shipped :func:`hilbert_encode` (list-of-columns form, NumPy
    Skilling kernel behind the Arrow UDF) vs DuckDB's own recursive-CTE
    Skilling transform — independent implementations of the same
    published algorithm (J. Skilling, AIP Conf. Proc. 707, 2004),
    compared value-by-value over every lineitem row.  31-bit
    coordinates keep all math in positive signed-64 space in both
    engines."""
    li = _lineitem(spark, sf_dir)
    src = li.select(
        ((F.col("l_orderkey").cast("long") * F.lit(2654435761))
         % F.lit(2147483648)).alias("x"),
        ((F.col("l_partkey").cast("long") * F.lit(69621))
         % F.lit(2147483648)).alias("y"),
    )
    return src.select("x", "y", LF.hilbert_encode(
        [F.col("x"), F.col("y")], "int32").alias("h"))


# ---------------------------------------------------------------------------
# z-order write path: data-preserving end to end
# ---------------------------------------------------------------------------

@query(
    "zorder_readback",
    """
    SELECT COUNT(*)::BIGINT AS n_rows,
           SUM(l_orderkey)::BIGINT AS sum_ok,
           SUM(l_partkey)::BIGINT AS sum_pk,
           COUNT(DISTINCT l_orderkey)::BIGINT AS n_orders
    FROM lineitem
    """,
)
def q_zorder_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zorder_write → read back → aggregate: proves the clustering
    write is a pure reordering (reference workload, docs/README.md:56-70)."""
    li = _lineitem(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="lindel_zorder_rb_")
    LW.zorder_write(
        li, [F.col("l_orderkey").cast("int"), F.col("l_partkey").cast("int")],
        os.path.join(out, "z"), elem="int32", num_files=8,
    )
    rb = spark.read.parquet(os.path.join(out, "z"))
    return rb.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("l_orderkey").cast("long").alias("sum_ok"),
        F.sum("l_partkey").cast("long").alias("sum_pk"),
        F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# text analysis (lindel_spark/text.py) — exact-arithmetic oracle parity
# ---------------------------------------------------------------------------

# DuckDB needs the 'g' flag to match Spark's replace-all regexp_replace.
_DUCK_TOKS = "list_filter(string_split(text, ' '), t -> t != '')"

@query(
    "text_js_divergence",
    f"""
    WITH ta AS (
      SELECT t, COUNT(*)::BIGINT AS ca FROM (
        SELECT unnest({_DUCK_TOKS}) AS t FROM documents
        WHERE doc_id % 2 = 0) GROUP BY t
    ), tb AS (
      SELECT t, COUNT(*)::BIGINT AS cb FROM (
        SELECT unnest({_DUCK_TOKS}) AS t FROM documents
        WHERE doc_id % 2 = 1) GROUP BY t
    ), j AS (
      SELECT coalesce(ta.ca, 0) AS ca, coalesce(tb.cb, 0) AS cb
      FROM ta FULL OUTER JOIN tb ON ta.t = tb.t
    ), tot AS (
      SELECT SUM(ca)::DOUBLE AS na, SUM(cb)::DOUBLE AS nb FROM j
    )
    SELECT SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END)::BIGINT AS vocab_a,
           SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END)::BIGINT AS vocab_b,
           SUM(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END)::BIGINT
             AS vocab_shared,
           round(0.5 * SUM(CASE WHEN ca > 0 THEN (ca / na)
                   * log2(2.0 * (ca / na) / ((ca / na) + (cb / nb)))
                   ELSE 0.0 END)
                 + 0.5 * SUM(CASE WHEN cb > 0 THEN (cb / nb)
                   * log2(2.0 * (cb / nb) / ((ca / na) + (cb / nb)))
                   ELSE 0.0 END), 6) AS js_bits_r6
    FROM j, tot
    """,
)
def q_text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon vocabulary drift (round 13,
    :func:`lindel_spark.text.js_divergence`) between the even- and
    odd-doc_id halves of the corpus — the text-drift scalar pairing
    the numeric tier's PSI/KS (bounded [0,1] bits, symmetric, finite
    on disjoint vocabularies). Token-keyed full-outer count join +
    one scalar; 6dp."""
    from lindel_spark.text import js_divergence

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = js_divergence(docs.filter(F.col("doc_id") % 2 == 0),
                        docs.filter(F.col("doc_id") % 2 == 1))
    return out.select("vocab_a", "vocab_b", "vocab_shared",
                      F.round("js_bits", 6).alias("js_bits_r6"))


_TEXT_STATS_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents
)
SELECT doc_id,
       length(text)::BIGINT AS n_chars,
       len(toks)::BIGINT AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::BIGINT
         AS n_bpe_tokens,
       (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::BIGINT
         AS n_digits,
       (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::BIGINT
         AS n_punct,
       list_sum(list_transform(toks, t -> length(t)))::DOUBLE
         / len(toks)::DOUBLE AS avg_token_len,
       len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE AS ttr,
       (CASE WHEN len(toks) BETWEEN 10 AND 10000 THEN 1.0e0 ELSE 0.0e0 END) * 0.25e0
       + (CASE WHEN list_sum(list_transform(toks, t -> length(t)))::DOUBLE
                    / len(toks)::DOUBLE BETWEEN 2.0e0 AND 12.0e0
               THEN 1.0e0 ELSE 0.0e0 END) * 0.25e0
       + (len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE) * 0.25e0
       + ((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE
          / greatest(length(text)::DOUBLE, 1.0e0)) * 0.25e0 AS quality,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM d
"""


@query("text_stats", _TEXT_STATS_ORACLE)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats over the documents table — token counts,
    char-class counts, exact-arithmetic quality score, md5 fingerprint."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LT.text_stats(docs)


def _langid_oracle() -> str:
    langs = sorted(LT.LANG_STOPWORDS.items())
    score_exprs = []
    for code, words in langs:
        lst = ", ".join(f"'{w}'" for w in words)
        score_exprs.append(
            f"len(list_filter(list_filter(string_split(lower(text), ' '), "
            f"t -> t != ''), t -> list_contains([{lst}], t))) AS s_{code}"
        )
    best = "greatest(" + ", ".join(f"s_{c}" for c, _ in langs) + ")"
    whens = " ".join(
        f"WHEN s_{c} = {best} THEN '{c}'" for c, _ in langs
    )
    return f"""
    WITH s AS (
      SELECT doc_id, lang, {", ".join(score_exprs)} FROM documents
    )
    SELECT doc_id, lang,
           CASE {whens} END AS guess,
           (CASE {whens} END = lang)::BIGINT AS hit
    FROM s
    """


@query("text_langid", _langid_oracle())
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-argmax language ID vs the labeled lang column."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    guess = LT.language_id(F.col("text"))
    return docs.select(
        "doc_id", "lang", guess.alias("guess"),
        (guess == F.col("lang")).cast("long").alias("hit"),
    )


def _duck_char_grams(src: str, key: str, text_expr: str) -> str:
    """UNION-ALL char 2+3-gram extraction CTE body mirroring
    :func:`lindel_spark.text.char_ngrams` (normalize → 1-based substr
    window → length filter)."""
    s = f"trim(regexp_replace(lower({text_expr}), '\\s+', ' ', 'g'))"
    parts = []
    for n in (2, 3):
        parts.append(
            f"SELECT {key}, unnest(list_filter(list_transform("
            f"range(1, greatest(len({s}) - {n - 1}, 1) + 1), "
            f"i -> substr({s}, i, {n})), x -> len(x) = {n})) AS gram "
            f"FROM {src}")
    return " UNION ALL ".join(parts)


def _langid_trained_oracle() -> str:
    seeds = ", ".join(
        f"('{code}', '{s}')"
        for code, sents in sorted(LT.LANG_SEEDS.items()) for s in sents)
    langs = sorted(LT.LANG_STOPWORDS.items())
    score_exprs = []
    for code, words in langs:
        lst = ", ".join(f"'{w}'" for w in words)
        score_exprs.append(
            f"len(list_filter(list_filter(string_split(lower(text), ' '), "
            f"t -> t != ''), t -> list_contains([{lst}], t))) AS s_{code}")
    best = "greatest(" + ", ".join(f"s_{c}" for c, _ in langs) + ")"
    whens = " ".join(f"WHEN s_{c} = {best} THEN '{c}'" for c, _ in langs)
    return f"""
    WITH seeds(lang, text) AS (VALUES {seeds}),
    sg AS ({_duck_char_grams('seeds', 'lang', 'text')}),
    model AS (
      SELECT lang, gram, COUNT(*)::BIGINT AS cnt FROM sg GROUP BY 1, 2
    ),
    dg AS ({_duck_char_grams('documents', 'doc_id', 'text')}),
    tg AS (
      SELECT doc_id, gram, COUNT(*)::BIGINT AS m FROM dg GROUP BY 1, 2
    ),
    docn AS (SELECT doc_id, SUM(m) AS n_g FROM tg GROUP BY 1),
    lstat AS (SELECT lang, SUM(cnt)::DOUBLE AS t FROM model GROUP BY 1),
    vv AS (SELECT COUNT(DISTINCT gram)::DOUBLE AS v FROM model),
    seen AS (
      SELECT tg.doc_id, model.lang,
             SUM(tg.m * ln(model.cnt + 1.0)) AS s1,
             SUM(tg.m)::BIGINT AS n_seen
      FROM tg JOIN model USING (gram) GROUP BY 1, 2
    ),
    sc AS (
      SELECT d.doc_id, l.lang,
             round(COALESCE(se.s1, 0.0) - d.n_g * ln(l.t + vv.v),
                   6) AS score,
             COALESCE(se.n_seen, 0) AS n_seen
      FROM docn d CROSS JOIN lstat l CROSS JOIN vv
      LEFT JOIN seen se ON se.doc_id = d.doc_id AND se.lang = l.lang
    ),
    best AS (
      SELECT doc_id, lang, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang ASC) AS rk
      FROM sc
    ),
    tot AS (SELECT doc_id, SUM(n_seen) AS seen FROM sc GROUP BY 1),
    fb AS (
      SELECT doc_id, CASE {whens} END AS fbg
      FROM (SELECT doc_id, {", ".join(score_exprs)} FROM documents)
    )
    SELECT b.doc_id,
           CASE WHEN t.seen > 0 THEN b.lang ELSE f.fbg END AS guess,
           b.score
    FROM best b
    JOIN tot t USING (doc_id)
    JOIN fb f ON f.doc_id = b.doc_id
    WHERE b.rk = 1
    """


@query("text_langid_trained", _langid_trained_oracle())
def q_text_langid_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained char-n-gram Naive Bayes language ID (round 12,
    :func:`lindel_spark.text.trained_language_id`): a char 2+3-gram
    count model trains corpus-side on the deterministic
    ``LANG_SEEDS`` corpus (pure integer groupBy — the persisted-store
    pattern), scoring is Laplace log-count algebra joined gram-keyed
    (never doc×vocab), argmax over 6dp-rounded scores with the
    stopword argmax as fallback for unseen scripts. DuckDB replays
    the whole thing — seeds, grams, counts, logs, argmax, fallback —
    value-for-value."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    seeds = local_frame(
        spark,
        [(c, s) for c, ss in sorted(LT.LANG_SEEDS.items()) for s in ss],
        "lang string, text string")
    model = LT.langid_train(seeds)
    return LT.trained_language_id(model, docs).select(
        "doc_id", "guess", "score")


@query(
    "text_bigrams",
    f"""
    WITH d AS (SELECT {_DUCK_TOKS} AS toks FROM documents),
    g AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS ngram
      FROM d WHERE len(toks) >= 2
    )
    SELECT ngram, COUNT(*)::BIGINT AS cnt FROM g GROUP BY ngram
    HAVING COUNT(*) >= 10
    """,
)
def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequencies (map-side-combined groupBy)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LT.ngram_counts(docs, n=2, min_count=10)


# ---------------------------------------------------------------------------
# dedup (lindel_spark/dedup.py) — oracle replays identical MinHash/LSH math
# ---------------------------------------------------------------------------

def _minhash_tail(num_hashes: int, bands: int, threshold: float) -> str:
    """Shared minhash→band→verify SQL tail over an ``sh(id, sh)`` CTE.

    The band match is one EQUI-join per band UNIONed (set semantics
    dedupe pairs colliding in several bands), NOT a single join on
    ``b0=b0 OR b1=b1 OR ...`` — DuckDB cannot hash-join a disjunction
    and falls back to a nested loop that is quadratic in the doc
    count, which blew the round-8 sf1 sweep's timebox for the char
    n-gram variant (50k docs x 50k docs x list intersections). The
    candidate sets are identical; the replay is now O(candidates),
    the same complexity class as the Spark operator it checks."""
    r = num_hashes // bands
    sigs = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{j}:' || s))) AS s{j}"
        for j in range(num_hashes)
    )
    band_keys = ", ".join(
        "md5(" + " || '|' || ".join(f"s{b * r + i}" for i in range(r)) + f") AS b{b}"
        for b in range(bands)
    )
    band_joins = "\n      UNION\n".join(
        f"      SELECT x.id AS id_a, y.id AS id_b "
        f"FROM bnd x JOIN bnd y ON x.b{b} = y.b{b} AND x.id < y.id"
        for b in range(bands)
    )
    return f"""
    , sig AS (
      SELECT id, sh, {sigs} FROM sh
    ), bnd AS (
      SELECT id, sh, {band_keys} FROM sig
    ), cand AS (
{band_joins}
    ), pairs AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(list_distinct(a.sh || b.sh))::DOUBLE AS jaccard
      FROM cand c
      JOIN bnd a ON a.id = c.id_a
      JOIN bnd b ON b.id = c.id_b
    ), verified AS (
      SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= {threshold}e0
    )
    """


def _near_dup_char_cte(n: int = LD.DEFAULT_CHAR_NGRAM,
                       num_hashes: int = LD.DEFAULT_NUM_HASHES,
                       bands: int = LD.DEFAULT_BANDS,
                       threshold: float = LD.DEFAULT_THRESHOLD) -> str:
    """Char-n-gram variant of the near-dup pipeline (n-gram Jaccard)."""
    return f"""
    WITH sh AS (
      SELECT doc_id::BIGINT AS id,
             list_distinct(list_transform(range(1, length(text) - {n - 2}),
                                          i -> substr(text, i, {n}))) AS sh
      FROM documents WHERE length(text) >= {n}
    )
    """ + _minhash_tail(num_hashes, bands, threshold)


def _near_dup_cte(k: int = LD.DEFAULT_SHINGLE_K,
                  num_hashes: int = LD.DEFAULT_NUM_HASHES,
                  bands: int = LD.DEFAULT_BANDS,
                  threshold: float = LD.DEFAULT_THRESHOLD) -> str:
    """DuckDB CTE chain computing the same shingle→minhash→band→verify
    pipeline as :func:`lindel_spark.dedup.near_dup_pairs` (band joins
    as per-band equi-joins — see :func:`_minhash_tail`)."""
    shingle = " || ' ' || ".join(f"toks[i + {j}]" for j in range(k)).replace(
        "toks[i + 0]", "toks[i]"
    )
    return f"""
    WITH d AS (
      SELECT doc_id::BIGINT AS id,
             list_filter(string_split(text, ' '), t -> t != '') AS toks
      FROM documents
    ), sh AS (
      SELECT id,
             list_distinct(list_transform(range(1, len(toks) - {k - 2}),
                                          i -> {shingle})) AS sh
      FROM d WHERE len(toks) >= {k}
    )
    """ + _minhash_tail(num_hashes, bands, threshold)


@query(
    "dedup_exact_groups",
    """
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           MIN(doc_id)::BIGINT AS keep_id,
           COUNT(*)::BIGINT AS n_dups
    FROM documents GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: hash-groupBy on the normalized fingerprint."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LD.exact_dup_groups(docs)


@query(
    "dedup_near_pairs",
    _near_dup_cte() + "SELECT id_a, id_b, jaccard FROM verified",
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH near-dup pairs with exact-Jaccard verification —
    value-compared against DuckDB replaying the identical pipeline."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LD.near_dup_pairs(docs)


def _simhash_cte(bits: int = LD.SIMHASH_BITS,
                 bands: int = LD.SIMHASH_BANDS,
                 max_hamming: int = LD.DEFAULT_MAX_HAMMING) -> str:
    """DuckDB replay of the native-column SimHash pipeline."""
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    sim_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> {b}) & 1) * 2 - 1)) > 0 "
        f"THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(bits)
    )
    band_match = " OR ".join(
        f"((x.sim >> {b * band_bits}) & {mask}) = ((y.sim >> {b * band_bits}) & {mask})"
        for b in range(bands)
    )
    return f"""
    WITH d AS (
      SELECT doc_id::BIGINT AS id,
             list_filter(string_split(text, ' '), t -> t != '') AS toks
      FROM documents
    ), h AS (
      SELECT id,
             list_transform(toks,
                            t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
      FROM d WHERE len(toks) > 0
    ), s AS (
      SELECT id, ({sim_terms}) AS sim FROM h
    ), p AS (
      SELECT x.id AS id_a, y.id AS id_b,
             bit_count(xor(x.sim, y.sim))::BIGINT AS hamming
      FROM s x JOIN s y ON x.id < y.id AND ({band_match})
    )
    SELECT DISTINCT id_a, id_b, hamming FROM p WHERE hamming <= {max_hamming}
    """


@query("dedup_simhash_pairs", _simhash_cte())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3 over a 32-bit signature).
    Exact by pigeonhole (bands > max_hamming), so the DuckDB replay of
    the identical md5-bit pipeline hash-compares value-for-value."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LD.simhash_near_dup_pairs(docs)


@query(
    "dedup_ngram_jaccard",
    _near_dup_char_cte() + "SELECT id_a, id_b, jaccard FROM verified",
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram Jaccard near-dup pairs (MinHash/LSH bucketed)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LD.near_dup_pairs(docs, k=LD.DEFAULT_CHAR_NGRAM, shingles="char")


def _snm_oracle(window: int = 5, k: int = LD.DEFAULT_SHINGLE_K,
                threshold: float = LD.DEFAULT_THRESHOLD) -> str:
    """DuckDB replay of sorted-neighborhood dedup: row_number over the
    same (text, id) binary order, pairs within ``window`` ranks,
    exact shingle Jaccard."""
    shingle = " || ' ' || ".join(f"toks[i + {j}]" for j in range(k)).replace(
        "toks[i + 0]", "toks[i]"
    )
    return f"""
    WITH d AS (
      SELECT doc_id::BIGINT AS id, text,
             list_filter(string_split(text, ' '), t -> t != '') AS toks
      FROM documents
    ), sh AS (
      SELECT id, text,
             list_distinct(list_transform(range(1, len(toks) - {k - 2}),
                                          i -> {shingle})) AS sh
      FROM d WHERE len(toks) >= {k}
    ), r AS (
      SELECT id, sh, row_number() OVER (ORDER BY text, id) AS rnk
      FROM sh
    ), p AS (
      SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b,
             len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(list_distinct(a.sh || b.sh))::DOUBLE AS jaccard
      FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND {window - 1}
    )
    SELECT DISTINCT id_a, id_b, jaccard FROM p
    WHERE jaccard >= {threshold}e0
    """


@query("dedup_sorted_neighborhood", _snm_oracle())
def q_dedup_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup pairs
    (:func:`lindel_spark.dedup.sorted_neighborhood_pairs`): global
    positions via the distributed :func:`lindel_spark.util.global_rank`
    (range shuffle + map-only enumeration — no single-task window),
    candidates bounded at n x (window-1). The oracle replays the
    identical order/window/Jaccard in DuckDB, so ranks, pairing, and
    similarity values all hash-compare."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LD.sorted_neighborhood_pairs(docs)


def _prefix_filter_oracle(threshold: float = 0.8,
                          k: int = LD.DEFAULT_SHINGLE_K) -> str:
    """DuckDB replay of the prefix-filtering set-similarity join over
    word k-shingle sets: same rarest-first global order, same prefix
    length, same size filter, exact Jaccard — hash-compares
    value-for-value."""
    t = f"{threshold}e0"
    shingle = " || ' ' || ".join(
        f"toks[i + {j}]" for j in range(k)).replace(
        "toks[i + 0]", "toks[i]")
    return f"""
    WITH raw AS (
      SELECT doc_id::BIGINT AS id, {_DUCK_TOKS} AS toks FROM documents
    ), d AS (
      SELECT id,
             list_distinct(list_transform(range(1, len(toks) - {k - 2}),
                                          i -> {shingle})) AS toks
      FROM raw WHERE len(toks) >= {k}
    ), tok AS (
      SELECT id, unnest(toks) AS t FROM d
    ), freq AS (
      SELECT t, COUNT(*)::BIGINT AS f FROM tok GROUP BY t
    ), ordered AS (
      SELECT tok.id, list(tok.t ORDER BY freq.f, tok.t) AS toks,
             COUNT(*)::INT AS n
      FROM tok JOIN freq USING (t) GROUP BY tok.id
    ), pref AS (
      SELECT id, n,
             unnest(toks[1 : n - CAST(ceil({t} * n) AS INT) + 1]) AS p
      FROM ordered
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM pref a JOIN pref b
        ON a.p = b.p AND a.id < b.id
       AND {t} * greatest(a.n, b.n) <= least(a.n, b.n)
    ), pairs AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(x.toks, y.toks))::DOUBLE
               / len(list_distinct(x.toks || y.toks))::DOUBLE AS jaccard
      FROM cand c
      JOIN ordered x ON x.id = c.id_a
      JOIN ordered y ON y.id = c.id_b
    )
    SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= {t}
    """


@query("dedup_prefix_filter_pairs", _prefix_filter_oracle())
def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-set Jaccard join via prefix filtering
    (:func:`lindel_spark.dedup.set_similarity_join`, round 9): the
    deterministic complement to MinHash — no false negatives, so the
    DuckDB replay of the identical rarest-first order / prefix /
    size-filter / verify chain hash-compares value-for-value. Same
    element definition and threshold as ``dedup_near_pairs``, making
    this the exact superset cross-check of the LSH path."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LD.set_similarity_join(docs, threshold=0.8,
                                  shingle_k=LD.DEFAULT_SHINGLE_K)


_SHARED_SPAN = ("shared span alpha bravo charlie delta echo foxtrot "
                "golf hotel")


@query(
    "dedup_substring_spans",
    f"""
    WITH injected AS (
      SELECT doc_id, CASE WHEN doc_id % 5 = 0
        THEN text || ' {_SHARED_SPAN}' ELSE text END AS text
      FROM documents
    ),
    base AS (
      SELECT doc_id AS id,
             list_filter(string_split(text, ' '), t -> t != '') AS toks
      FROM injected
    ),
    g AS (
      SELECT id, list_transform(range(1, len(toks) - 6),
            i -> struct_pack(gpos := (i - 1)::BIGINT,
                             g := md5(array_to_string(toks[i:i+7], ' '))))
             AS gl
      FROM base WHERE len(toks) >= 8
    ),
    grams AS (SELECT id, unnest(gl, recursive := true) FROM g),
    dup AS (
      SELECT g, MIN(id) AS owner FROM grams
      GROUP BY g HAVING COUNT(DISTINCT id) >= 2
    ),
    cov0 AS (
      SELECT grams.id AS id, unnest(range(gpos, gpos + 8)) AS pos
      FROM grams JOIN dup USING (g) WHERE grams.id != dup.owner
    ),
    cov AS (SELECT DISTINCT id, pos FROM cov0),
    tok AS (
      SELECT id, unnest(toks) AS tok,
             generate_subscripts(toks, 1)::BIGINT - 1 AS pos
      FROM base
    ),
    kept AS (
      SELECT t.id, t.pos, t.tok FROM tok t
      ANTI JOIN cov c ON t.id = c.id AND t.pos = c.pos
    ),
    agg AS (
      SELECT id,
             array_to_string(list(tok ORDER BY pos), ' ') AS text_clean,
             COUNT(*)::BIGINT AS n_kept
      FROM kept GROUP BY id
    )
    SELECT b.id::BIGINT AS doc_id,
           COALESCE(a.text_clean, '') AS text_clean,
           (len(b.toks) - COALESCE(a.n_kept, 0))::BIGINT AS n_removed
    FROM base b LEFT JOIN agg a USING (id)
    """,
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SPAN removal (round 10,
    :func:`lindel_spark.dedup.substring_dup_spans` — Lee et al. 2022
    shape): a shared 10-token span is injected into every 5th document
    and must survive ONLY in the owner (min doc id); the oracle
    replays the identical gram-hash / owner / covered-position chain,
    so the cleaned texts hash-compare value-for-value, including the
    corpus's natural cross-document 8-gram overlaps."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    injected = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" " + _SHARED_SPAN)))
        .otherwise(F.col("text")).alias("text"),
    )
    return LD.substring_dup_spans(injected, k=8)


@query(
    "dedup_substring_incremental",
    f"""
    WITH injected AS (
      SELECT doc_id, CASE WHEN doc_id % 5 = 0
        THEN text || ' {_SHARED_SPAN}' ELSE text END AS text
      FROM documents
    ),
    base AS (
      SELECT doc_id AS id,
             list_filter(string_split(text, ' '), t -> t != '') AS toks
      FROM injected
    ),
    g AS (
      SELECT id, list_transform(range(1, len(toks) - 6),
            i -> struct_pack(gpos := (i - 1)::BIGINT,
                             g := md5(array_to_string(toks[i:i+7], ' '))))
             AS gl
      FROM base WHERE len(toks) >= 8
    ),
    grams AS (SELECT id, unnest(gl, recursive := true) FROM g),
    store AS (SELECT DISTINCT g FROM grams WHERE id < 250),
    bgrams AS (SELECT * FROM grams WHERE id >= 250),
    bdup AS (
      SELECT g, MIN(id) AS b_owner, COUNT(DISTINCT id) AS nd
      FROM bgrams GROUP BY g
    ),
    cov0 AS (
      SELECT bg.id AS id, unnest(range(bg.gpos, bg.gpos + 8)) AS pos
      FROM bgrams bg
      JOIN bdup d USING (g)
      LEFT JOIN (SELECT g, true AS in_store FROM store) s USING (g)
      WHERE COALESCE(s.in_store, false)
         OR (d.nd >= 2 AND bg.id != d.b_owner)
    ),
    cov AS (SELECT DISTINCT id, pos FROM cov0),
    tok AS (
      SELECT id, unnest(toks) AS tok,
             generate_subscripts(toks, 1)::BIGINT - 1 AS pos
      FROM base WHERE id >= 250
    ),
    kept AS (
      SELECT t.id, t.pos, t.tok FROM tok t
      ANTI JOIN cov c ON t.id = c.id AND t.pos = c.pos
    ),
    agg AS (
      SELECT id,
             array_to_string(list(tok ORDER BY pos), ' ') AS text_clean,
             COUNT(*)::BIGINT AS n_kept
      FROM kept GROUP BY id
    )
    SELECT b.id::BIGINT AS doc_id,
           COALESCE(a.text_clean, '') AS text_clean,
           (len(b.toks) - COALESCE(a.n_kept, 0))::BIGINT AS n_removed
    FROM base b LEFT JOIN agg a USING (id)
    WHERE b.id >= 250
    """,
)
def q_dedup_substring_incremental(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Incremental duplicated-span removal (round 10,
    :func:`lindel_spark.dedup.incremental_substring_dedup`): the first
    half of the corpus is processed once and its gram store persists
    (the historical TEXT is never rescanned); the second half arrives
    as a new batch — spans already owned by history are excised from
    every batch doc (the injected shared span survives only in its
    historical owner), batch-internal duplicates keep exactly one
    batch copy. The oracle replays the whole two-phase chain."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    injected = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" " + _SHARED_SPAN)))
        .otherwise(F.col("text")).alias("text"),
    )
    hist = injected.filter(F.col("doc_id") < 250)
    batch = injected.filter(F.col("doc_id") >= 250)
    _hist_clean, store = LD.incremental_substring_dedup(hist, None, k=8)
    cleaned, _new = LD.incremental_substring_dedup(batch, store, k=8)
    return cleaned


#: Cap on the exact ground-truth sample inside ``dedup_embedding_cosine``.
#: The *operator* under test is LSH-banded (never all-pairs); only the
#: verification needs exact pairs, and an expected-size-2k md5-fraction
#: sample keeps that stage broadcastable at any corpus size instead of
#: an O(n^2) full crossJoin that would be unrunnable at sf1+.
_EMB_GT_SAMPLE_CAP = 2000


@query(
    "dedup_embedding_cosine",
    f"""
    WITH e AS (
      SELECT vec_id::BIGINT AS id, embedding::DOUBLE[] AS v FROM embeddings
    ), s AS (
      SELECT id, v FROM e
      WHERE ('0x' || substr(md5(id::VARCHAR || 'embgt'), 1, 15))::BIGINT
              / 1152921504606846976.0
            < least(1.0, {float(_EMB_GT_SAMPLE_CAP)}
                           / greatest(1, (SELECT COUNT(*) FROM e)))
    )
    SELECT COUNT(*)::BIGINT AS n_true_pairs, true AS recall_ok
    FROM s a JOIN s b ON a.id < b.id
    WHERE list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))) >= 0.4
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via SimHash-banded self-join —
    self-checking: emits the exact ground-truth pair count over a
    deterministic md5-fraction sample (expected size
    ``_EMB_GT_SAMPLE_CAP``, so the exact stage stays broadcastable at
    any corpus size; the sequential fold is bit-identical to DuckDB's
    list_dot_product, so the count hash-matches the sampled oracle)
    plus a recall_ok >= 0.8 boolean for the LSH pipeline against it."""
    from lindel_spark.sampling import split_fraction

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    found = LS.embedding_near_dup_pairs(emb, threshold=0.4).select(
        "id_a", "id_b", F.lit(1).alias("hit"))
    e = emb.select(F.col("vec_id").cast("long").alias("id"),
                   F.col("embedding").alias("v"))
    # one driver-side scalar: the corpus count that sets the sample rate
    thresh = min(1.0, float(_EMB_GT_SAMPLE_CAP) / max(1, e.count()))
    s = e.filter(split_fraction(F.col("id"), "embgt") < F.lit(thresh))
    a, b = s.alias("a"), s.alias("b")
    true_pairs = (
        # bounded-sample exact pass: broadcast of an expected-2k-row
        # side (BroadcastNestedLoopJoin), never a full-corpus cartesian
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                LS.cosine_similarity(F.col("a.v"), F.col("b.v")).alias("cos"))
        .filter(F.col("cos") >= 0.4)
        .select("id_a", "id_b")
    )
    j = true_pairs.join(found, ["id_a", "id_b"], "left")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_true_pairs"),
        (F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
         / F.count(F.lit(1)).cast("double") >= F.lit(0.8)).alias("recall_ok"),
    )


@query(
    "dedup_clusters",
    _near_dup_cte().replace("WITH d AS", "WITH RECURSIVE d AS", 1)
    + """
    , edges AS (
      SELECT id_a AS s, id_b AS d FROM verified
      UNION ALL
      SELECT id_b, id_a FROM verified
    ), reach AS (
      SELECT doc_id::BIGINT AS id, doc_id::BIGINT AS label FROM documents
      UNION
      SELECT e.s, r.label FROM edges e JOIN reach r ON e.d = r.id
    )
    SELECT id, MIN(label)::BIGINT AS cluster FROM reach GROUP BY id
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup graph (iterative min-
    label propagation) vs DuckDB's recursive-CTE reachability minimum."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LD.dup_clusters(docs)


@query(
    "dedup_kept_ids",
    _near_dup_cte()
    + """
    SELECT doc_id::BIGINT AS doc_id FROM documents
    WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM verified)
    """,
)
def q_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving ids after greedy near-dup removal."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LD.drop_near_duplicates(docs).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )


@query(
    "dedup_kept_best",
    _near_dup_cte().replace("WITH d AS", "WITH RECURSIVE d AS", 1)
    + """
    , edges AS (
      SELECT id_a AS s, id_b AS d FROM verified
      UNION ALL
      SELECT id_b, id_a FROM verified
    ), reach AS (
      SELECT doc_id::BIGINT AS id, doc_id::BIGINT AS label FROM documents
      UNION
      SELECT e.s, r.label FROM edges e JOIN reach r ON e.d = r.id
    ), clusters AS (
      SELECT id, MIN(label)::BIGINT AS cluster FROM reach GROUP BY id
    )
    SELECT doc_id, score FROM (
      SELECT dd.doc_id::BIGINT AS doc_id,
             length(dd.text)::BIGINT AS score,
             ROW_NUMBER() OVER (PARTITION BY c.cluster
                                ORDER BY length(dd.text) DESC,
                                         dd.doc_id) AS rn
      FROM documents dd JOIN clusters c ON dd.doc_id = c.id
    ) WHERE rn = 1
    """,
)
def q_dedup_kept_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection (round 10,
    :func:`lindel_spark.dedup.keep_best_in_cluster`): near-dup
    clusters via min-label connected components, then each cluster
    keeps its LONGEST member (text length as the quality signal —
    exact integer, engine-replayable) instead of the min-id accident;
    ties break on ascending id. The oracle replays the recursive-CTE
    clusters plus the same window."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    clusters = LD.dup_clusters(docs)
    scored = docs.withColumn("score",
                             F.length("text").cast("long"))
    kept = LD.keep_best_in_cluster(scored, clusters, "score")
    return kept.select(F.col("doc_id").cast("long").alias("doc_id"),
                       "score")


# ---------------------------------------------------------------------------
# host-engine analytics coverage (SURVEY §2.5: joins/aggs/sorts are
# Spark-native; these classic queries prove the surface end to end)
# ---------------------------------------------------------------------------

@query(
    "tpch_q1_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
           SUM(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
           SUM((l_extendedprice::DECIMAL(18,2)) * (1 - l_discount::DECIMAL(18,2)))::DOUBLE
             AS sum_disc_price,
           COUNT(*)::BIGINT AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (filter→groupBy→decimal aggs)."""
    li = _lineitem(spark, sf_dir)
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


@query(
    "tpch_q3_shipping",
    """
    SELECT l.l_orderkey::BIGINT AS l_orderkey,
           SUM((l.l_extendedprice::DECIMAL(18,2)) * (1 - l.l_discount::DECIMAL(18,2)))::DOUBLE
             AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1997-03-15'
      AND l.l_shipdate > DATE '1997-03-15'
    GROUP BY 1, 3, 4
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority (3-way join, small dims
    broadcast by AQE, decimal revenue)."""
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    li = _lineitem(spark, sf_dir)
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)")))
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c["c_custkey"] == o["o_custkey"])
        .filter(F.col("o_orderdate") < F.lit("1997-03-15").cast("date"))
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") > F.lit("1997-03-15").cast("date"))
        .groupBy(
            F.col("l_orderkey").cast("long").alias("l_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "tpch_q5_local_volume",
    """
    SELECT n.n_name,
           SUM((l.l_extendedprice::DECIMAL(18,2)) * (1 - l.l_discount::DECIMAL(18,2)))::DOUBLE
             AS revenue
    FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
                     AND c.c_nationkey = s.s_nationkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style local-supplier volume (6-way join; nation/region
    broadcast)."""
    rd = os.path.join
    c = spark.read.parquet(rd(sf_dir, "customer.parquet"))
    o = spark.read.parquet(rd(sf_dir, "orders.parquet"))
    li = _lineitem(spark, sf_dir)
    s = spark.read.parquet(rd(sf_dir, "supplier.parquet"))
    n = F.broadcast(spark.read.parquet(rd(sf_dir, "nation.parquet")))
    r = F.broadcast(spark.read.parquet(rd(sf_dir, "region.parquet")))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)")))
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(s, (li["l_suppkey"] == s["s_suppkey"])
              & (c["c_nationkey"] == s["s_nationkey"]))
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
        )
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# event streams (lindel_spark/streaming.py, batch form of shared ops)
# ---------------------------------------------------------------------------

_GAP_US = 30 * 60 * 1_000_000


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with ``ts`` as a UTC TIMESTAMP at microsecond precision,
    whichever layout the generator wrote (legacy TIMESTAMP(NANOS)-as-
    long or modern timestamp[us]) — see sources.load_events for the
    dual-schema contract. Every derived value downstream is absolute
    epoch math, so results are independent of the stored layout."""
    from lindel_spark.sources import load_events

    return load_events(spark, sf_dir)


@query(
    "events_windowed_rollup",
    """
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start,
           event_type,
           COUNT(*)::BIGINT AS n_events,
           SUM(value::DECIMAL(18,2))::DOUBLE AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup per event type — the batch face of
    streaming.windowed_rollup (window() is engine-shared)."""
    from lindel_spark import streaming as ST

    ev = _events(spark, sf_dir)
    r = ST.windowed_rollup(ev, window="1 hour")
    return r.select(
        F.unix_timestamp("window_start").alias("window_start"),
        "event_type", "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


@query(
    "events_rolling_hour",
    """
    WITH e AS (
      SELECT event_id::BIGINT AS event_id, user_id::BIGINT AS user_id,
             epoch_us(ts)::BIGINT AS tus,
             (value::DECIMAL(18,2) * 100)::BIGINT AS cents
      FROM events
    )
    SELECT event_id, user_id,
           SUM(cents) OVER (
             PARTITION BY user_id ORDER BY tus
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           )::BIGINT AS hour_cents,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY tus
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           )::BIGINT AS hour_events
    FROM e
    """,
)
def q_events_rolling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour rolling aggregates per user — a RANGE-frame
    window on the event-time axis (peers included identically in both
    engines), exact integer cents so the rolling sums hash-compare.
    One shuffle on user_id; the frame is streamed per partition."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros("ts").alias("tus"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long")
        .alias("cents"),
    )
    w = (Window.partitionBy("user_id").orderBy("tus")
         .rangeBetween(-3600_000_000, 0))
    return ev.select(
        "event_id", "user_id",
        F.sum("cents").over(w).cast("long").alias("hour_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("hour_events"),
    )


@query(
    "events_anomaly_zscore",
    """
    WITH e AS (
      SELECT user_id::BIGINT AS user_id,
             (value::DECIMAL(18,2) * 100)::BIGINT AS cents
      FROM events
    ), s AS (
      SELECT user_id, COUNT(*)::BIGINT AS n,
             SUM(cents)::BIGINT AS s1,
             SUM(cents * cents)::BIGINT AS s2
      FROM e GROUP BY 1
    )
    SELECT e.user_id,
           s.n AS n_events,
           SUM(CASE WHEN (s.n * e.cents - s.s1) * (s.n * e.cents - s.s1)
                        > 4 * (s.n * s.s2 - s.s1 * s.s1)
                    THEN 1 ELSE 0 END)::BIGINT AS n_anomalies
    FROM e JOIN s USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 2-sigma outlier counts in EXACT integer arithmetic:
    |v - mean| > 2*stddev rearranged to (n*v - sum)^2 > 4*(n*sum_sq -
    sum^2) over bigint cents — no floating-point accumulation order to
    diverge between engines. Self-joined aggregates = one shuffle on
    user_id (the stats side is a map-side partial agg)."""
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long")
        .alias("cents"),
    )
    stats = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("s2"),
    )
    j = ev.join(stats, "user_id")
    dev = F.col("n") * F.col("cents") - F.col("s1")
    flag = (dev * dev) > (4 * (F.col("n") * F.col("s2")
                               - F.col("s1") * F.col("s1")))
    return j.groupBy("user_id", F.col("n").alias("n_events")).agg(
        F.sum(F.when(flag, 1).otherwise(0)).cast("long")
        .alias("n_anomalies"),
    )


@query(
    "events_sessionize",
    f"""
    WITH e AS (
      SELECT user_id::BIGINT AS u, epoch_us(ts)::BIGINT AS tus FROM events
    ), o AS (
      SELECT u, tus,
             CASE WHEN lag(tus) OVER w IS NULL
                       OR tus - lag(tus) OVER w >= {_GAP_US}
                  THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY u ORDER BY tus)
    ), g AS (
      SELECT u, tus,
             SUM(brk) OVER (PARTITION BY u ORDER BY tus
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT u AS user_id,
           MIN(tus) // 1000000 AS session_start,
           (MAX(tus) + {_GAP_US}) // 1000000 AS session_end,
           COUNT(*)::BIGINT AS n_events
    FROM g GROUP BY u, sid
    """,
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window gap sessionization vs the classic gaps-and-islands
    SQL (lag + cumulative break-sum) — same sessions, value-exact."""
    from lindel_spark import streaming as ST

    ev = _events(spark, sf_dir)
    s = ST.sessionize(ev, gap="30 minutes")
    return s.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_timestamp("session_start").alias("session_start"),
        F.unix_timestamp("session_end").alias("session_end"),
        "n_events",
    )


@query(
    "events_multi_grain_rollup",
    """
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start,
           event_type,
           COUNT(*)::BIGINT AS n_events,
           SUM(value::DECIMAL(18,2))::DOUBLE AS sum_value,
           '1 hour' AS grain
    FROM events GROUP BY 1, 2
    UNION ALL
    SELECT (epoch_us(ts) // 86400000000) * 86400,
           event_type, COUNT(*)::BIGINT,
           SUM(value::DECIMAL(18,2))::DOUBLE, '1 day'
    FROM events GROUP BY 1, 2
    """,
)
def q_events_multi_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup at hour and day grains in one frame."""
    from lindel_spark import streaming as ST

    ev = _events(spark, sf_dir)
    r = ST.multi_grain_rollup(ev, grains=("1 hour", "1 day"))
    return r.select(
        F.unix_timestamp("window_start").alias("window_start"),
        "event_type", "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        "grain",
    )


@query(
    "events_rolling_value",
    """
    SELECT event_id::BIGINT AS event_id,
           user_id::BIGINT AS user_id,
           SUM(value::DECIMAL(18,2)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
           )::DOUBLE AS rolling_value,
           row_number() OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           )::BIGINT AS rn
    FROM events
    """,
)
def q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-ordered rolling window (ANSI frame semantics)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    return ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w.rowsBetween(-3, 0)).cast("double").alias("rolling_value"),
        F.row_number().over(w).cast("long").alias("rn"),
    )


@query(
    "events_latest_per_user",
    """
    WITH v AS (
      SELECT user_id::BIGINT AS user_id,
             event_id::BIGINT AS event_id,
             epoch_us(ts)::BIGINT AS tus,
             event_type,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC
             ) AS rn
      FROM events
    )
    SELECT user_id, event_id, tus, event_type
    FROM v WHERE rn = 1
    """,
)
def q_events_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction: each user's single latest event by
    (ts, event_id) — dedup.latest_by_key, the CDC upsert
    materialization pass, oracle-replayed."""
    from lindel_spark.dedup import latest_by_key

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros("ts").alias("tus"),
        "event_type",
    )
    return latest_by_key(ev, "user_id", ["tus", "event_id"])


@query(
    "events_json_props",
    """
    SELECT event_type,
           SUM(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
           COUNT(*)::BIGINT AS n
    FROM events GROUP BY 1
    """,
)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + aggregation over the props column."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


@query(
    "events_percentiles",
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95,
           MIN(value) AS vmin, MAX(value) AS vmax
    FROM events GROUP BY 1
    """,
)
def q_events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ordered-set aggregates: Spark percentile() and DuckDB
    quantile_cont share the (n-1)*q linear-interpolation definition, so
    values hash-compare bit-for-bit."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


@query(
    "sql_registration_surface",
    """
    SELECT 22::BIGINT AS h, 29::BIGINT AS m,
           1::BIGINT AS dx, 2::BIGINT AS dy, 3::BIGINT AS dz
    """,
)
def q_sql_registration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-name surface end to end: register() then pure
    spark.sql() calls (reference catalog registration parity,
    src/lindel_extension.cpp:948-1026)."""
    LF.register(spark, elems=("int8",))
    return spark.sql("""
        SELECT CAST(hilbert_encode_int8_3(array(1Y, 2Y, 3Y)) AS BIGINT) AS h,
               CAST(morton_encode_int8_3(array(1Y, 2Y, 3Y)) AS BIGINT) AS m,
               CAST(hilbert_decode_32_3(CAST(22 AS BIGINT))[0] AS BIGINT) AS dx,
               CAST(hilbert_decode_32_3(CAST(22 AS BIGINT))[1] AS BIGINT) AS dy,
               CAST(hilbert_decode_32_3(CAST(22 AS BIGINT))[2] AS BIGINT) AS dz
    """)


# ---------------------------------------------------------------------------
# skew-robust patterns (lindel_spark/skew.py)
# ---------------------------------------------------------------------------

@query(
    "skew_salted_join",
    """
    SELECT o.o_orderstatus,
           COUNT(*)::BIGINT AS n,
           SUM(l.l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join == plain join, aggregated per order status (salt
    invariance makes the random salt irrelevant to the result)."""
    from lindel_spark.skew import salted_join

    li = _lineitem(spark, sf_dir)
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    j = salted_join(li.select("l_orderkey", "l_quantity"), o,
                    "l_orderkey", salt=8)
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double").alias("sum_qty"),
    )


@query(
    "skew_two_phase_distinct",
    """
    SELECT l_returnflag AS k, COUNT(DISTINCT l_suppkey)::BIGINT AS n_distinct
    FROM lineitem GROUP BY 1
    """,
)
def q_skew_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe COUNT(DISTINCT) as dedupe-then-count."""
    from lindel_spark.skew import two_phase_distinct

    li = _lineitem(spark, sf_dir).select(
        F.col("l_returnflag").alias("k"), "l_suppkey"
    )
    return two_phase_distinct(li, "k", "l_suppkey")


# ---------------------------------------------------------------------------
# join-class operators (lindel_spark/joins.py)
# ---------------------------------------------------------------------------

@query(
    "asof_join_events",
    """
    WITH c AS (
      SELECT event_id::BIGINT AS event_id, user_id::BIGINT AS user_id,
             epoch_us(ts)::BIGINT AS tus
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id::BIGINT AS user_id, epoch_us(ts)::BIGINT AS tus,
             MAX(value) AS pval
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT c.event_id, c.user_id, c.tus, p.pval AS value_r
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.tus >= p.tus
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click gets the user's latest
    prior-or-equal purchase value — vs DuckDB's native ASOF JOIN."""
    from lindel_spark.joins import asof_join

    ev = _events(spark, sf_dir).withColumn("tus", F.unix_micros("ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "tus",
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").cast("long").alias("user_id"), "tus")
        .agg(F.max("value").alias("value"))
    )
    return asof_join(clicks, purchases, on="user_id",
                     left_ts="tus", right_ts="tus", value_cols=["value"])


@query(
    "asof_join_forward",
    """
    WITH c AS (
      SELECT event_id::BIGINT AS event_id, user_id::BIGINT AS user_id,
             epoch_us(ts)::BIGINT AS tus
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id::BIGINT AS user_id, epoch_us(ts)::BIGINT AS tus,
             MAX(value) AS pval
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT c.event_id, c.user_id, c.tus, p.pval AS value_r
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.tus <= p.tus
    """,
)
def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click gets the user's NEXT purchase
    value (earliest at-or-after) — vs DuckDB's native forward ASOF
    (``l.ts <= r.ts``). Same single-shuffle union+window plan as the
    backward direction, frame walked in reverse."""
    from lindel_spark.joins import asof_join

    ev = _events(spark, sf_dir).withColumn("tus", F.unix_micros("ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "tus",
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").cast("long").alias("user_id"), "tus")
        .agg(F.max("value").alias("value"))
    )
    return asof_join(clicks, purchases, on="user_id",
                     left_ts="tus", right_ts="tus", value_cols=["value"],
                     direction="forward")


@query(
    "events_gapfilled_rollup",
    """
    WITH r AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             COUNT(*)::BIGINT AS n,
             SUM(value::DECIMAL(18,2)) AS sv
      FROM events GROUP BY 1, 2
    ), b AS (
      SELECT event_type, min(h) AS mn, max(h) AS mx FROM r GROUP BY 1
    ), spine AS (
      SELECT event_type,
             unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
      FROM b
    )
    SELECT s.event_type,
           epoch_us(s.h)::BIGINT AS bucket_us,
           COALESCE(r.n, 0)::BIGINT AS n_events,
           (r.n IS NULL) AS gap_filled,
           CAST(last_value(r.sv IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS sum_value_locf
    FROM spine s LEFT JOIN r ON r.event_type = s.event_type AND r.h = s.h
    """,
)
def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-filled hourly rollup: dense per-type time
    spine, zero-filled missing hours, value sum carried forward — see
    :func:`lindel_spark.streaming.gapfill_rollup` (the sf0.01 events
    have ~40-55 empty hours per type, so the fill path is exercised)."""
    from lindel_spark.streaming import gapfill_rollup

    ev = _events(spark, sf_dir)
    out = gapfill_rollup(ev, window="1 hour")
    return out.select(
        "event_type",
        F.unix_micros("bucket").alias("bucket_us"),
        "n_events", "gap_filled", "sum_value_locf")


@query(
    "events_interval_join",
    """
    SELECT c.event_id::BIGINT AS click_id,
           c.user_id::BIGINT AS user_id,
           epoch_us(c.ts)::BIGINT AS click_us,
           epoch_us(p.ts)::BIGINT AS purchase_us,
           p.value AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts - INTERVAL 30 MINUTE AND p.ts <= c.ts
    """,
)
def q_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-interval join (every purchase in the 30 min before each
    click, per user) — the batch face of streaming.interval_join,
    whose watermarked stream-stream form runs the same operator with
    bounded state (pytest replays streaming == batch)."""
    from lindel_spark.streaming import interval_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").cast("long").alias("click_id"),
        F.col("user_id").cast("long").alias("user_id"), "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").cast("long").alias("user_id"), "ts",
        F.col("value").alias("purchase_value"))
    j = interval_join(clicks, purchases, on="user_id",
                      lookback="30 minutes")
    return j.select(
        "click_id", "user_id",
        F.unix_micros("ts").alias("click_us"),
        F.unix_micros("ts_r").alias("purchase_us"),
        "purchase_value")


@query(
    "spatial_range_join",
    """
    WITH p AS (
      SELECT vec_id::BIGINT AS id,
             CAST(embedding[1] AS DOUBLE) * 1000 AS x,
             CAST(embedding[2] AS DOUBLE) * 1000 AS y
      FROM embeddings
    )
    SELECT a.id AS l_id, b.id AS r_id,
           greatest(abs(a.x - b.x), abs(a.y - b.y)) AS dist
    FROM p a JOIN p b ON a.id < b.id
    WHERE greatest(abs(a.x - b.x), abs(a.y - b.y)) <= 25
    """,
)
def q_spatial_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact L-inf range self-join via Morton-keyed grid cells (3x3
    probe makes candidates complete; distance filter makes it exact) —
    value-compared against DuckDB's brute-force quadratic join."""
    from lindel_spark.joins import spatial_range_join

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    pts = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        (F.element_at("embedding", 1).cast("double") * 1000).alias("x"),
        (F.element_at("embedding", 2).cast("double") * 1000).alias("y"),
    )
    out = spatial_range_join(pts, pts, ["x", "y"], ["x", "y"],
                             radius=25.0, metric="linf")
    return (
        out.filter(F.col("l_id") < F.col("r_id"))
        .select("l_id", "r_id", "dist")
    )


# ---------------------------------------------------------------------------
# multimodal plumbing (lindel_spark/multimodal.py)
# ---------------------------------------------------------------------------

@query(
    "multimodal_content_dedup",
    """
    SELECT sha256(text) AS sha256,
           MIN(doc_id)::BIGINT AS keep_id,
           COUNT(*)::BIGINT AS n_dups
    FROM documents GROUP BY 1
    """,
)
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level content dedup over binary payloads: JVM-native
    sha2-groupBy (DuckDB's sha256(varchar) hashes the same UTF-8
    bytes, so digests hash-compare exactly)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    blobs = docs.select("doc_id", F.encode("text", "UTF-8").alias("content"))
    return MM.content_dedup_groups(blobs)


@query(
    "multimodal_meta",
    """
    SELECT doc_id::BIGINT AS doc_id,
           octet_length(encode(text))::BIGINT AS n_bytes,
           'text/plain' AS mime,
           sha256(text) AS sha256
    FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata struct over an opaque binary column."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    blobs = docs.select("doc_id", F.encode("text", "UTF-8").alias("content"))
    m = MM.attach_content_meta(blobs, mime="text/plain")
    return m.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.sha256").alias("sha256"),
    )


# The fake decoder chains sha256 over *hex digests* (ASCII-safe), so
# DuckDB's VARCHAR-only sha256 can replay the exact pixel stream: 6
# chained digests cover the 8*8*3 = 192 pixel bytes, byte i is hex pair
# 2i of the concatenation, channel means are exact (integer sums / 64).
_IMAGE_FEATURES_ORACLE = """
WITH c1 AS (
  SELECT doc_id::BIGINT AS id, sha256(text) AS b1 FROM documents
), c2 AS (SELECT *, sha256(b1) AS b2 FROM c1),
c3 AS (SELECT *, sha256(b2) AS b3 FROM c2),
c4 AS (SELECT *, sha256(b3) AS b4 FROM c3),
c5 AS (SELECT *, sha256(b4) AS b5 FROM c4),
c6 AS (SELECT id, b1||b2||b3||b4||b5||sha256(b5) AS hx FROM c5),
px AS (
  SELECT id, i, ('0x'||substr(hx, 2*i+1, 2))::INT AS v
  FROM c6, generate_series(0, 191) g(i)
), m AS (
  SELECT id,
         avg(v) FILTER (i % 3 = 0) AS mean_r,
         avg(v) FILTER (i % 3 = 1) AS mean_g,
         avg(v) FILTER (i % 3 = 2) AS mean_b
  FROM px GROUP BY id
)
SELECT id, 8::INT AS height, 8::INT AS width, mean_r, mean_g, mean_b,
       (mean_r + mean_g + mean_b) / 3.0 AS brightness
FROM m
"""


@query("multimodal_image_features", _IMAGE_FEATURES_ORACLE)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode+feature stage with the deterministic fake
    decoder (no codecs in this container; plumbing is real). The
    decoder's sha256-hex-chain pixel stream is replayed independently
    by the DuckDB oracle, so features hash-compare value-for-value."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    blobs = docs.select("doc_id", F.encode("text", "UTF-8").alias("content"))
    return MM.image_features(blobs, decoder=MM.fake_decode_image)


# ---------------------------------------------------------------------------
# similarity search (lindel_spark/similarity.py)
# ---------------------------------------------------------------------------

_KNN_ORACLE = """
WITH e AS (
  SELECT vec_id::BIGINT AS id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT id, v FROM e WHERE id % 50 = 0
), scored AS (
  SELECT q.id AS query_id, c.id AS neighbor_id,
         list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v))
              * sqrt(list_dot_product(c.v, c.v))) AS cos
  FROM q JOIN e c ON q.id != c.id
), r AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, rank::BIGINT AS rank FROM r
WHERE rank <= 10
"""


@query("knn_brute", _KNN_ORACLE)
def q_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for every 50th vector — similarity values
    hash-compare exactly because the sequential double fold matches
    DuckDB's list_dot_product bit-for-bit."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return LS.brute_force_knn(emb, queries_df, k=10)


@query("knn_join_topk", _KNN_ORACLE)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 through the DISTRIBUTED join path
    (:func:`lindel_spark.similarity.knn_join`): queries never collect
    to the driver — corpus rows land in their nearest cell, every
    query probes all cells (nprobe unset => exact), and the join key
    is the cell id, so the plan is a shuffle equi-join, not a
    cartesian (asserted in tests/test_plans.py). Same oracle as
    ``knn_brute``: both paths are exact and must agree bit-for-bit."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return LS.knn_join(emb, queries_df, k=10, n_centroids=16)


_N_QUERIES_ORACLE = """
SELECT COUNT(*)::BIGINT AS n_queries, true AS recall_ok
FROM embeddings WHERE vec_id % 50 = 0
"""


def _recall_check(brute: DataFrame, approx: DataFrame,
                  floor: float) -> DataFrame:
    """(n_queries, recall_ok): share of brute-force top-k pairs the
    approximate result recovered, thresholded in-frame so the driver's
    oracle gate records a pass/fail signal for a probabilistic query."""
    a = approx.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    j = brute.select("query_id", "neighbor_id").join(
        a, ["query_id", "neighbor_id"], "left")
    return j.agg(
        F.count_distinct("query_id").cast("long").alias("n_queries"),
        (F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
         / F.count(F.lit(1)).cast("double")
         >= F.lit(floor)).alias("recall_ok"),
    )


@query("knn_ann_simhash", _N_QUERIES_ORACLE)
def q_knn_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-LSH approximate top-10 — self-checking: emits
    (n_queries, recall_ok = recall@10 >= 0.9 vs in-Spark brute force),
    so the probabilistic query carries a driver-visible pass signal."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    brute = LS.brute_force_knn(emb, queries_df, k=10)
    approx = LS.ann_knn(emb, queries_df, k=10)
    return _recall_check(brute, approx, 0.9)


@query(
    "knn_ivf",
    """
    SELECT vec_id::BIGINT AS query_id, 10::BIGINT AS n_results,
           true AS ranks_ok
    FROM embeddings WHERE vec_id % 50 = 0
    """,
)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 with nprobe=8 of 16 cells — self-checking per query:
    every query must return exactly k=10 results ranked 1..10 (probing
    half the cells of a 500-row corpus always yields >= 10 candidates);
    aggregate recall is gated separately by knn_ivf_recall."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    res = LS.ivf_knn(emb, queries_df, k=10, n_centroids=16, nprobe=8)
    return res.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_results"),
        (F.array_sort(F.collect_list("rank"))
         == F.sequence(F.lit(1).cast("long"),
                       F.lit(10).cast("long"))).alias("ranks_ok"),
    )


@query("knn_ivf_exhaustive", _KNN_ORACLE)
def q_knn_ivf_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe = n_centroids: probes every cell, so the result
    must equal brute force value-for-value — validates the whole IVF
    pipeline (training, assignment, probe join, ranking) against the
    exact-cosine DuckDB oracle."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return LS.ivf_knn(emb, queries_df, k=10, n_centroids=16, nprobe=16)


@query("knn_ivf_recall", _N_QUERIES_ORACLE)
def q_knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@10 of IVF (nprobe=8/16) against in-Spark brute
    force, thresholded in-frame (>= 0.7 on near-random vectors, the
    pytest floor) so the driver gate records pass/fail every round."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    brute = LS.brute_force_knn(emb, queries_df, k=10)
    approx = LS.ivf_knn(emb, queries_df, k=10, n_centroids=16, nprobe=8)
    return _recall_check(brute, approx, 0.7)


@query("knn_ivf_refined_recall", _N_QUERIES_ORACLE)
def q_knn_ivf_refined_recall(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Round-10 distributed Lloyd refinement
    (:func:`lindel_spark.similarity.train_centroids` with
    ``refine_iters``): IVF recall under a full-corpus-refined codebook
    must clear the same floor as the sample-only codebook — the
    iterative assign+mean passes are not SQL-expressible, so this is
    the recall-thresholded driver gate the other ANN entries use."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    C = LS.train_centroids(emb, 16, refine_iters=2)
    brute = LS.brute_force_knn(emb, queries_df, k=10)
    approx = LS.ivf_knn(emb, queries_df, k=10, nprobe=8, centroids=C)
    return _recall_check(brute, approx, 0.7)


@query(
    "sampling_hard_negatives",
    """
    WITH a AS (
      SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    c AS (
      SELECT vec_id AS item_id, embedding::DOUBLE[] AS cv
      FROM embeddings
    ),
    pos AS (
      SELECT anchor_id, (anchor_id + 1) AS item_id FROM a
    ),
    scored AS (
      SELECT anchor_id, item_id,
             list_dot_product(av, cv)
               / (sqrt(list_dot_product(av, av))
                  * sqrt(list_dot_product(cv, cv))) AS cos
      FROM a, c
      WHERE anchor_id != item_id
    ),
    neg AS (
      SELECT s.anchor_id, s.item_id, s.cos FROM scored s
      ANTI JOIN pos p
        ON s.anchor_id = p.anchor_id AND s.item_id = p.item_id
    )
    SELECT anchor_id::BIGINT AS anchor_id, rank::BIGINT AS rank,
           item_id::BIGINT AS item_id, round(cos, 9) AS cos_r
    FROM (SELECT anchor_id, item_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY anchor_id
                                    ORDER BY round(cos, 9) DESC,
                                             item_id) AS rank
          FROM neg)
    WHERE rank <= 5
    """,
)
def q_sampling_hard_negatives(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """ANN hard-negative mining (round 10,
    :func:`lindel_spark.similarity.hard_negatives`): for every 50th
    embedding as an anchor, the top-5 most-cosine-similar items that
    are NOT its declared positive (here: the next id) — the
    contrastive-training data primitive. Exact scoring path; ranking
    by round(cos, 9) with item-id tie-breaks, replayed in DuckDB."""
    emb = spark.read.parquet(os.path.join(sf_dir,
                                          "embeddings.parquet"))
    anchors = emb.filter(F.col("vec_id") % 50 == 0)
    positives = anchors.select(
        F.col("vec_id").alias("anchor_id"),
        (F.col("vec_id") + 1).alias("item_id"))
    return LS.hard_negatives(emb, anchors, positives, k=5)


@query("knn_route_parity", _N_QUERIES_ORACLE)
def q_knn_route_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-10 size-bound auto-routing: pq_knn forced down the
    distributed salted-ADC route (max_collect_rows=1) must return
    EXACTLY the collect-route rows (ids, cos, ranks) — recorded
    through the same boolean-gate shape as the recall entries (the
    route choice is physical, so there is no SQL oracle; equality of
    the two routes IS the check)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    books = LS.train_pq(emb, m=8)
    codes = LS.pq_encode(emb, books)
    a = LS.pq_knn(codes, queries_df, books, k=10, refine_with=emb)
    b = LS.pq_knn(codes, queries_df, books, k=10, refine_with=emb,
                  max_collect_rows=1)
    rows = lambda df: sorted(  # noqa: E731
        (r.query_id, r.neighbor_id, round(r.cos, 9), r.rank)
        for r in df.collect())
    ok = rows(a) == rows(b)
    n_q = queries_df.count()
    return local_frame(
        spark,
        [(n_q, ok)], "n_queries long, recall_ok boolean")


# ---------------------------------------------------------------------------
# wider TPC-H-style analytics (joins/semi-joins/top-k/ratio aggregates)
# ---------------------------------------------------------------------------

@query(
    "tpch_q6_forecast",
    """
    SELECT SUM((l_extendedprice::DECIMAL(18,2)) * (l_discount::DECIMAL(18,2)))::DOUBLE
             AS revenue,
           COUNT(*)::BIGINT AS n
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style forecasting revenue change: pure filter->agg.
    All three predicates reach the parquet scan (PushedFilters), so at
    100 TB this is a scan-bound map-only job with one partial-agg
    exchange of a single row."""
    li = _lineitem(spark, sf_dir)
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * F.col("l_discount").cast("decimal(18,2)"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )


@query(
    "tpch_q4_priority",
    """
    SELECT o.o_orderpriority, COUNT(*)::BIGINT AS order_count
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-07-01'
      AND o.o_orderdate < DATE '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY 1
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style priority check as a LEFT SEMI join (EXISTS):
    the semi join keeps orders rows only, never multiplies them, and
    Spark plans it as a shuffled semi-hash-join on l_orderkey with the
    date filter pushed to the orders scan. (Adapted: the synthetic
    lineitem has no commit/receipt dates, so 'late' = shipped more
    than 60 days after the order date.)"""
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    li = _lineitem(spark, sf_dir).select("l_orderkey", "l_shipdate")
    o_f = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("date"))
    )
    late = (o_f["o_orderkey"] == li["l_orderkey"]) & (
        li["l_shipdate"] > o_f["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o_f.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


@query(
    "tpch_q10_returned",
    """
    SELECT c.c_custkey::BIGINT AS c_custkey, c.c_name,
           SUM((l.l_extendedprice::DECIMAL(18,2)) * (1 - l.l_discount::DECIMAL(18,2)))::DOUBLE
             AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 4, 5
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item reporting: 4-way join + top-20.
    nation broadcasts; the global top-20 plans as TakeOrderedAndProject
    (per-partition heaps, no full sort shuffle). Ties break on
    c_custkey so the row set is deterministic."""
    rd = os.path.join
    c = spark.read.parquet(rd(sf_dir, "customer.parquet"))
    o = spark.read.parquet(rd(sf_dir, "orders.parquet"))
    li = _lineitem(spark, sf_dir)
    n = F.broadcast(spark.read.parquet(rd(sf_dir, "nation.parquet")))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)")))
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
            & (F.col("l_returnflag") == "R")
        )
        .groupBy(
            F.col("c_custkey").cast("long").alias("c_custkey"),
            "c_name", "c_acctbal", "n_name",
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "tpch_q14_promo",
    """
    SELECT (100.0e0 *
            SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                     THEN (l.l_extendedprice::DECIMAL(18,2)) * (1 - l.l_discount::DECIMAL(18,2))
                     ELSE 0 END)::DOUBLE
            / SUM((l.l_extendedprice::DECIMAL(18,2)) * (1 - l.l_discount::DECIMAL(18,2)))::DOUBLE)
             AS promo_revenue,
           COUNT(*)::BIGINT AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= DATE '1996-09-01' AND l.l_shipdate < DATE '1996-10-01'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promo revenue share: broadcast dim join +
    conditional aggregate. Both sums stay decimal (exact) and the
    final ratio is one double division, so the value hash-matches
    DuckDB bit-for-bit."""
    li = _lineitem(spark, sf_dir)
    p = F.broadcast(spark.read.parquet(os.path.join(sf_dir, "part.parquet")))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)")))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1996-10-01").cast("date"))
        )
        .join(p, li["l_partkey"] == p["p_partkey"])
        .agg(
            (F.lit(100.0) * F.sum(promo).cast("double")
             / F.sum(rev).cast("double")).alias("promo_revenue"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )


@query(
    "tpch_q18_large_orders",
    """
    SELECT c.c_custkey::BIGINT AS c_custkey, c.c_name,
           o.o_orderkey::BIGINT AS o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_totalprice, t.sum_qty
    FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN (
        SELECT l_orderkey, SUM(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty
        FROM lineitem GROUP BY 1
        HAVING SUM(l_quantity::DECIMAL(18,2)) > 250
      ) t ON o.o_orderkey = t.l_orderkey
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume customers: aggregate-then-join.
    The HAVING shrinks lineitem to a tiny key set *before* touching
    orders/customer, so the expensive table is reduced map-side first
    — the shape that survives 100 TB (never join raw lineitem rows to
    customer)."""
    rd = os.path.join
    c = spark.read.parquet(rd(sf_dir, "customer.parquet"))
    o = spark.read.parquet(rd(sf_dir, "orders.parquet"))
    li = _lineitem(spark, sf_dir)
    qty = F.col("l_quantity").cast("decimal(18,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("__q"))
        .filter(F.col("__q") > 250)
        .select("l_orderkey", F.col("__q").cast("double").alias("sum_qty"))
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(big, o["o_orderkey"] == big["l_orderkey"])
        .select(
            F.col("c_custkey").cast("long").alias("c_custkey"),
            "c_name",
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice", "sum_qty",
        )
    )


@query(
    "events_topk_users",
    """
    WITH agg AS (
      SELECT event_type, user_id::BIGINT AS user_id,
             SUM(value::DECIMAL(18,2))::DOUBLE AS total
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT *, row_number() OVER (
               PARTITION BY event_type ORDER BY total DESC, user_id
             ) AS rk
      FROM agg
    )
    SELECT event_type, user_id, total, rk::BIGINT AS rk
    FROM r WHERE rk <= 3
    """,
)
def q_events_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (rank-filter pattern): aggregate first, then a
    window over the *aggregated* frame — the window input is one row
    per (type,user), not per event, so state stays small at scale."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    agg = ev.groupBy(
        "event_type", F.col("user_id").cast("long").alias("user_id")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)"))
          .cast("double").alias("total"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("total").desc(), F.col("user_id")
    )
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
    )


@query(
    "tpch_q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l.l_shipdate)::BIGINT AS l_year,
           SUM((l.l_extendedprice::DECIMAL(18,2)) * (1 - l.l_discount::DECIMAL(18,2)))::DOUBLE
             AS revenue
    FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1998-12-31'
    GROUP BY 1, 2, 3
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style volume shipping: the same dimension table
    (nation) joined twice under different roles — both sides broadcast,
    so the only shuffles are the fact-side joins."""
    rd = os.path.join
    s = spark.read.parquet(rd(sf_dir, "supplier.parquet"))
    li = _lineitem(spark, sf_dir)
    o = spark.read.parquet(rd(sf_dir, "orders.parquet"))
    c = spark.read.parquet(rd(sf_dir, "customer.parquet"))
    nat = spark.read.parquet(rd(sf_dir, "nation.parquet"))
    n1 = F.broadcast(nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)")))
    return (
        s.join(li, s["s_suppkey"] == li["l_suppkey"])
        .join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
             | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")))
            & F.col("l_shipdate").between("1995-01-01", "1998-12-31")
        )
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "tpch_q13_custdist",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey)::BIGINT AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*)::BIGINT AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style customer order distribution: left outer join
    (zero-order customers must survive) then a two-level aggregate.
    The second groupBy input is one row per customer — tiny."""
    rd = os.path.join
    c = spark.read.parquet(rd(sf_dir, "customer.parquet"))
    o = spark.read.parquet(rd(sf_dir, "orders.parquet"))
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist"))


@query(
    "tpch_q19_disjunctive",
    """
    SELECT SUM((l.l_extendedprice::DECIMAL(18,2)) * (1 - l.l_discount::DECIMAL(18,2)))::DOUBLE
             AS revenue,
           COUNT(*)::BIGINT AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style disjunctive predicate join: Catalyst extracts
    the common l_quantity bounds from the OR for scan-level pushdown,
    and the part side broadcasts."""
    rd = os.path.join
    li = _lineitem(spark, sf_dir)
    p = F.broadcast(spark.read.parquet(rd(sf_dir, "part.parquet")))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)")))
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 35))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 50))
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@query(
    "tpch_q22_idle_customers",
    """
    WITH avg_bal AS (
      SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_mktsegment, COUNT(*)::BIGINT AS numcust,
           SUM(c.c_acctbal::DECIMAL(18,2))::DOUBLE AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 450000)
    GROUP BY c.c_mktsegment
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: scalar-subquery threshold + anti join (rich
    customers with no half-million order). The anti join shuffles only
    the filtered key set; the scalar average is a one-row broadcast."""
    rd = os.path.join
    c = spark.read.parquet(rd(sf_dir, "customer.parquet"))
    o = spark.read.parquet(rd(sf_dir, "orders.parquet"))
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("a"))
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o.filter(F.col("o_totalprice") > 450000).select("o_custkey"),
              c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double").alias("totacctbal"),
        )
    )


@query(
    "setop_active_returned_customers",
    """
    WITH returned AS (
      SELECT DISTINCT o.o_custkey AS k
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = 'R'
    ), big AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 400000
    )
    SELECT 'both' AS tier, COUNT(*)::BIGINT AS n
      FROM (SELECT k FROM returned INTERSECT SELECT k FROM big) t
    UNION ALL
    SELECT 'returned_only', COUNT(*)::BIGINT
      FROM (SELECT k FROM returned EXCEPT SELECT k FROM big) t
    UNION ALL
    SELECT 'big_only', COUNT(*)::BIGINT
      FROM (SELECT k FROM big EXCEPT SELECT k FROM returned) t
    """,
)
def q_setop_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operator coverage (INTERSECT / EXCEPT over key sets):
    customers with returned lines vs customers with big orders."""
    rd = os.path.join
    o = spark.read.parquet(rd(sf_dir, "orders.parquet"))
    li = _lineitem(spark, sf_dir)
    returned = (
        o.join(li, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("o_custkey").alias("k")).distinct()
    )
    big = (
        o.filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("k")).distinct()
    )
    def tier(name, df):
        return df.agg(F.count(F.lit(1)).cast("long").alias("n")) \
                 .select(F.lit(name).alias("tier"), "n")
    return (
        tier("both", returned.intersect(big))
        .unionByName(tier("returned_only", returned.exceptAll(big).distinct()))
        .unionByName(tier("big_only", big.exceptAll(returned).distinct()))
    )


@query(
    "embedding_ops",
    """
    WITH e AS (
      SELECT vec_id::BIGINT AS id, embedding::DOUBLE[] AS v FROM embeddings
    ), n AS (
      SELECT id, v, sqrt(list_dot_product(v, v)) AS norm,
             list_max(list_transform(v, x -> abs(x))) / 127 AS s
      FROM e
    ), u AS (
      SELECT id, norm,
             list_transform(v, x -> x / norm) AS unit,
             list_transform(v, x -> CAST(floor(x / s + 0.5) AS INT)) AS q
      FROM n
    )
    SELECT id, norm,
           list_dot_product(unit, unit) AS unit_dot,
           list_sum(q)::BIGINT AS q_sum,
           list_max(list_transform(q, x -> abs(x)))::BIGINT AS q_absmax
    FROM u
    """,
)
def q_embedding_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding normalization + int8 quantization, verified value-
    level: per-vector norm, unit-vector self-dot (sequential fold ==
    DuckDB list_dot_product bit-for-bit), quantized checksum and
    max |q| (must be <= 127)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    u = LS.normalize_embeddings(emb)
    uq = LS.quantize_embeddings(u)
    return uq.select(
        F.col("vec_id").cast("long").alias("id"),
        LS.l2_norm(F.col("embedding")).alias("norm"),
        LS.dot_product(F.col("unit"), F.col("unit")).alias("unit_dot"),
        F.aggregate("q", F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("q_sum"),
        F.array_max(F.transform("q", F.abs)).cast("long").alias("q_absmax"),
    )


@query(
    "text_winnow_fingerprints",
    """
    WITH d AS (
      SELECT doc_id::BIGINT AS id,
             list_filter(string_split(text, ' '), t -> t != '') AS t
      FROM documents
    ), g AS (
      SELECT id,
             list_transform(
               range(1, len(t) - 3),
               i -> ('0x' || substr(md5(
                      t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                      t[i+3] || ' ' || t[i+4]), 1, 15))::BIGINT
             ) AS h
      FROM d WHERE len(t) >= 5
    ), m AS (
      SELECT id,
             list_distinct(list_transform(
               range(1, greatest(len(h) - 2, 2)),
               j -> list_min(h[j:j+3])
             )) AS fps
      FROM g
    )
    SELECT DISTINCT id, unnest(fps) AS fp FROM m
    """,
)
def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (k=5 token grams, window w=4) — the
    DuckDB oracle replays the identical gram-hash/window-min pipeline,
    so the fingerprint sets hash-compare exactly."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LT.winnow_fingerprints(docs, k=5, w=4)


@query(
    "dedup_winnow_pairs",
    """
    WITH d AS (
      SELECT doc_id::BIGINT AS id,
             list_filter(string_split(text, ' '), t -> t != '') AS t
      FROM documents
    ), g AS (
      SELECT id,
             list_transform(
               range(1, len(t) - 3),
               i -> ('0x' || substr(md5(
                      t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                      t[i+3] || ' ' || t[i+4]), 1, 15))::BIGINT
             ) AS h
      FROM d WHERE len(t) >= 5
    ), m AS (
      SELECT id,
             list_distinct(list_transform(
               range(1, greatest(len(h) - 2, 2)),
               j -> list_min(h[j:j+3])
             )) AS fps
      FROM g
    ), f AS (
      SELECT DISTINCT id, unnest(fps) AS fp FROM m
    ), sizes AS (
      SELECT id, COUNT(*)::BIGINT AS n_fp FROM f GROUP BY id
    ), shared AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*)::BIGINT AS n_shared
      FROM f a JOIN f b ON a.fp = b.fp AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT s.id_a, s.id_b,
           s.n_shared::DOUBLE / (sa.n_fp + sb.n_fp - s.n_shared) AS jaccard
    FROM shared s
      JOIN sizes sa ON sa.id = s.id_a
      JOIN sizes sb ON sb.id = s.id_b
    WHERE s.n_shared::DOUBLE / (sa.n_fp + sb.n_fp - s.n_shared) >= 0.2
    """,
)
def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint near-dup pairs (Jaccard >= 0.2) — the
    fourth dedup family (exact / MinHash / SimHash / winnowing), with
    the DuckDB oracle replaying the identical fingerprint pipeline."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LT.winnow_near_dup_pairs(docs)


_SRC_AGG_ORACLE = """
SELECT 'csv' AS source, COUNT(*)::BIGINT AS n_rows,
       SUM(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
       SUM(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_price,
       strftime(MIN(l_shipdate), '%Y-%m-%d') AS min_ship,
       strftime(MAX(l_shipdate), '%Y-%m-%d') AS max_ship
FROM lineitem
UNION ALL
SELECT 'jsonl', COUNT(*)::BIGINT,
       SUM(l_quantity::DECIMAL(18,2))::DOUBLE,
       SUM(l_extendedprice::DECIMAL(18,2))::DOUBLE,
       strftime(MIN(l_shipdate), '%Y-%m-%d'),
       strftime(MAX(l_shipdate), '%Y-%m-%d')
FROM lineitem
"""


@query("sources_csv_jsonl_roundtrip", _SRC_AGG_ORACLE)
def q_sources_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/sink fidelity: lineitem -> CSV and JSONL sinks -> schema-
    disciplined readers (FAILFAST, no inference pass) -> aggregate.
    Counts, decimal sums, and date extrema must equal the parquet-
    sourced oracle exactly — proving the interchange formats round-trip
    values losslessly through the lindel_spark.sources surface."""
    from lindel_spark import sources as SRC

    li = _lineitem(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="lindel_src_rt_")
    SRC.write_csv(li, os.path.join(out, "csv"))
    SRC.write_jsonl(li, os.path.join(out, "jsonl"))
    faces = [
        ("csv", SRC.read_csv(spark, os.path.join(out, "csv"), li.schema)),
        ("jsonl", SRC.read_jsonl(spark, os.path.join(out, "jsonl"),
                                 li.schema)),
    ]
    parts = []
    for tag, df in faces:
        parts.append(df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").alias("sum_price"),
            F.date_format(F.min("l_shipdate"), "yyyy-MM-dd")
            .alias("min_ship"),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd")
            .alias("max_ship"),
        ).select(F.lit(tag).alias("source"), "*"))
    return parts[0].unionByName(parts[1])


@query(
    "events_cube_rollup",
    """
    WITH e AS (
      SELECT event_type,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             value
      FROM events
    )
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(day, 'ALL') AS day,
           COUNT(*)::BIGINT AS n_events,
           SUM(value::DECIMAL(18,2))::DOUBLE AS sum_value
    FROM e
    GROUP BY CUBE (event_type, day)
    """,
)
def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets coverage: CUBE over (event_type, day) — all four
    grouping combinations in one map-side-combined pass (SURVEY §2.5
    'aggregation / grouping sets' host category)."""
    ev = _events(spark, sf_dir)
    e = ev.select(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "value",
    )
    return (
        e.cube("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double").alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "n_events", "sum_value",
        )
    )


@query(
    "events_funnel",
    """
    WITH firsts AS (
      SELECT user_id::BIGINT AS user_id,
             MIN(ts) FILTER (event_type = 'view') AS t_view,
             MIN(ts) FILTER (event_type = 'click') AS t_click,
             MIN(ts) FILTER (event_type = 'purchase') AS t_purchase
      FROM events GROUP BY 1
    )
    SELECT
      COUNT(*) FILTER (t_view IS NOT NULL)::BIGINT AS n_view,
      COUNT(*) FILTER (t_view IS NOT NULL AND t_click > t_view)::BIGINT
        AS n_click_after_view,
      COUNT(*) FILTER (t_view IS NOT NULL AND t_click > t_view
                       AND t_purchase > t_click)::BIGINT
        AS n_full_funnel
    FROM firsts
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (view -> click -> purchase): one
    conditional-MIN aggregate per user, then funnel predicates over the
    firsts — a single shuffle on user_id regardless of event volume
    (never a self-join per stage, which explodes at 100 TB).

    Timestamps compare as raw stored values (`ts` pre-conversion: int
    nanos or timestamp, same as the oracle's read of the same file) so
    the comparison is exact at the stored precision."""
    from lindel_spark.sources import load_events_raw

    ev = load_events_raw(spark, sf_dir)
    firsts = ev.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts")))
        .alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts")))
        .alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .alias("t_purchase"),
    )
    return firsts.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1))
        .cast("long").alias("n_view"),
        F.count(F.when(F.col("t_view").isNotNull()
                       & (F.col("t_click") > F.col("t_view")), 1))
        .cast("long").alias("n_click_after_view"),
        F.count(F.when(F.col("t_view").isNotNull()
                       & (F.col("t_click") > F.col("t_view"))
                       & (F.col("t_purchase") > F.col("t_click")), 1))
        .cast("long").alias("n_full_funnel"),
    )


@query(
    "tpch_q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey::BIGINT AS s_key,
             SUM((l_extendedprice::DECIMAL(18,2)) * (1 - l_discount::DECIMAL(18,2)))::DOUBLE
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1996-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey::BIGINT AS s_suppkey, s.s_name, r.total_revenue
    FROM rev r JOIN supplier s ON s.s_suppkey = r.s_key
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style top supplier: aggregate revenue per supplier,
    keep the max via a rank-1 window over the (small) aggregated frame,
    then join supplier names — the scalar-max subquery shape without a
    second scan of lineitem."""
    from pyspark.sql import Window

    rd = os.path.join
    li = _lineitem(spark, sf_dir)
    s = spark.read.parquet(rd(sf_dir, "supplier.parquet"))
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date")))
        .groupBy(F.col("l_suppkey").cast("long").alias("s_key"))
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                   * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)")))
             .cast("double").alias("total_revenue"))
    )
    w = Window.orderBy(F.col("total_revenue").desc())
    top = (rev.withColumn("__r", F.rank().over(w))
           .filter(F.col("__r") == 1).drop("__r"))
    return (
        F.broadcast(top).join(s, top["s_key"] == s["s_suppkey"])
        .select(F.col("s_suppkey").cast("long").alias("s_suppkey"),
                "s_name", "total_revenue")
    )


@query(
    "tpch_q17_small_quantity",
    """
    WITH pa AS (
      SELECT l_partkey, 0.5 * AVG(l_quantity) AS half_avg
      FROM lineitem GROUP BY 1
    )
    SELECT (SUM(l.l_extendedprice::DECIMAL(18,2)) / 7.0)::DOUBLE
             AS avg_yearly,
           COUNT(*)::BIGINT AS n_lines
    FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND l.l_quantity < pa.half_avg
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style small-quantity revenue: the correlated
    per-part AVG subquery decorrelated into an aggregate-then-join —
    lineitem is scanned twice but joined on its own key, never
    row-by-row correlated."""
    rd = os.path.join
    li = _lineitem(spark, sf_dir)
    p = F.broadcast(
        spark.read.parquet(rd(sf_dir, "part.parquet"))
        .filter(F.col("p_brand") == "Brand#1").select("p_partkey"))
    pa = li.groupBy("l_partkey").agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg"))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(pa.withColumnRenamed("l_partkey", "pa_key"),
              F.col("l_partkey") == F.col("pa_key"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
             / F.lit(7.0)).cast("double").alias("avg_yearly"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@query(
    "events_retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id::BIGINT AS user_id,
             date_trunc('week', MIN(ts)) AS cohort
      FROM events GROUP BY 1
    ), activity AS (
      SELECT DISTINCT e.user_id::BIGINT AS user_id,
             f.cohort,
             datediff('week', f.cohort, date_trunc('week', e.ts))::BIGINT
               AS week_n
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week, week_n,
           COUNT(*)::BIGINT AS active_users
    FROM activity GROUP BY 1, 2
    """,
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: cohort = week of first activity,
    counted distinct-active per (cohort, week offset). Two shuffles on
    user_id (first-seen aggregate + cohort join) and one on the
    (cohort, week) pair — the standard training-data engagement
    rollup."""
    ev = _events(spark, sf_dir)
    firsts = ev.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.date_trunc("week", F.min("ts")).alias("cohort"))
    activity = (
        ev.select(F.col("user_id").cast("long").alias("user_id"), "ts")
        .join(firsts, "user_id")
        .select(
            "user_id", "cohort",
            (F.datediff(F.date_trunc("week", "ts"), F.col("cohort"))
             / 7).cast("long").alias("week_n"),
        )
        .distinct()
    )
    return activity.groupBy(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "week_n",
    ).agg(F.count(F.lit(1)).cast("long").alias("active_users"))


@query(
    "multimodal_frame_sample",
    """
    WITH b AS (
      SELECT doc_id::BIGINT AS id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents
    ), f AS (
      SELECT id, g.i AS frame_no,
             substr(hx, g.i * 64 + 1, 64) AS frame_hex
      FROM b, generate_series(0, 10000) g(i)
      WHERE g.i < n // 32 AND g.i % 3 = 0
    )
    SELECT id, frame_no::INT AS frame_no, frame_hex FROM f
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over opaque payloads (every 3rd
    32-byte frame), verified value-level: the oracle replays the byte
    slicing through the hex string of the same payload."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    blobs = docs.select("doc_id", F.encode("text", "UTF-8").alias("content"))
    frames = MM.sample_frames(blobs, frame_bytes=32, every_n=3)
    return frames.select(
        "id", F.col("frame_no").cast("int").alias("frame_no"),
        F.hex("frame").alias("frame_hex"),
    )


@query(
    "multimodal_resize",
    """
    WITH c1 AS (
      SELECT doc_id::BIGINT AS id, sha256(text) AS b1 FROM documents
    ), c2 AS (SELECT *, sha256(b1) AS b2 FROM c1),
    c3 AS (SELECT *, sha256(b2) AS b3 FROM c2),
    c4 AS (SELECT *, sha256(b3) AS b4 FROM c3),
    c5 AS (SELECT *, sha256(b4) AS b5 FROM c4),
    c6 AS (SELECT id, b1||b2||b3||b4||b5||sha256(b5) AS hx FROM c5),
    -- nearest-neighbor 8x8 -> 4x4: out pixel (r,c,ch) reads source
    -- byte (2r*8 + 2c)*3 + ch of the decoder's 192-byte stream
    px AS (
      SELECT id, o.i AS i,
             ('0x' || substr(hx,
               2 * (((o.i // 12) * 2 * 8 + ((o.i // 3) % 4) * 2) * 3
                    + o.i % 3) + 1, 2))::INT AS v
      FROM c6, generate_series(0, 47) o(i)
    )
    SELECT id, 4::INT AS height, 4::INT AS width,
           SUM(v)::BIGINT AS pixel_sum,
           MAX(v)::BIGINT AS pixel_max
    FROM px GROUP BY id
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + nearest-neighbor resize (8x8 -> 4x4) through the
    mapInPandas stage, verified value-level: the oracle recomputes the
    selected pixels straight from the sha256 hex stream."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    blobs = docs.select("doc_id", F.encode("text", "UTF-8").alias("content"))
    small = MM.resize_images(blobs, height=4, width=4,
                             decoder=MM.fake_decode_image)
    px = small.select(
        "id", "height", "width",
        F.explode(
            F.transform(
                F.split(F.hex("pixels"), "(?<=\\G..)"),
                lambda h: F.conv(h, 16, 10).cast("long"),
            )
        ).alias("v"),
    ).filter(F.col("v").isNotNull())
    return px.groupBy("id", "height", "width").agg(
        F.sum("v").cast("long").alias("pixel_sum"),
        F.max("v").cast("long").alias("pixel_max"),
    )


@query(
    "sampling_deterministic_split",
    """
    WITH f AS (
      SELECT doc_id::BIGINT AS doc_id,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
               / 1152921504606846976.0 AS frac
      FROM documents
    )
    SELECT CASE WHEN frac < 0.8 THEN 'train'
                WHEN frac < 0.9 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*)::BIGINT AS n_docs,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM f GROUP BY 1
    """,
)
def q_sampling_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-deterministic 80/10/10 split over document ids —
    exactly replayable cross-engine (md5-hash fraction), stable under
    any repartitioning, unlike randomSplit."""
    from lindel_spark import sampling as SMP

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    s = SMP.deterministic_split(docs, "doc_id", [0.8, 0.1, 0.1])
    return s.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@query(
    "sampling_stratified",
    """
    WITH f AS (
      SELECT event_type, event_id::BIGINT AS event_id,
             ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT
               / 1152921504606846976.0 AS frac
      FROM events
    )
    SELECT event_type, COUNT(*)::BIGINT AS n_kept
    FROM f
    WHERE frac < CASE event_type WHEN 'view' THEN 0.1
                                 WHEN 'click' THEN 0.5
                                 ELSE 1.0 END
    GROUP BY 1
    """,
)
def q_sampling_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling (views 10%, clicks 50%,
    everything else kept) — the class-rebalancing pass of a training
    pipeline, content-stable and oracle-replayable."""
    from lindel_spark import sampling as SMP

    ev = _events(spark, sf_dir).select(
        "event_type", F.col("event_id").cast("long").alias("event_id"))
    kept = SMP.stratified_deterministic_sample(
        ev, "event_id", "event_type",
        {"view": 0.1, "click": 0.5}, default_fraction=1.0)
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"))


@query(
    "sampling_quality_weighted",
    """
    WITH w AS (
      SELECT doc_id::BIGINT AS doc_id,
             least(1.0, length(text) / 2000.0) AS wt,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
               / 1152921504606846976.0 AS frac
      FROM documents
    )
    SELECT COUNT(*)::BIGINT AS n_kept,
           SUM(doc_id)::BIGINT AS sum_ids,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM w WHERE frac < wt
    """,
)
def q_sampling_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: each document survives
    with probability = its own quality weight (here length/2000 capped
    at 1), content-stable under any layout and replayed exactly by the
    DuckDB oracle through the same md5-fraction primitive."""
    from lindel_spark import sampling as SMP

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.least(F.lit(1.0), F.length("text") / F.lit(2000.0)).alias("wt"),
    )
    kept = SMP.weighted_sample(docs, "doc_id", "wt")
    return kept.agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@query(
    "text_feature_hash",
    f"""
    WITH tok AS (
      SELECT doc_id::BIGINT AS doc_id, unnest({_DUCK_TOKS}) AS t
      FROM documents
    ), b AS (
      SELECT doc_id,
             ('0x' || substr(md5(t), 1, 15))::BIGINT % 1024 AS bucket
      FROM tok
    ), tf AS (
      SELECT doc_id, bucket, COUNT(*)::BIGINT AS cnt
      FROM b GROUP BY 1, 2
    )
    SELECT bucket, COUNT(*)::BIGINT AS n_docs,
           SUM(cnt)::BIGINT AS total_cnt, MAX(cnt)::BIGINT AS max_cnt
    FROM tf GROUP BY 1
    """,
)
def q_text_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick term frequencies (md5 bucket mod 1024), rolled up
    per bucket so the oracle compares the full (doc, bucket, cnt)
    distribution without shipping it."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tf = LT.feature_hash_tf(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text"),
        dim=1024)
    return tf.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("cnt").cast("long").alias("total_cnt"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )


@query(
    "sampling_leak_safe_split",
    """
    WITH fp AS (
      SELECT doc_id::BIGINT AS doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS fingerprint
      FROM documents
    ), cl AS (
      SELECT doc_id, fingerprint,
             MIN(doc_id) OVER (PARTITION BY fingerprint) AS cluster_id
      FROM fp
    ), sp AS (
      SELECT doc_id, cluster_id,
             CASE WHEN ('0x' || substr(md5(cluster_id::VARCHAR), 1, 15))::BIGINT
                       / 1152921504606846976.0 < 0.9
                  THEN 'train' ELSE 'test' END AS split
      FROM cl
    )
    SELECT split, COUNT(*)::BIGINT AS n_docs,
           COUNT(DISTINCT cluster_id)::BIGINT AS n_clusters,
           SUM(doc_id)::BIGINT AS sum_ids
    FROM sp GROUP BY 1
    """,
)
def q_sampling_leak_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-safe train/test split: exact-dup documents are clustered by
    fingerprint (cluster id = min doc id) and the SPLIT KEY is the
    cluster id, so a near-identical pair can never straddle train and
    test. The composition the sampling docstrings promise, end to end,
    oracle-replayed. One window on fingerprint; the split itself is
    map-only."""
    from lindel_spark import sampling as SMP
    from pyspark.sql import Window

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    fp = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        LT.doc_fingerprint(F.col("text")).alias("fingerprint"),
    )
    cl = fp.withColumn(
        "cluster_id",
        F.min("doc_id").over(Window.partitionBy("fingerprint")))
    sp = SMP.deterministic_split(
        cl, "cluster_id", [0.9, 0.1], names=("train", "test"))
    return sp.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
    )


@query(
    "events_hll_users",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id)::BIGINT AS exact_users,
           true AS hll_ok
    FROM events GROUP BY 1
    """,
)
def q_events_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier coverage: Datasketches HLL distinct-user estimate
    per event type, self-checked against the in-frame exact count
    (relative error < 5% at lgK=14) — the mergeable-sketch shape that
    replaces COUNT(DISTINCT) at 100 TB (partial sketches merge
    map-side; exact distinct needs a full shuffle of every key)."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("user_id").cast("long"), F.lit(14))
        ).alias("__est"),
    )
    return agg.select(
        "event_type", "exact_users",
        (F.abs(F.col("__est") - F.col("exact_users"))
         <= F.greatest(
             (F.col("exact_users") * F.lit(0.05)).cast("long"), F.lit(2))
         ).alias("hll_ok"),
    )


@query(
    "dedup_minhash_estimate_quality",
    _near_dup_cte() + """
    SELECT COUNT(*)::BIGINT AS n_pairs, true AS est_ok
    FROM verified
    """,
)
def q_minhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimation-quality gate for the MinHash signatures themselves:
    over the verified near-dup pairs, the signature-agreement estimate
    of Jaccard must track the exact shingle Jaccard (mean absolute
    error <= 0.15 for 32 hashes). Emits the oracle-exact pair count
    plus the in-frame quality boolean."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    pairs = LD.near_dup_pairs(docs)  # (id_a, id_b, jaccard) exact
    sh = docs.select(
        F.col("doc_id").cast("long").alias("id"),
        LD.word_shingles(F.col("text")).alias("sh"),
    ).filter(F.size("sh") > 0)
    sigs = LD.minhash_signatures(sh).select(
        "id",
        F.array(*[F.col(f"_h{j}")
                  for j in range(LD.DEFAULT_NUM_HASHES)]).alias("sig"),
    )
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    # zip_with + filter: fraction of agreeing minhash positions
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                       lambda x, y: (x == y).cast("int")),
                            lambda v: v == 1))
    est = (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .select(
            "jaccard",
            (agree.cast("double")
             / F.size("sig_a").cast("double")).alias("est"),
        )
    )
    return est.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (F.avg(F.abs(F.col("est") - F.col("jaccard")))
         <= F.lit(0.15)).alias("est_ok"),
    )


@query(
    "events_step_durations",
    """
    WITH s AS (
      SELECT user_id::BIGINT AS user_id, event_type, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
      FROM events
    )
    SELECT event_type,
           COUNT(prev_ts)::BIGINT AS n_steps,
           SUM(epoch_us(ts) - epoch_us(prev_ts))::BIGINT AS total_gap_us,
           MAX(epoch_us(ts) - epoch_us(prev_ts))::BIGINT AS max_gap_us
    FROM s WHERE prev_ts IS NOT NULL
    GROUP BY 1
    """,
)
def q_events_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead window coverage: per-user inter-event gaps (duration
    from the previous event of the same user), aggregated by the type
    of the *arriving* event. Deterministic ordering via (ts, event_id)
    tie-break; gaps compared in integer microseconds."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.unix_micros(F.lag("ts").over(w)).alias("prev_us"),
    ).filter(F.col("prev_us").isNotNull())
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_steps"),
        F.sum(F.col("us") - F.col("prev_us")).cast("long")
        .alias("total_gap_us"),
        F.max(F.col("us") - F.col("prev_us")).cast("long")
        .alias("max_gap_us"),
    )


@query(
    "profile_lineitem",
    """
    SELECT 'l_orderkey' AS "column", COUNT(*)::BIGINT AS n_rows,
           (COUNT(*) - COUNT(l_orderkey))::BIGINT AS n_nulls,
           COUNT(DISTINCT l_orderkey)::BIGINT AS n_distinct,
           MIN(l_orderkey)::VARCHAR AS min_str,
           MAX(l_orderkey)::VARCHAR AS max_str
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', COUNT(*)::BIGINT,
           (COUNT(*) - COUNT(l_returnflag))::BIGINT,
           COUNT(DISTINCT l_returnflag)::BIGINT,
           MIN(l_returnflag), MAX(l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', COUNT(*)::BIGINT,
           (COUNT(*) - COUNT(l_quantity))::BIGINT,
           COUNT(DISTINCT l_quantity)::BIGINT,
           MIN(l_quantity)::VARCHAR, MAX(l_quantity)::VARCHAR
    FROM lineitem
    """,
)
def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profiling (nulls / exact distinct / min /
    max) over three representative column types, long format."""
    from lindel_spark import profile as PR

    li = _lineitem(spark, sf_dir)
    return PR.profile_table(
        li, ["l_orderkey", "l_returnflag", "l_quantity"])


@query(
    "pipeline_dedup_splits",
    _near_dup_cte() + """
    , kept AS (
      SELECT doc_id::BIGINT AS doc_id FROM documents
      WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM verified)
    ), f AS (
      SELECT doc_id,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
               / 1152921504606846976.0 AS frac
      FROM kept
    )
    SELECT CASE WHEN frac < 0.8 THEN 'train'
                WHEN frac < 0.9 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*)::BIGINT AS n_docs
    FROM f GROUP BY 1
    """,
)
def q_pipeline_dedup_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pipeline showcase: MinHash near-dup removal feeding a
    content-deterministic 80/10/10 split — the two stages a corpus
    passes between raw drop and training, composed, with the whole
    chain replayed by the oracle."""
    from lindel_spark import sampling as SMP

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    kept = LD.drop_near_duplicates(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"))
    s = SMP.deterministic_split(kept, "doc_id", [0.8, 0.1, 0.1])
    return s.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))


@query(
    "streaming_first_seen",
    """
    SELECT DISTINCT user_id::BIGINT AS user_id, event_type AS fp
    FROM events
    """,
)
def q_streaming_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming operator, driver-checked: replay
    the events table through a REAL ``readStream`` →
    ``applyInPandasWithState`` (first_seen_dedup) → ``foreachBatch``
    parquet sink with an availableNow trigger, then return the sink's
    contents. The emitted set must equal batch
    ``dropDuplicates([user_id, fp])`` — exactly the DISTINCT oracle."""
    import shutil

    from lindel_spark import streaming as ST

    from lindel_spark.sources import load_events_raw

    path = os.path.join(sf_dir, "events.parquet")
    schema = load_events_raw(spark, path).schema
    # The streaming file source requires a *directory* of data files.
    # A directory-layout table (derived sf1) streams as-is; the
    # single-file driver layout is exposed through a symlinked temp
    # dir (the source does NOT recurse, so symlinking the whole
    # directory under another directory would list nothing).
    own_src = not os.path.isdir(path)
    if own_src:
        src_dir = tempfile.mkdtemp(prefix="lindel_fsrc_")
        os.symlink(os.path.abspath(path),
                   os.path.join(src_dir, "events.parquet"))
    else:
        src_dir = path  # NEVER delete: this is the source table
    src = (
        spark.readStream.schema(schema).parquet(src_dir)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_type").alias("fp"),
        )
    )
    dedup = ST.first_seen_dedup(src, "user_id", "fp")
    out = tempfile.mkdtemp(prefix="lindel_fsq_")
    sink, cp = os.path.join(out, "sink"), os.path.join(out, "cp")

    def write_batch(bdf: DataFrame, bid: int) -> None:
        bdf.write.mode("append").parquet(sink)

    q = (
        dedup.writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    res = spark.read.parquet(sink).cache()
    res.count()  # materialize before the tmp sink is reclaimed
    shutil.rmtree(cp, ignore_errors=True)
    if own_src:
        shutil.rmtree(src_dir, ignore_errors=True)
    # the sink parquet must outlive this call (res is lazily re-read if
    # its cached blocks are evicted) — reclaim it at interpreter exit
    import atexit

    atexit.register(shutil.rmtree, out, ignore_errors=True)
    return res


@query(
    "knn_ivf_pipeline",
    """
    SELECT (SELECT COUNT(*) FROM embeddings)::BIGINT AS corpus_rows,
           true AS prune_exact,
           true AS store_matches_memory,
           10::BIGINT AS n_top
    """,
)
def q_knn_ivf_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF storage round-trip, end to end: ``ivf_write`` the corpus
    hive-partitioned by cell, probe one query's nprobe=4 cells through
    ``ivf_scan_cells`` (a partition-pruned read — plan-asserted in
    tests/test_plans.py), and check in-frame that (a) the store holds
    every corpus row, (b) the pruned read returns exactly the rows the
    in-memory assignment puts in those cells, and (c) top-10 computed
    from the pruned store equals ``ivf_knn`` computed in memory with
    the same centroids."""
    import numpy as np

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = tempfile.mkdtemp(prefix="lindel_ivfq_")
    store = os.path.join(out, "ivf")
    C = LS.train_centroids(emb, 16)
    LS.ivf_write(emb, store, n_centroids=16, centroids=C)

    qdf = emb.filter(F.col("vec_id") == 0)
    qvec = np.asarray(qdf.first()["embedding"], np.float64)
    qn = qvec / np.linalg.norm(qvec)
    cells = [int(c) for c in np.argsort(-(qn @ C.T))[:4]]

    pruned = LS.ivf_scan_cells(spark, store, cells)
    n_cand = pruned.count()
    assigned = emb.select(
        F.col("vec_id"),
        F.element_at(LS._cell_assign_udf(C, 1)(F.col("embedding")), 1)
        .alias("cell"),
    )
    n_expected = assigned.filter(F.col("cell").isin(cells)).count()

    store_top = LS.brute_force_knn(
        pruned.drop("cell"), qdf, k=10).select(
            "query_id", "neighbor_id", "rank").collect()
    mem_top = LS.ivf_knn(
        emb, qdf, k=10, n_centroids=16, nprobe=4, centroids=C).select(
            "query_id", "neighbor_id", "rank").collect()
    match = sorted(map(tuple, store_top)) == sorted(map(tuple, mem_top))

    corpus_rows = spark.read.parquet(store).count()
    return local_frame(
        spark,
        [(corpus_rows, n_cand == n_expected, match, len(store_top))],
        "corpus_rows long, prune_exact boolean, "
        "store_matches_memory boolean, n_top long",
    )


@query(
    "pipeline_compact_files",
    """
    SELECT COUNT(*)::BIGINT AS n_rows,
           SUM(doc_id)::BIGINT AS sum_ids,
           SUM(length(text))::BIGINT AS sum_chars,
           true AS fewer_files
    FROM documents
    """,
)
def q_pipeline_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction round-trip: fragment documents into 64
    files, compact to target size, and prove the rewrite is lossless
    (readback aggregates oracle-pinned) and actually reduced the file
    count."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = tempfile.mkdtemp(prefix="lindel_compact_")
    frag = os.path.join(out, "frag")
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    stats = LW.compact_parquet(spark, frag, os.path.join(out, "compact"),
                               target_file_mb=64)
    rb = spark.read.parquet(os.path.join(out, "compact"))
    agg = rb.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum(F.length("text")).cast("long").alias("sum_chars"),
    ).first()
    return local_frame(
        spark,
        [(agg.n_rows, agg.sum_ids, agg.sum_chars,
          stats["files_after"] < stats["files_before"])],
        "n_rows long, sum_ids long, sum_chars long, fewer_files boolean",
    )


@query(
    "pipeline_manifest_pruned",
    """
    SELECT COUNT(*)::BIGINT AS n_rows,
           SUM(l_quantity)::BIGINT AS sum_qty,
           SUM(l_partkey)::BIGINT AS sum_parts,
           true AS pruned_some
    FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000
    """,
)
def q_pipeline_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level min/max manifest index over a z-ordered layout
    (:func:`lindel_spark.profile.file_minmax_manifest` +
    :func:`~lindel_spark.profile.manifest_pruned_read`): write
    lineitem curve-clustered, build the footer-only manifest, then
    answer a range predicate scanning ONLY the files whose [min, max]
    intersects it — Delta/Iceberg-style data skipping without a table
    format. Aggregates are oracle-pinned; the pruning ratio itself is
    surfaced as a boolean (files_scanned < files_total) and asserted
    tighter in tests/test_profile.py."""
    from lindel_spark import profile as LP

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    out = tempfile.mkdtemp(prefix="lindel_manifest_")
    zpath = os.path.join(out, "z")
    LW.zorder_write(
        li, [F.col("l_orderkey").cast("int"),
             F.col("l_partkey").cast("int")],
        zpath, elem="int32", num_files=8)
    manifest = LP.file_minmax_manifest(spark, zpath, ["l_orderkey"])
    pruned, stats = LP.manifest_pruned_read(
        spark, zpath, manifest, {"l_orderkey": (1000, 2000)})
    agg = pruned.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.sum("l_partkey").cast("long").alias("sum_parts"),
    ).first()
    return local_frame(
        spark,
        [(agg.n_rows, agg.sum_qty, agg.sum_parts,
          stats["files_scanned"] < stats["files_total"])],
        "n_rows long, sum_qty long, sum_parts long, "
        "pruned_some boolean",
    )


@query(
    "knn_ivf_append",
    """
    SELECT (SELECT COUNT(*) FROM embeddings)::BIGINT AS n_rows,
           (SELECT SUM(vec_id) FROM embeddings)::BIGINT AS sum_ids,
           true AS resident_untouched,
           true AS appended_in_nearest_cell
    """,
)
def q_knn_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance end to end: build a store from the
    first 3/4 of the corpus, ``ivf_append`` the remaining 1/4 under
    the SAME quantizer, and check in-frame that (a) no resident row's
    (id, cell) changed, (b) every appended row landed in the cell the
    original centroids assign it, while the oracle pins the readback
    aggregates (count + id-sum = the whole corpus, no loss and no
    duplication)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cut = emb.agg(
        F.expr("percentile_approx(vec_id, 0.75, 10000)")).first()[0]
    old = emb.filter(F.col("vec_id") <= F.lit(int(cut)))
    new = emb.filter(F.col("vec_id") > F.lit(int(cut)))
    out = tempfile.mkdtemp(prefix="lindel_ivfapp_")
    store = os.path.join(out, "ivf")
    C = LS.train_centroids(old, 16)
    LS.ivf_write(old, store, n_centroids=16, centroids=C)
    before = {(r.vec_id, r.cell) for r in
              spark.read.parquet(store).select("vec_id", "cell").collect()}
    LS.ivf_append(new, store, C)
    rb = spark.read.parquet(store)
    after = {(r.vec_id, r.cell) for r in
             rb.select("vec_id", "cell").collect()}
    resident_ok = before <= after
    want_new = {(r.vec_id, r.c) for r in new.select(
        "vec_id",
        F.element_at(LS._cell_assign_udf(C, 1)(F.col("embedding")), 1)
        .alias("c")).collect()}
    appended_ok = want_new <= after and len(after) == len(before) + len(want_new)
    agg = rb.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("vec_id").cast("long").alias("sum_ids"),
    ).first()
    return local_frame(
        spark,
        [(agg.n_rows, agg.sum_ids, resident_ok, appended_ok)],
        "n_rows long, sum_ids long, resident_untouched boolean, "
        "appended_in_nearest_cell boolean",
    )


# ---------------------------------------------------------------------------
# TPC-H completion (round 4): q2/q8/q9/q11/q12/q16/q20/q21 shapes.
# The driver schema is simplified TPC-H (no partsupp; lineitem has no
# shipmode/commitdate/receiptdate), so where the official query needs
# a missing column these are "-style" adaptations — same join graph,
# subquery shape, and physical strategy, driver-verified vs DuckDB.
# ---------------------------------------------------------------------------


@query(
    "tpch_q8_market_share",
    """
    WITH flat AS (
      SELECT EXTRACT(year FROM o.o_orderdate)::BIGINT AS o_year,
             (l.l_extendedprice::DECIMAL(18,2))
               * (1 - l.l_discount::DECIMAL(18,2)) AS volume,
             n2.n_name AS nation
      FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n1.n_regionkey
        JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= DATE '1995-01-01'
        AND o.o_orderdate < DATE '1997-01-01'
    )
    SELECT o_year,
           (SUM(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END)::DOUBLE)
             / (SUM(volume)::DOUBLE) AS mkt_share
    FROM flat GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: the deepest join graph in the
    suite (8 tables). Every dimension (part, supplier, customer-side
    nation+region, supplier-side nation) broadcasts, so the physical
    plan is fact-table scans + broadcast hash joins with lineitem
    shuffled at most for the orders join — no dimension shuffle at any
    scale. Shares are exact-decimal sums divided as doubles so the
    oracle is bit-comparable."""
    rd = os.path.join
    p = F.broadcast(
        spark.read.parquet(rd(sf_dir, "part.parquet"))
        .filter(F.col("p_type") == "ECONOMY").select("p_partkey"))
    s = F.broadcast(spark.read.parquet(rd(sf_dir, "supplier.parquet"))
                    .select("s_suppkey", "s_nationkey"))
    o = spark.read.parquet(rd(sf_dir, "orders.parquet")).filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date")))
    c = spark.read.parquet(rd(sf_dir, "customer.parquet")).select(
        "c_custkey", "c_nationkey")
    nat = spark.read.parquet(rd(sf_dir, "nation.parquet"))
    reg = spark.read.parquet(rd(sf_dir, "region.parquet"))
    n1 = F.broadcast(
        nat.join(reg, nat["n_regionkey"] == reg["r_regionkey"])
        .filter(F.col("r_name") == "AMERICA")
        .select(F.col("n_nationkey").alias("cust_nkey")))
    n2 = F.broadcast(nat.select(
        F.col("n_nationkey").alias("supp_nkey"),
        F.col("n_name").alias("nation")))
    li = _lineitem(spark, sf_dir)
    vol = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)")))
    flat = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(n1, F.col("c_nationkey") == F.col("cust_nkey"))
        .join(n2, F.col("s_nationkey") == F.col("supp_nkey"))
        .select(F.year("o_orderdate").cast("long").alias("o_year"),
                vol.alias("volume"), "nation")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return flat.groupBy("o_year").agg(
        (F.sum(F.when(F.col("nation") == "NATION_1", F.col("volume"))
               .otherwise(zero)).cast("double")
         / F.sum("volume").cast("double")).alias("mkt_share"))


@query(
    "tpch_q9_product_profit",
    """
    SELECT n.n_name AS nation,
           EXTRACT(year FROM o.o_orderdate)::BIGINT AS o_year,
           SUM((l.l_extendedprice::DECIMAL(18,2))
                 * (1 - l.l_discount::DECIMAL(18,2))
               - (p.p_retailprice::DECIMAL(18,2))
                 * (l.l_quantity::DECIMAL(18,2)))::DOUBLE AS profit
    FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style product-type profit. The official query prices
    cost from partsupp.ps_supplycost (table absent here), so the
    adaptation uses p_retailprice * quantity as the cost leg — the
    join graph (part ⋈ lineitem ⋈ supplier ⋈ orders ⋈ nation) and
    LIKE-filtered part dimension are faithful. part/supplier/nation
    broadcast; only lineitem⋈orders shuffles."""
    rd = os.path.join
    p = F.broadcast(
        spark.read.parquet(rd(sf_dir, "part.parquet"))
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice"))
    s = F.broadcast(spark.read.parquet(rd(sf_dir, "supplier.parquet"))
                    .select("s_suppkey", "s_nationkey"))
    o = spark.read.parquet(rd(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_orderdate")
    nat = F.broadcast(
        spark.read.parquet(rd(sf_dir, "nation.parquet"))
        .select(F.col("n_nationkey"), F.col("n_name").alias("nation")))
    li = _lineitem(spark, sf_dir)
    amount = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
        - F.col("p_retailprice").cast("decimal(18,2)")
        * F.col("l_quantity").cast("decimal(18,2)")
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("profit"))
    )


@query(
    "tpch_q12_late_lines",
    """
    SELECT l.l_returnflag,
           SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE date_diff('day', o.o_orderdate, l.l_shipdate) > 60
      AND l.l_shipdate >= DATE '1996-01-01'
      AND l.l_shipdate < DATE '1997-01-01'
    GROUP BY 1
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style shipping-priority split. The official query
    groups by l_shipmode and defines "late" from commit/receipt dates
    (columns absent here); the adaptation groups by l_returnflag and
    defines late as shipped > 60 days after order date — the same
    fact-fact join + conditional-aggregation shape. The date filter
    reaches the lineitem parquet scan (predicate pushdown); the only
    shuffle is the orderkey join."""
    rd = os.path.join
    o = spark.read.parquet(rd(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    li = _lineitem(spark, sf_dir).filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .filter(F.datediff("l_shipdate", "o_orderdate") > 60)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long")
            .alias("low_line_count"),
        )
    )


@query(
    "tpch_q2_top_supplier_per_part",
    """
    WITH link AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    cand AS (
      SELECT p.p_partkey, p.p_name, s.s_name, s.s_acctbal, n.n_name
      FROM part p
        JOIN link k ON k.l_partkey = p.p_partkey
        JOIN supplier s ON s.s_suppkey = k.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE' AND p.p_size BETWEEN 10 AND 20
    ), ranked AS (
      SELECT *, MAX(s_acctbal) OVER (PARTITION BY p_partkey) AS best
      FROM cand
    )
    SELECT s_acctbal, s_name, n_name, p_partkey::BIGINT AS p_partkey,
           p_name
    FROM ranked WHERE s_acctbal = best
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style best supplier per part. The official query picks
    the min-ps_supplycost supplier from partsupp (absent); the
    adaptation derives the part↔supplier relation from lineitem and
    picks the max-acctbal European supplier per part — preserving the
    correlated-aggregate shape, implemented Spark-style as a window
    max over the candidate set instead of a rejoin. The distinct link
    is a map-side-combined aggregate on (partkey, suppkey); all
    dimensions broadcast."""
    rd = os.path.join
    li = _lineitem(spark, sf_dir)
    link = li.select("l_partkey", "l_suppkey").distinct()
    p = F.broadcast(
        spark.read.parquet(rd(sf_dir, "part.parquet"))
        .filter(F.col("p_size").between(10, 20))
        .select("p_partkey", "p_name"))
    nat = spark.read.parquet(rd(sf_dir, "nation.parquet"))
    reg = spark.read.parquet(rd(sf_dir, "region.parquet"))
    eu = F.broadcast(
        nat.join(reg, nat["n_regionkey"] == reg["r_regionkey"])
        .filter(F.col("r_name") == "EUROPE")
        .select("n_nationkey", "n_name"))
    s = F.broadcast(spark.read.parquet(rd(sf_dir, "supplier.parquet"))
                    .select("s_suppkey", "s_name", "s_acctbal",
                            "s_nationkey"))
    from pyspark.sql import Window

    cand = (
        link.join(p, link["l_partkey"] == p["p_partkey"])
        .join(s, link["l_suppkey"] == s["s_suppkey"])
        .join(eu, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("best", F.max("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("best"))
        .select("s_acctbal", "s_name", "n_name",
                F.col("p_partkey").cast("long").alias("p_partkey"),
                "p_name")
    )


@query(
    "tpch_q11_important_parts",
    """
    WITH val AS (
      SELECT l.l_partkey AS p_key,
             SUM((l.l_quantity::DECIMAL(18,2))
                 * (l.l_extendedprice::DECIMAL(18,2))) AS v
      FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'
      GROUP BY 1
    )
    SELECT p_key::BIGINT AS p_key, v::DOUBLE AS value
    FROM val
    WHERE v::DOUBLE > (SELECT SUM(v)::DOUBLE FROM val)
                        * (2.0 / (SELECT COUNT(*) FROM val))
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style important stock. Official value is
    ps_availqty * ps_supplycost over partsupp (absent); the adaptation
    values each part by quantity*price shipped by NATION_3 suppliers.
    The global-scalar-subquery HAVING is the point: Spark computes the
    1-row total and cross-joins it (broadcast) — no second pass over
    the fact table, and the per-part aggregate is reused for both
    sides. The threshold is 2x the mean per-part value (TPC-H scales
    its fraction by 1/SF for the same reason — a fixed fraction of the
    total selects nothing as the part population grows). Sums are
    exact decimals; the comparison happens in identical IEEE doubles
    on both engines."""
    rd = os.path.join
    s = F.broadcast(spark.read.parquet(rd(sf_dir, "supplier.parquet"))
                    .select("s_suppkey", "s_nationkey"))
    nat = F.broadcast(
        spark.read.parquet(rd(sf_dir, "nation.parquet"))
        .filter(F.col("n_name") == "NATION_3").select("n_nationkey"))
    li = _lineitem(spark, sf_dir)
    v = (F.col("l_quantity").cast("decimal(18,2)")
         * F.col("l_extendedprice").cast("decimal(18,2)"))
    val = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("p_key"))
        .agg(F.sum(v).alias("v"))
    )
    total = val.agg(F.sum("v").cast("double").alias("__t"),
                    F.count(F.lit(1)).alias("__n"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("v").cast("double")
                > F.col("__t") * (F.lit(2.0) / F.col("__n")))
        .select(F.col("p_key").cast("long").alias("p_key"),
                F.col("v").cast("double").alias("value"))
    )


@query(
    "tpch_q16_supplier_cnt",
    """
    WITH link AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size::BIGINT AS p_size,
           COUNT(DISTINCT k.l_suppkey)::BIGINT AS supplier_cnt
    FROM link k JOIN part p ON p.p_partkey = k.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type NOT LIKE 'PROMO%'
      AND k.l_suppkey IN
            (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0)
    GROUP BY 1, 2, 3
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style supplier count by part attributes. partsupp is
    derived from lineitem's distinct (partkey, suppkey); the official
    complaint-comment exclusion becomes an acctbal filter (no comment
    column). NOT-IN-shaped exclusion runs as a broadcast semi-join;
    COUNT(DISTINCT) shuffles once on the (brand, type, size) key."""
    rd = os.path.join
    li = _lineitem(spark, sf_dir)
    link = li.select("l_partkey", "l_suppkey").distinct()
    good = F.broadcast(
        spark.read.parquet(rd(sf_dir, "supplier.parquet"))
        .filter(F.col("s_acctbal") >= 0).select("s_suppkey"))
    p = F.broadcast(
        spark.read.parquet(rd(sf_dir, "part.parquet"))
        .filter((F.col("p_brand") != "Brand#1")
                & ~F.col("p_type").like("PROMO%"))
        .select("p_partkey", "p_brand", "p_type", "p_size"))
    return (
        link.join(good, link["l_suppkey"] == good["s_suppkey"], "leftsemi")
        .join(p, link["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type",
                 F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").cast("long")
             .alias("supplier_cnt"))
    )


@query(
    "tpch_q20_promo_suppliers",
    """
    WITH shipped AS (
      SELECT l_suppkey, l_partkey, SUM(l_quantity::DECIMAL(18,2)) AS qty
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1997-01-01'
        AND l_partkey IN
              (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      GROUP BY 1, 2
    )
    SELECT DISTINCT s.s_name, n.n_name
    FROM shipped sh
      JOIN supplier s ON s.s_suppkey = sh.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE sh.qty > 50
      AND n.n_regionkey IN
            (SELECT r_regionkey FROM region WHERE r_name = 'ASIA')
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style promo-part suppliers: the nested semi-join
    chain (parts by name → yearly shipped volume per supplier/part →
    threshold → suppliers in a region). The official availqty
    comparison needs partsupp; the shipped-quantity threshold keeps
    the same two-level subquery shape. Part filter broadcasts as a
    semi-join before the aggregation, so the groupBy only sees
    promo-part lines."""
    rd = os.path.join
    promo = F.broadcast(
        spark.read.parquet(rd(sf_dir, "part.parquet"))
        .filter(F.col("p_name").like("small%")).select("p_partkey"))
    li = _lineitem(spark, sf_dir).filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01"))
    shipped = (
        li.join(promo, li["l_partkey"] == promo["p_partkey"], "leftsemi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .filter(F.col("qty") > 50)
    )
    nat = spark.read.parquet(rd(sf_dir, "nation.parquet"))
    reg = spark.read.parquet(rd(sf_dir, "region.parquet"))
    asia = F.broadcast(
        nat.join(reg, nat["n_regionkey"] == reg["r_regionkey"])
        .filter(F.col("r_name") == "ASIA")
        .select("n_nationkey", "n_name"))
    s = F.broadcast(spark.read.parquet(rd(sf_dir, "supplier.parquet"))
                    .select("s_suppkey", "s_name", "s_nationkey"))
    return (
        shipped.join(s, shipped["l_suppkey"] == s["s_suppkey"])
        .join(asia, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name").distinct()
    )


@query(
    "tpch_q21_waiting_suppliers",
    """
    WITH base AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey,
             date_diff('day', o.o_orderdate, l.l_shipdate) > 60 AS late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    ), pairs AS (SELECT DISTINCT l_orderkey, l_suppkey FROM base),
    late_pairs AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM base WHERE late
    )
    SELECT s.s_name, COUNT(*)::BIGINT AS numwait
    FROM late_pairs l1
      JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM pairs l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late_pairs l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY 1
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style suppliers who kept orders waiting: the
    EXISTS/NOT-EXISTS double-correlated pattern, expressed as a
    semi-join (another supplier touched the order) plus an anti-join
    (no *other* supplier was late). "Late" is shipped > 60 days after
    order date (no receipt/commit dates in this schema). The pair
    tables are distinct (orderkey, suppkey) — far smaller than
    lineitem — and both correlations join on orderkey only, so each is
    one co-partitioned shuffle; supplier broadcasts."""
    rd = os.path.join
    o = (spark.read.parquet(rd(sf_dir, "orders.parquet"))
         .filter(F.col("o_orderstatus") == "F")
         .select("o_orderkey", "o_orderdate"))
    li = _lineitem(spark, sf_dir).select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    base = (
        li.join(o, o["o_orderkey"] == li["l_orderkey"])
        .select("l_orderkey", "l_suppkey",
                (F.datediff("l_shipdate", "o_orderdate") > 60)
                .alias("late"))
        .distinct()
    )
    pairs = base.select("l_orderkey", "l_suppkey").distinct()
    late_pairs = (base.filter("late")
                  .select("l_orderkey", "l_suppkey").distinct())
    l1 = late_pairs.alias("l1")
    l2 = pairs.alias("l2")
    l3 = late_pairs.alias("l3")
    cand = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "leftsemi",
    ).join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "leftanti",
    )
    s = F.broadcast(spark.read.parquet(rd(sf_dir, "supplier.parquet"))
                    .select("s_suppkey", "s_name"))
    return (
        cand.join(s, F.col("l1.l_suppkey") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Round-4 pipeline additions: repetition quality, sequence packing,
# benchmark decontamination.
# ---------------------------------------------------------------------------


@query(
    "text_repetition_signals",
    f"""
    WITH d AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
    g AS (
      SELECT doc_id, len(t)::BIGINT AS n_tokens,
             CASE WHEN len(t) >= 2 THEN
               list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
             ELSE [] END AS g2,
             CASE WHEN len(t) >= 5 THEN
               list_transform(range(1, len(t) - 3),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                      || t[i+3] || ' ' || t[i+4])
             ELSE [] END AS g5
      FROM d
    )
    SELECT doc_id::BIGINT AS doc_id, n_tokens,
           CASE WHEN len(g2) > 0 THEN
             list_aggregate(list_transform(list_distinct(g2),
               x -> len(list_filter(g2, y -> y = x))), 'max')::DOUBLE
               / len(g2)::DOUBLE
           ELSE 0.0 END AS top_bigram_frac,
           CASE WHEN len(g5) > 0 THEN
             1.0 - len(list_distinct(g5))::DOUBLE / len(g5)::DOUBLE
           ELSE 0.0 END AS dup_5gram_frac
    FROM g
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (top-bigram share, duplicate
    5-gram share) as a map-only pass — see
    :func:`lindel_spark.text.repetition_signals`."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LT.repetition_signals(docs)


@query(
    "pipeline_pack_sequences",
    f"""
    WITH d AS (
      SELECT doc_id, source, len({_DUCK_TOKS})::BIGINT AS n_tokens
      FROM documents
    )
    SELECT doc_id::BIGINT AS doc_id, source, n_tokens,
           ((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_tokens) // 2048)::BIGINT AS bin
    FROM d
    """,
)
def q_pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-window packing: contiguous fill into 2048-token bins
    per source — one window (shuffle on source, sort by doc_id), see
    :mod:`lindel_spark.packing`."""
    from lindel_spark.packing import pack_sequences

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    d = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "source",
        LT.token_count(F.col("text")).alias("n_tokens"))
    return pack_sequences(d, budget=2048)


@query(
    "pipeline_chunk_documents",
    f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ), c AS (
      SELECT doc_id, toks,
             greatest(1, CAST(ceil((len(toks) - 4)::DOUBLE / 28) AS BIGINT))
               AS nc
      FROM t
    ), e AS (
      SELECT doc_id, toks, unnest(range(nc)) AS ci FROM c
    )
    SELECT doc_id::BIGINT AS doc_id, ci::BIGINT AS chunk_id,
           array_to_string(toks[ci*28+1 : ci*28+32], ' ') AS chunk_text,
           len(toks[ci*28+1 : ci*28+32])::BIGINT AS n_chunk_tokens
    FROM e
    """,
)
def q_pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oversized-doc chunking for training windows: 32-token chunks
    with 4 tokens of overlapped left context (step 28) — the upstream
    complement of pack_sequences. Pure map-side sequence+posexplode+
    slice, zero shuffles at any corpus size (plan-asserted in
    tests/test_plans.py)."""
    from lindel_spark.packing import chunk_documents

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return chunk_documents(docs, max_tokens=32, overlap=4).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "chunk_id", "chunk_text", "n_chunk_tokens")


@query(
    "dedup_contamination_check",
    f"""
    WITH d AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(t) - 6),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                    || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5] || ' '
                    || t[i+6] || ' ' || t[i+7]))) AS s
      FROM d WHERE len(t) >= 8
    ),
    be AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 17 = 0),
    tr AS (SELECT doc_id AS train_id, s FROM sh WHERE doc_id % 17 <> 0)
    SELECT tr.train_id::BIGINT AS train_id,
           be.bench_id::BIGINT AS bench_id,
           COUNT(*)::BIGINT AS n_shared
    FROM tr JOIN be USING (s)
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
)
def q_dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: train docs sharing >= 2 distinct word
    8-shingles with a held-out benchmark slice (doc_id % 17 == 0
    stands in for the benchmark set) — shingle-keyed hash join, never
    all-pairs. See :func:`lindel_spark.dedup.contamination_pairs`."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    train = docs.filter(F.col("doc_id") % 17 != 0)
    return LD.contamination_pairs(train, bench, k=8, min_shared=2)


@query(
    "sampling_mixture",
    """
    WITH c AS (SELECT source, COUNT(*)::BIGINT AS n
               FROM documents GROUP BY 1),
    f AS (
      SELECT d.doc_id, d.source,
             ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
               / 1152921504606846976.0 AS frac,
             CASE d.source
               WHEN 'src1' THEN (5::DOUBLE / 10::DOUBLE)
               WHEN 'src2' THEN (3::DOUBLE / 10::DOUBLE)
               WHEN 'src3' THEN (2::DOUBLE / 10::DOUBLE)
               ELSE NULL END AS w
      FROM documents d
    )
    SELECT f.source, COUNT(*)::BIGINT AS n_kept
    FROM f JOIN c ON c.source = f.source
    WHERE f.w IS NOT NULL
      AND f.frac < LEAST(1.0::DOUBLE, (30 * f.w) / c.n)
    GROUP BY 1
    """,
)
def q_sampling_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: draw ~30 docs at 50/30/20 across
    src1/src2/src3 (other sources weight 0), content-deterministic —
    see :func:`lindel_spark.sampling.mixture_sample`. The oracle
    replays count → keep-fraction → hash threshold with the identical
    IEEE expression order."""
    from lindel_spark import sampling as SMP

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    kept = SMP.mixture_sample(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "source"),
        "doc_id", "source", {"src1": 5, "src2": 3, "src3": 2},
        total_rows=30)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"))


@query(
    "sampling_upsampled_mixture",
    """
    WITH c AS (SELECT source, COUNT(*)::BIGINT AS n
               FROM documents GROUP BY 1),
    f AS (
      SELECT d.doc_id, d.source,
             ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
               / 1152921504606846976.0 AS frac,
             CASE d.source
               WHEN 'src1' THEN (150 * (3::DOUBLE / 4::DOUBLE)) / c.n
               WHEN 'src2' THEN (150 * (1::DOUBLE / 4::DOUBLE)) / c.n
               ELSE 0.0::DOUBLE END AS f
      FROM documents d JOIN c ON c.source = d.source
    ),
    n AS (
      SELECT doc_id, source,
             CAST(floor(f) AS BIGINT)
               + CASE WHEN frac < f - floor(f) THEN 1 ELSE 0 END
               AS n_copies
      FROM f
    )
    SELECT doc_id::BIGINT AS doc_id, source,
           unnest(range(n_copies))::BIGINT AS copy_idx
    FROM n WHERE n_copies > 0
    """,
)
def q_sampling_upsampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-style upsampling: src1 must supply 75% of a 150-row
    mixture from only 25 docs (factor 4.5 → 4 full copies + a stable
    half copy), src2 the remaining 25% (factor 1.5) — every emitted
    (doc, copy_idx) replayed exactly by the oracle. See
    :func:`lindel_spark.sampling.upsample_mixture`."""
    from lindel_spark import sampling as SMP

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    up = SMP.upsample_mixture(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), "source"),
        "doc_id", "source", {"src1": 3, "src2": 1}, total_rows=150)
    return up.select("doc_id", "source", F.col("copy_idx"))


@query(
    "sampling_shuffled_order",
    """
    SELECT doc_id::BIGINT AS doc_id,
           md5(doc_id::VARCHAR || 'epoch0') AS shuffle_key
    FROM documents
    """,
)
def q_sampling_shuffled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training order: the md5 epoch key each row
    sorts by (order itself is asserted in tests/test_sampling.py; the
    driver compare is order-insensitive so the query checks the key
    values). See :func:`lindel_spark.sampling.deterministic_shuffle`."""
    from lindel_spark import sampling as SMP

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = SMP.deterministic_shuffle(
        docs.select(F.col("doc_id").cast("long").alias("doc_id")),
        "doc_id", salt="epoch0")
    return out.select("doc_id", "shuffle_key")


@query(
    "basket_rules",
    """
    WITH b AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT bk)::DOUBLE AS nb FROM b),
    ic AS (SELECT it, COUNT(*)::BIGINT AS ni FROM b GROUP BY it),
    pairs AS (
      SELECT x.it AS ia, y.it AS ib, COUNT(*)::BIGINT AS np
      FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
      GROUP BY 1, 2
      HAVING COUNT(*) >= 3
    ),
    bd AS (
      SELECT ia, ib, np FROM pairs
      UNION ALL
      SELECT ib AS ia, ia AS ib, np FROM pairs
    )
    SELECT d.ia::BIGINT AS antecedent, d.ib::BIGINT AS consequent,
           d.np AS n_pair,
           d.np::DOUBLE / n.nb AS support,
           d.np::DOUBLE / a.ni::DOUBLE AS confidence,
           (d.np::DOUBLE / a.ni::DOUBLE) / (c.ni::DOUBLE / n.nb) AS lift
    FROM bd d
    JOIN ic a ON a.it = d.ia
    JOIN ic c ON c.it = d.ib
    CROSS JOIN n
    """,
)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules over the order->part basket matrix
    (:func:`lindel_spark.rules.association_rules`): co-occurrence via
    a basket-keyed self-join (bounded by basket fan-out, never
    |items|^2), exact support/confidence/lift over bigint counts —
    the oracle replays the identical count-and-divide tree, so the
    rule table hash-compares value-for-value."""
    from lindel_spark import rules as RL

    li = _lineitem(spark, sf_dir)
    out = RL.association_rules(
        li, "l_orderkey", "l_partkey", min_pair_baskets=3)
    return out.select(
        F.col("antecedent").cast("long"),
        F.col("consequent").cast("long"),
        "n_pair", "support", "confidence", "lift")


@query(
    "features_scaled",
    """
    WITH e AS (
      SELECT event_id::BIGINT AS event_id,
             (value::DECIMAL(18,2) * 100)::BIGINT AS cents
      FROM events
    ), b AS (
      SELECT min(cents)::DOUBLE AS lo, max(cents)::DOUBLE AS hi FROM e
    ), r AS (
      SELECT event_id, cents,
             row_number() OVER (ORDER BY cents, event_id) AS rnk
      FROM e
    ), a AS (
      SELECT cents, avg(rnk) AS ar FROM r GROUP BY cents
    ), n AS (SELECT COUNT(*)::DOUBLE AS n FROM e)
    SELECT e.event_id, e.cents,
           CASE WHEN b.hi = b.lo THEN 0.0
                ELSE (e.cents::DOUBLE - b.lo) / (b.hi - b.lo) END
             AS cents_mm,
           (a.ar - 0.5) / n.n AS quantile
    FROM e
    CROSS JOIN b CROSS JOIN n
    JOIN a ON a.cents = e.cents
    """,
)
def q_features_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature scaling (:mod:`lindel_spark.features`): min-max over
    integer cents (exact — min/max are integers, one double division)
    and empirical-quantile normalization with average-rank ties
    (exact — ranks are integers, quantile is one exact subtraction +
    division). Both replay bit-for-bit in the oracle; z-score (whose
    distributed mean/std accumulation order is not bit-replayable) is
    pinned against NumPy in tests/test_features.py instead."""
    from lindel_spark import features as FE

    ev = _events(spark, sf_dir).select(
        F.col("event_id").cast("long").alias("event_id"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long")
        .alias("cents"),
    )
    mm = FE.minmax_scale(ev, ["cents"], suffix="_mm")
    qn = FE.quantile_normalize(mm, "cents", "event_id",
                               out_col="quantile")
    return qn.select("event_id", "cents", "cents_mm", "quantile")


@query(
    "sampling_negatives",
    """
    WITH catalog AS (
      SELECT p_partkey,
             row_number() OVER (ORDER BY p_partkey) - 1 AS idx
      FROM part
    ), n AS (SELECT COUNT(*)::DOUBLE AS n_items FROM part),
    pos AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_custkey % 100 = 0
    ), users AS (SELECT DISTINCT u FROM pos),
    draws AS (
      SELECT u, g.i,
             ('0x' || substr(md5(u::VARCHAR || ':' || g.i::VARCHAR),
                             1, 15))::BIGINT / 1152921504606846976.0
               AS frac
      FROM users, generate_series(0, 9) g(i)
    ), cand AS (
      SELECT d.u, d.i, c.p_partkey AS item
      FROM draws d
      JOIN n ON true
      JOIN catalog c ON c.idx = floor(d.frac * n.n_items)::BIGINT
    ), dedup AS (
      SELECT u, i, item,
             row_number() OVER (PARTITION BY u, item ORDER BY i) AS f
      FROM cand
    ), neg AS (
      SELECT d.u, d.i, d.item FROM dedup d
      LEFT JOIN pos p ON p.u = d.u AND p.item = d.item
      WHERE d.f = 1 AND p.u IS NULL
    ), ranked AS (
      SELECT u, item,
             row_number() OVER (PARTITION BY u ORDER BY i) AS r
      FROM neg
    )
    SELECT u::BIGINT AS user_key, item::BIGINT AS item_key,
           (r - 1)::BIGINT AS draw_idx
    FROM ranked WHERE r <= 5
    """,
)
def q_sampling_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling
    (:func:`lindel_spark.sampling.negative_sample`) over the
    customer-part interaction matrix (orders x lineitem): 5 negatives
    per sampled customer, drawn content-deterministically from the
    part catalog, positives anti-joined out. The oracle replays the
    identical md5 draw, catalog indexing, dup-collapse and per-user
    ranking, so the sampled (user, item, draw) triples hash-compare
    exactly."""
    from lindel_spark import sampling as SMP

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    li = _lineitem(spark, sf_dir)
    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    inter = (
        orders.filter(F.col("o_custkey") % 100 == 0)
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("user_key"),
                F.col("l_partkey").alias("item_key"))
    )
    neg = SMP.negative_sample(
        inter, part.select(F.col("p_partkey").alias("item_key")),
        k=5, user_col="user_key", item_col="item_key")
    return neg.select(F.col("user_key").cast("long"),
                      F.col("item_key").cast("long"), "draw_idx")


@query(
    "text_scrub",
    """
    WITH inj AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN text ||
               ' see https://ex.com/a?b=1 or mail bob.smith@ex-corp.io now'
             ELSE text END AS text
      FROM documents
    ),
    s AS (
      SELECT doc_id::BIGINT AS doc_id,
             regexp_replace(
               regexp_replace(text, 'https?://[^ \t\n]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
               '<EMAIL>', 'g') AS cleaned
      FROM inj
    )
    SELECT doc_id, cleaned,
           ((len(cleaned) - len(replace(cleaned, '<URL>', ''))) / 5)::BIGINT
             AS n_urls,
           ((len(cleaned) - len(replace(cleaned, '<EMAIL>', ''))) / 7)::BIGINT
             AS n_emails
    FROM s
    """,
)
def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/e-mail scrubbing (map-only regexp chain). Corpus text has
    no links, so rows with doc_id % 10 == 0 get a deterministic
    URL+e-mail suffix injected first — both engines then scrub it and
    the full cleaned strings hash-compare, proving the Java and RE2
    pattern semantics agree. See :func:`lindel_spark.text.scrub_text`."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    injected = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(F.col("text"), F.lit(
            " see https://ex.com/a?b=1 or mail bob.smith@ex-corp.io now")),
    ).otherwise(F.col("text"))
    cleaned = LT.scrub_text(injected)
    n_of = lambda tok, w: ((F.length(cleaned) - F.length(
        F.replace(cleaned, F.lit(tok), F.lit("")))) / w).cast("long")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        cleaned.alias("cleaned"),
        n_of("<URL>", 5).alias("n_urls"),
        n_of("<EMAIL>", 7).alias("n_emails"),
    )


@query("knn_pq_recall", _N_QUERIES_ORACLE)
def q_knn_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, self-checking: PQ codes (m=8,
    ks=256 -> 8 bytes/vector, 32x compression) scanned by asymmetric
    distance, top-80 candidates exactly re-scored (refine=8), recall@10
    vs in-Spark brute force thresholded at 0.7 (measured 0.90 at sf0.1,
    1.0 at sf0.01 on the near-random driver embeddings — the LSH/PQ
    worst case; clustered real embeddings do far better). The refine
    depth scales with corpus size (candidate pool stays a ~3% corpus
    FRACTION): a fixed refine=8 at 10x density re-scores 10x less of
    the corpus and recall sagged to 0.66 at sf1 — the operating point,
    not the operator, must track scale."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    n = emb.count()
    books = LS.train_pq(emb, m=8, ks=256)
    codes = LS.pq_encode(emb, books)
    brute = LS.brute_force_knn(emb, queries_df, k=10)
    approx = LS.pq_knn(codes, queries_df, books, k=10,
                       refine_with=emb, refine=max(8, n // 250))
    return _recall_check(brute, approx, 0.7)


@query("knn_opq_recall", _N_QUERIES_ORACLE)
def q_knn_opq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-rotated PQ ANN (round 12,
    :func:`lindel_spark.similarity.opq_rotation`): a deterministic
    PCA + eigenvalue-allocation orthogonal rotation (Ge et al. 2013,
    parametric OPQ) is applied before codebook training, encoding and
    LUT construction — dot products are rotation-invariant, so ADC
    scores the same geometry over better-conditioned subspaces
    (quantization MSE strictly below unrotated PQ at the same (m, ks)
    budget; pytest-pinned on both the driver embeddings and a
    constructed anisotropic set). Self-checking like the other ANN
    entries: refined recall@10 vs in-Spark brute force over the same
    0.7 floor as ``knn_pq_recall``."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    n = emb.count()
    R = LS.opq_rotation(emb, m=8)
    books = LS.train_pq(emb, m=8, ks=256, rotation=R)
    codes = LS.pq_encode(emb, books, rotation=R)
    brute = LS.brute_force_knn(emb, queries_df, k=10)
    approx = LS.pq_knn(codes, queries_df, books, k=10, rotation=R,
                       refine_with=emb, refine=max(8, n // 250))
    return _recall_check(brute, approx, 0.7)


@query("knn_ivfpq_recall", _N_QUERIES_ORACLE)
def q_knn_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS-IVFADC-shaped) ANN, self-checking: coarse cells
    prune the scan to nprobe/n_centroids of the corpus AND the scan
    reads 8-byte RESIDUAL PQ codes (round 12: codebooks train on
    v − C[cell], ADC adds the q·C[cell] term — canonical IVFADC, the
    coarse quantizer absorbs between-cell variance) with exact refine
    — recall@10 vs in-Spark brute force thresholded at 0.7, up from
    the raw-encoding 0.5 gate (near-random driver embeddings are the
    IVF worst case; residual encoding at the same 8-byte budget is
    what buys the raise)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    n = emb.count()
    brute = LS.brute_force_knn(emb, queries_df, k=10)
    # refine scales with the corpus (the knn_join_pq formula): at 10x
    # data the 8-byte ADC's rank noise grows with the candidate pool,
    # so a FIXED exact-refine depth silently decays below the gate
    # (surfaced by the first sf1 sweep of the residual encoder)
    approx = LS.ivf_pq_knn(emb, queries_df, k=10, n_centroids=16,
                           nprobe=8, refine_with=emb,
                           refine=max(8, n // 250))
    return _recall_check(brute, approx, 0.7)


@query("knn_ivfpq_opq_recall", _N_QUERIES_ORACLE)
def q_knn_ivfpq_opq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ × residual IVFADC composition (round 12, registered round
    13 — the CORRECTNESS face SURVEY row 420 cites): mean-anchored
    coarse cells assign in the ORIGINAL space (L2-nearest is
    rotation-invariant), the residual ``v − C[cell]`` rotates through
    the parametric-OPQ matrix before PQ coding, and ADC decomposes as
    ``q·C[cell] + (R·q)·r̃`` — cell pruning, 8-byte codes, AND
    balanced-variance subspaces at once. Self-checking like the other
    ANN entries: refined recall@10 vs in-Spark brute force over the
    same 0.7 floor as ``knn_ivfpq_recall`` (composition is
    NumPy-replay- and route-parity-pinned in
    tests/test_similarity.py)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    n = emb.count()
    cents = LS.train_centroids(emb, 16, spherical=False)
    R = LS.opq_rotation(emb, m=8)
    books = LS.train_pq(emb, m=8, ks=256, centroids=cents, rotation=R)
    codes = LS.ivf_pq_encode(emb, cents, books, rotation=R)
    brute = LS.brute_force_knn(emb, queries_df, k=10)
    approx = LS.ivf_pq_knn(emb, queries_df, k=10, centroids=cents,
                           codebooks=books, codes=codes, nprobe=8,
                           refine_with=emb, refine=max(8, n // 250),
                           rotation=R)
    return _recall_check(brute, approx, 0.7)


def _knn_graph_lpa_oracle(rounds: int = 2) -> str:
    """DuckDB replay of the kNN-graph → LPA composition: exact top-5
    cosine edges over the vec_id%10 subset, MUTUAL sparsifier (edge
    kept iff present both ways), then the unrolled LPA rounds (the
    _lpa_oracle idiom) over the symmetric edge set."""
    head = """
    WITH e AS MATERIALIZED (
      SELECT vec_id::BIGINT AS id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id % 10 = 0
    ), scored AS (
      SELECT a.id AS src, b.id AS dst,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) AS cos
      FROM e a JOIN e b ON a.id != b.id
    ), kn AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cos DESC, dst) AS rank
        FROM scored) WHERE rank <= 5
    ), mut AS MATERIALIZED (
      SELECT a.src, a.dst FROM kn a
      JOIN kn b ON a.src = b.dst AND a.dst = b.src
    ), e0 AS MATERIALIZED (
      SELECT src AS s, dst AS d FROM mut WHERE src < dst
    ), sym AS MATERIALIZED (
      SELECT s, d FROM e0 UNION SELECT d, s FROM e0
    ), l0 AS (
      SELECT DISTINCT s AS node, s AS label FROM sym
    )"""
    its = []
    for i in range(1, rounds + 1):
        its.append(f"""
    , v{i} AS MATERIALIZED (
      SELECT sym.s AS node, l.label, COUNT(*)::BIGINT AS c
      FROM sym JOIN l{i - 1} l ON l.node = sym.d
      GROUP BY 1, 2
    ), l{i} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label ASC) AS rn
        FROM v{i}) WHERE rn = 1
    )""")
    return head + "".join(its) + f"""
    SELECT label, COUNT(*)::BIGINT AS n_nodes
    FROM l{rounds} GROUP BY label
    """


@query(
    "knn_model_roundtrip",
    """
    SELECT COUNT(*)::BIGINT AS n_vectors, true AS roundtrip_ok
    FROM embeddings
    """,
)
def q_knn_model_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN artifact persistence (round 13,
    :func:`lindel_spark.similarity.save_ann_model` /
    ``load_ann_model``): train the full OPQ × residual stack, persist
    centroids + codebooks + rotation to parquet, load them back, and
    re-encode the corpus with the LOADED matrices — the stored-code
    invariant (codes are only meaningful relative to their quantizer)
    survives a driver restart iff the round-trip is bit-exact, so the
    query self-checks ``roundtrip_ok`` = encoded (cell, code) streams
    identical under trained vs loaded artifacts."""
    import shutil
    import tempfile

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cents = LS.train_centroids(emb, 16, spherical=False)
    R = LS.opq_rotation(emb, m=8)
    books = LS.train_pq(emb, m=8, ks=64, centroids=cents, rotation=R)
    # load_ann_model collects the matrices eagerly, so the on-disk
    # artifact can be removed before the (lazy) re-encode plan runs —
    # try/finally so repeated sweeps never leak /tmp dirs (ADVICE r13)
    path = tempfile.mkdtemp(prefix="lindel_ann_model_")
    try:
        LS.save_ann_model(spark, path, centroids=cents, codebooks=books,
                          rotation=R)
        loaded = LS.load_ann_model(spark, path)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    a = LS.ivf_pq_encode(emb, cents, books, rotation=R) \
        .select("vec_id", "cell", F.col("code").alias("code_a"))
    b = LS.ivf_pq_encode(emb, loaded["centroids"], loaded["codebooks"],
                         rotation=loaded["rotation"]) \
        .select("vec_id", F.col("cell").alias("cell_b"),
                F.col("code").alias("code_b"))
    j = a.join(b, "vec_id")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        (F.sum(F.when((F.col("cell") == F.col("cell_b"))
                      & (F.col("code_a") == F.col("code_b")), 0)
               .otherwise(1)) == 0).alias("roundtrip_ok"))


@query("knn_graph_communities", _knn_graph_lpa_oracle(2))
def q_knn_graph_communities(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Semantic-neighborhood communities (round 13,
    :func:`lindel_spark.similarity.knn_graph` →
    :func:`lindel_spark.graph.label_propagation_communities`): the
    corpus-curation composition — materialize the EXACT top-5 cosine
    graph over the vec_id%10 slice, keep MUTUAL edges (the standard
    sparsifier: symmetric by construction, hubs stop attracting
    one-way edges), and run 2 LPA rounds over it. One ANN join paid
    once, then the whole graph tier applies to semantic structure.
    Output is community sizes; exact integers end to end (cosine
    only orders the top-k cut, which both engines rank
    identically)."""
    from lindel_spark.graph import label_propagation_communities

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    sub = emb.filter(F.col("vec_id") % 10 == 0)
    g = LS.knn_graph(sub, k=5, mutual=True)
    edges = (g.filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    comm = label_propagation_communities(edges, rounds=2)
    return comm.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"))


@query("knn_graph_search_recall", _N_QUERIES_ORACLE)
def q_knn_graph_search_recall(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Graph-walk ANN search (round 14,
    :func:`lindel_spark.similarity.graph_knn_search`): the
    high-recall/low-scan regime HNSW serves — seed each query from
    its nearest IVF cell (nprobe=1, the cheapest keyed entry point),
    then 3 beam-search hops over the persisted exact k=16
    :func:`knn_graph` edges. Per-query cost is O(cells + beam·degree·
    hops) — bounded by the GRAPH degree, not a corpus scan fraction
    — which is why the index (paid once per corpus snapshot) exists.
    The INDEX is fixed (k=16 graph, 16 cells); the SEARCH effort
    scales with the corpus exactly as HNSW's ef_search does —
    ``beam = max(48, n/200)``, 2 seed cells — measured at sf1
    (n=20k): beam 96 → 0.94, where the fixed sf0.1 knobs sat at
    0.79. Self-checking: recall@10 vs brute force gated ≥ 0.9, where
    the nprobe=1 seed alone measures ~0.26 — the walk IS the
    recall."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    n = emb.count()
    cents = LS.train_centroids(emb, 16)
    g = LS.knn_graph(emb, k=16, centroids=cents)
    brute = LS.brute_force_knn(emb, queries_df, k=10)
    walk = LS.graph_knn_search(g, emb, queries_df, k=10, hops=3,
                               beam=max(48, n // 200),
                               centroids=cents, seed_nprobe=2)
    return _recall_check(brute, walk, 0.9)


@query("knn_graph_search_pq_recall", _N_QUERIES_ORACLE)
def q_knn_graph_search_pq_recall(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """Graph-walk ANN over the COMPRESSED layout (round 14,
    :func:`lindel_spark.similarity.graph_knn_search_pq`): the
    billion-scale composition — the beam walk of
    ``knn_graph_search_recall`` scoring candidates by ADC over
    stored IVF-PQ codes (~m bytes/vector; the DiskANN/HNSW-PQ memory
    layout as a bulk join plan), raw vectors touched only in the
    final exact refine of the k·refine survivors. Self-checking:
    refined recall@10 vs brute force ≥ 0.7 (the PQ-family gate)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    n = emb.count()
    cents = LS.train_centroids(emb, 16, spherical=False)
    books = LS.train_pq(emb, m=8, ks=64, centroids=cents)
    codes = LS.ivf_pq_encode(emb, cents, books)
    g = LS.knn_graph(emb, k=16)
    brute = LS.brute_force_knn(emb, queries_df, k=10)
    walk = LS.graph_knn_search_pq(g, codes, queries_df, cents, books,
                                  k=10, hops=3,
                                  beam=max(48, n // 200),
                                  refine_with=emb,
                                  refine=max(8, n // 250),
                                  seed_nprobe=2)
    return _recall_check(brute, walk, 0.7)


@query("knn_filtered_recall", _N_QUERIES_ORACLE)
def q_knn_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-filtered ANN (round 13,
    :func:`lindel_spark.similarity.filtered_knn`): "nearest neighbors
    WITHIN label < 5" — the predicate-scoped search production vector
    systems actually run. The predicate lands BELOW the cell join
    (Catalyst pushes it into the parquet scan; plan-asserted in
    tests/test_plans.py), centroids come from the FULL corpus (the
    stored-index shape — cell assignment is filter-independent so one
    quantizer serves every filter), and recall@10 at nprobe=8/16 is
    gated ≥ 0.7 against brute force over the SAME filtered corpus —
    pre-filter semantics, never top-k-then-filter."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    pred = F.col("label") < 5
    cents = LS.train_centroids(emb, 16)
    brute = LS.brute_force_knn(emb.filter(pred), queries_df, k=10)
    approx = LS.filtered_knn(emb, queries_df, pred, k=10,
                             centroids=cents, nprobe=8)
    return _recall_check(brute, approx, 0.7)


@query("knn_filtered_pq_recall", _N_QUERIES_ORACLE)
def q_knn_filtered_pq_recall(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Attribute-filtered ANN over the COMPRESSED stored layout
    (round 13): the billion-scale composition of
    ``knn_filtered_recall`` — attributes ride the stored IVF-PQ code
    rows (one id-keyed join at store-build time), the predicate
    filters the code frame BEFORE the cell-keyed ADC join
    (:func:`lindel_spark.similarity.knn_join_pq` passes extra columns
    through untouched), and exact refine rescales the survivors. The
    full-corpus quantizer stays valid under any predicate (cell
    assignment is filter-independent). Self-checking: refined
    recall@10 vs brute force over the same filtered corpus ≥ 0.7."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    pred = F.col("label") < 5
    n = emb.count()
    cents = LS.train_centroids(emb, 16, spherical=False)
    books = LS.train_pq(emb, m=8, ks=256, centroids=cents)
    codes = LS.ivf_pq_encode(emb, cents, books)
    codes_attr = codes.join(emb.select("vec_id", "label"), "vec_id")
    brute = LS.brute_force_knn(emb.filter(pred), queries_df, k=10)
    approx = LS.knn_join_pq(codes_attr.filter(pred), queries_df,
                            cents, books, k=10, nprobe=8,
                            refine_with=emb,
                            refine=max(8, n // 250))
    return _recall_check(brute, approx, 0.7)


@query("knn_join_pq_topk", _N_QUERIES_ORACLE)
def q_knn_join_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain ANN through the fully-DISTRIBUTED query path
    (:func:`lindel_spark.similarity.knn_join_pq`, round-9): queries
    never collect to the driver — they explode to probed cells, join
    stored IVF-PQ codes on the cell id (shuffle equi-join, never a
    cartesian; plan-asserted in tests/test_plans.py), ADC-score per
    Arrow batch, and exact-refine through shuffled id joins. All
    cells probed + exact refine, so recall@10 vs in-Spark brute force
    clears the same 0.7 floor as the collect-based ``pq_knn`` entry
    (identical codebook math; the paths differ only in distribution
    strategy)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    n = emb.count()
    nc, _np = LS.auto_ivf_config(n)
    cents = LS.train_centroids(emb, nc, spherical=False)
    books = LS.train_pq(emb, m=8, ks=256, centroids=cents)
    codes = LS.ivf_pq_encode(emb, cents, books)
    brute = LS.brute_force_knn(emb, queries_df, k=10)
    approx = LS.knn_join_pq(codes, queries_df, cents, books, k=10,
                            refine_with=emb, refine=max(8, n // 250))
    return _recall_check(brute, approx, 0.7)


@query(
    "pipeline_quality_filter",
    f"""
    WITH d AS (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) >= 2 THEN
               list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i+1])
             ELSE [] END AS g2,
             CASE WHEN len(toks) >= 5 THEN
               list_transform(range(1, len(toks) - 3),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                      || ' ' || toks[i+3] || ' ' || toks[i+4])
             ELSE [] END AS g5,
             (CASE WHEN len(toks) BETWEEN 10 AND 10000
                   THEN 1.0e0 ELSE 0.0e0 END) * 0.25e0
             + (CASE WHEN list_sum(list_transform(toks, t -> length(t)))::DOUBLE
                          / len(toks)::DOUBLE BETWEEN 2.0e0 AND 12.0e0
                     THEN 1.0e0 ELSE 0.0e0 END) * 0.25e0
             + (len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE) * 0.25e0
             + ((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE
                / greatest(length(text)::DOUBLE, 1.0e0)) * 0.25e0 AS quality
      FROM d
    ),
    sig AS (
      SELECT doc_id::BIGINT AS doc_id, quality,
             CASE WHEN len(g2) > 0 THEN
               list_aggregate(list_transform(list_distinct(g2),
                 x -> len(list_filter(g2, y -> y = x))), 'max')::DOUBLE
                 / len(g2)::DOUBLE
             ELSE 0.0e0 END AS top_bigram_frac,
             CASE WHEN len(g5) > 0 THEN
               1.0e0 - len(list_distinct(g5))::DOUBLE / len(g5)::DOUBLE
             ELSE 0.0e0 END AS dup_5gram_frac
      FROM g
    )
    SELECT doc_id, quality, top_bigram_frac, dup_5gram_frac,
           (quality >= 0.75e0 AND top_bigram_frac < 0.1e0
            AND dup_5gram_frac < 0.1e0) AS keep
    FROM sig
    """,
)
def q_pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-gate step of a training pipeline as ONE map-only
    select — quality score, Gopher repetition signals, and the keep
    decision computed per row with zero joins and zero shuffles (the
    composable column forms make the composition free). At 100 TB this
    is scan-bound."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    c = F.col("text")
    q = LT.quality_score(c)
    top2 = LT.top_ngram_frac(c, 2)
    dup5 = LT.dup_ngram_frac(c, 5)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        q.alias("quality"),
        top2.alias("top_bigram_frac"),
        dup5.alias("dup_5gram_frac"),
        ((q >= 0.75) & (top2 < 0.1) & (dup5 < 0.1)).alias("keep"),
    )


@query(
    "dedup_incremental_batch",
    """
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      FROM documents
    ),
    store AS (SELECT DISTINCT f FROM fp WHERE doc_id < 250),
    batch AS (SELECT * FROM fp WHERE doc_id >= 250),
    first_in_batch AS (
      SELECT doc_id, f,
             row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
      FROM batch
    )
    SELECT b.doc_id::BIGINT AS doc_id
    FROM first_in_batch b
    WHERE b.rn = 1 AND NOT EXISTS
          (SELECT 1 FROM store s WHERE s.f = b.f)
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: docs with id < 250 play the
    historical fingerprint store; the rest arrive as a batch and keep
    only rows new to both the store and the batch. See
    :func:`lindel_spark.dedup.incremental_exact_dedup`."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    prior = docs.filter(F.col("doc_id") < 250)
    store = prior.select(
        LT.doc_fingerprint(F.col("text")).alias("fingerprint"))
    batch = docs.filter(F.col("doc_id") >= 250)
    kept, _ = LD.incremental_exact_dedup(batch, store)
    return kept.select(F.col("doc_id").cast("long").alias("doc_id"))


@query(
    "text_bm25_topk",
    """
    WITH norm AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '') AS toks
      FROM documents
    ),
    postings AS (
      SELECT doc_id, term, COUNT(*)::BIGINT AS tf, ANY_VALUE(dl) AS dl
      FROM (SELECT doc_id, len(toks)::BIGINT AS dl, unnest(toks) AS term
            FROM norm)
      GROUP BY doc_id, term
    ),
    stats AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs,
             SUM(tf)::DOUBLE / COUNT(DISTINCT doc_id)::DOUBLE AS avgdl
      FROM postings
    ),
    qterms AS (
      SELECT DISTINCT doc_id AS query_id, unnest(toks[1:5]) AS term
      FROM norm WHERE doc_id % 97 = 0
    ),
    dfs AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM postings
      WHERE term IN (SELECT term FROM qterms) GROUP BY term
    ),
    scored AS (
      SELECT q.query_id, p.doc_id,
             SUM(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (p.tf::DOUBLE * (1.2 + 1.0))
                 / (p.tf::DOUBLE
                    + 1.2 * ((1.0 - 0.75)
                             + 0.75 * p.dl::DOUBLE / s.avgdl))) AS score
      FROM postings p
      JOIN dfs d USING (term)
      JOIN qterms q USING (term)
      CROSS JOIN stats s
      GROUP BY q.query_id, p.doc_id
    )
    SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
           doc_id::BIGINT AS doc_id, round(score, 4) AS score_r4
    FROM (SELECT query_id, doc_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY round(score, 4) DESC,
                                             doc_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 retrieval: pseudo-queries are the first five tokens
    of every 97th document, scored against the whole corpus with
    Lucene-style idf. Broadcast query side filters the postings inside
    the scan stage; scores rounded to 4 decimals on both engines (the
    one transcendental, ``ln``, is sub-ulp across libms). See
    :func:`lindel_spark.retrieval.bm25_topk`."""
    from lindel_spark import retrieval as LR

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    toks = LT.tokens(LT.normalize_text(F.col("text")))
    queries_df = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("query"),
    )
    res = LR.bm25_topk(docs, queries_df, k=5, rank_round=4)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.round("score", 4).alias("score_r4"),
    )


@query(
    "text_hybrid_topk",
    """
    WITH norm AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '') AS toks
      FROM documents
    ),
    postings AS (
      SELECT doc_id, term, COUNT(*)::BIGINT AS tf, ANY_VALUE(dl) AS dl
      FROM (SELECT doc_id, len(toks)::BIGINT AS dl, unnest(toks) AS term
            FROM norm)
      GROUP BY doc_id, term
    ),
    stats AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs,
             SUM(tf)::DOUBLE / COUNT(DISTINCT doc_id)::DOUBLE AS avgdl
      FROM postings
    ),
    qterms AS (
      SELECT DISTINCT doc_id AS query_id, unnest(toks[1:5]) AS term
      FROM norm WHERE doc_id % 97 = 0
    ),
    dfs AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM postings
      WHERE term IN (SELECT term FROM qterms) GROUP BY term
    ),
    bmscored AS (
      SELECT q.query_id, p.doc_id,
             SUM(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (p.tf::DOUBLE * (1.2 + 1.0))
                 / (p.tf::DOUBLE
                    + 1.2 * ((1.0 - 0.75)
                             + 0.75 * p.dl::DOUBLE / s.avgdl))) AS score
      FROM postings p
      JOIN dfs d USING (term)
      JOIN qterms q USING (term)
      CROSS JOIN stats s
      GROUP BY q.query_id, p.doc_id
    ),
    bm AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY round(score, 4) DESC,
                                         doc_id) AS rank
      FROM bmscored
    ),
    qe AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 97 = 0
    ),
    ce AS (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS cv FROM embeddings
    ),
    annscored AS (
      SELECT query_id, doc_id,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(cv, cv))) AS cos
      FROM qe, ce WHERE query_id != doc_id
    ),
    ann AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY round(cos, 9) DESC,
                                         doc_id) AS rank
      FROM annscored
    ),
    fused AS (
      SELECT query_id, doc_id,
             SUM(1.0 / (60.0 + rank)) AS rrf,
             COUNT(*)::BIGINT AS n_lists
      FROM (SELECT query_id, doc_id, rank FROM bm WHERE rank <= 10
            UNION ALL
            SELECT query_id, doc_id, rank FROM ann WHERE rank <= 10)
      GROUP BY query_id, doc_id
    )
    SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
           doc_id::BIGINT AS doc_id, round(rrf, 9) AS rrf, n_lists
    FROM (SELECT query_id, doc_id, rrf, n_lists,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY round(rrf, 9) DESC,
                                             doc_id) AS rank
          FROM fused)
    WHERE rank <= 5
    """,
)
def q_text_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (round 10,
    :func:`lindel_spark.retrieval.reciprocal_rank_fusion` — round-9
    verdict item 6): BM25 top-10 (lexical, pseudo-queries = first five
    tokens of every 97th document) fused with cosine top-10 over the
    same ids' embeddings (dense) by reciprocal-rank fusion,
    ``Σ 1/(60+rank)``. Both constituent rankings use the repo's
    disciplined rounding (4 decimals for BM25 scores, 9 for cosine)
    so the fusion — whose scores are exact rationals of integer ranks
    — is engine-replayable end to end."""
    from lindel_spark import retrieval as LR
    from lindel_spark import similarity as LSim

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    toks = LT.tokens(LT.normalize_text(F.col("text")))
    queries_df = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("query"),
    )
    bm = LR.bm25_topk(docs, queries_df, k=10, rank_round=4) \
        .select("query_id", "doc_id", "rank")
    qe = F.broadcast(emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").alias("__qv")))
    ce = emb.select(F.col("vec_id").cast("long").alias("doc_id"),
                    F.col("embedding").alias("__cv"))
    annscored = (
        qe.crossJoin(ce)
        .filter(F.col("query_id") != F.col("doc_id"))
        .select("query_id", "doc_id",
                LSim.cosine_similarity(F.col("__qv"),
                                       F.col("__cv")).alias("cos"))
    )
    from pyspark.sql import Window as W
    wq = W.partitionBy("query_id").orderBy(
        F.round(F.col("cos"), 9).desc(), F.col("doc_id").asc())
    ann = (annscored.withColumn("rank", F.row_number().over(wq))
           .filter(F.col("rank") <= 10)
           .select("query_id", "doc_id", "rank"))
    return LR.reciprocal_rank_fusion([bm, ann], k=5)


@query(
    "text_lm_quality",
    """
    WITH norm AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '') AS toks
      FROM documents
    ),
    exploded AS (SELECT doc_id, unnest(toks) AS term FROM norm),
    vocab AS (
      SELECT term, COUNT(*)::BIGINT AS term_count FROM exploded GROUP BY term
    ),
    total AS (SELECT SUM(term_count)::BIGINT AS total_tokens FROM vocab)
    SELECT e.doc_id::BIGINT AS doc_id,
           COUNT(*)::BIGINT AS n_tokens,
           round(SUM(ln(v.term_count::DOUBLE / t.total_tokens::DOUBLE))
                 / COUNT(*)::DOUBLE, 4) AS avg_lp_r4
    FROM exploded e JOIN vocab v USING (term) CROSS JOIN total t
    GROUP BY e.doc_id
    """,
)
def q_text_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM quality scoring: per-document mean log-prob
    under the corpus's own ML unigram distribution (KenLM-style
    typicality signal; no OOV by construction). One full-vocab
    aggregate + one term-keyed join. See
    :func:`lindel_spark.retrieval.unigram_logprob`."""
    from lindel_spark import retrieval as LR

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    res = LR.unigram_logprob(docs)
    return res.select(
        "doc_id",
        "n_tokens",
        F.round("avg_logprob", 4).alias("avg_lp_r4"),
    )


_MERGE_CUTOFF_US = 1705795200000000  # 2024-01-21T00:00:00Z

@query(
    "events_merge_upsert",
    """
    WITH base AS (
      SELECT user_id::BIGINT AS user_id, event_id::BIGINT AS event_id,
             epoch_us(ts)::BIGINT AS tus, event_type, value
      FROM events
    ),
    t AS (
      SELECT user_id, event_id, tus, event_type, value
      FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
            FROM base WHERE tus < 1705795200000000)
      WHERE rn = 1
    ),
    u AS (
      SELECT user_id, event_id, tus, event_type, value,
             (event_type = 'error') AS is_delete
      FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
            FROM base WHERE tus >= 1705795200000000)
      WHERE rn = 1
    )
    SELECT user_id, event_id, tus, event_type, value FROM t
    WHERE user_id NOT IN (SELECT user_id FROM u)
    UNION ALL
    SELECT user_id, event_id, tus, event_type, value FROM u
    WHERE NOT is_delete
    """,
)
def q_events_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO over an events snapshot: the first 20 days compacted
    to latest-per-user play the target table; the remaining days'
    latest-per-user play the update delta, with 'error'-typed updates
    acting as tombstones (matched keys deleted, others upserted).
    Composition of dedup.latest_by_key (changelog compaction) and
    write.merge_upsert (anti-join + union; delta side broadcasts when
    small). See :func:`lindel_spark.write.merge_upsert`."""
    from lindel_spark.dedup import latest_by_key

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros("ts").alias("tus"),
        "event_type",
        "value",
    )
    target = latest_by_key(
        ev.filter(F.col("tus") < _MERGE_CUTOFF_US),
        "user_id", ["tus", "event_id"])
    updates = latest_by_key(
        ev.filter(F.col("tus") >= _MERGE_CUTOFF_US),
        "user_id", ["tus", "event_id"],
    ).withColumn("is_delete", F.col("event_type") == "error")
    return LW.merge_upsert(target, updates, "user_id",
                           delete_col="is_delete")


@query(
    "text_scrub_pii",
    """
    WITH injected AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text ||
               ' call +1 (415) 555-0199 or ping 192.168.10.42 now'
             ELSE text END AS t
      FROM documents
    ),
    cleaned AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(t, 'https?://[^ \\t\\n]+', '<URL>', 'g'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
                   '<EMAIL>', 'g'),
                 '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
                 '<IP>', 'g'),
               '\\+?[0-9][0-9()\\-. ]{6,}[0-9]', '<PHONE>', 'g') AS cleaned
      FROM injected
    )
    SELECT doc_id::BIGINT AS doc_id, cleaned,
           ((length(cleaned) - length(replace(cleaned, '<IP>', ''))) / 4
           )::BIGINT AS n_ips,
           ((length(cleaned) - length(replace(cleaned, '<PHONE>', ''))) / 7
           )::BIGINT AS n_phones
    FROM cleaned
    """,
)
def q_text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended PII scrub (URL/e-mail/IPv4/phone): docs with
    doc_id % 7 == 0 get a deterministic phone+IP suffix injected;
    both engines scrub and the full cleaned strings hash-compare,
    proving the Java and RE2 pattern semantics agree for all four
    patterns. See :func:`lindel_spark.text.scrub_pii`."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit(
            " call +1 (415) 555-0199 or ping 192.168.10.42 now")),
    ).otherwise(F.col("text"))
    cleaned = LT.scrub_pii(injected)
    n_of = lambda tok, w: ((F.length(cleaned) - F.length(
        F.replace(cleaned, F.lit(tok), F.lit("")))) / w).cast("long")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        cleaned.alias("cleaned"),
        n_of("<IP>", 4).alias("n_ips"),
        n_of("<PHONE>", 7).alias("n_phones"),
    )


@query(
    "sketch_heavy_hitters",
    """
    WITH toks AS (
      SELECT unnest(list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '')) AS term
      FROM documents
    ),
    rows_ AS (SELECT unnest([0, 1, 2, 3]) AS row),
    cells AS (
      SELECT r.row,
             (('0x' || substr(md5('cms' || r.row || ':' || t.term), 1, 15)
              )::BIGINT % 1024) AS bucket,
             COUNT(*)::BIGINT AS cnt
      FROM toks t CROSS JOIN rows_ r
      GROUP BY 1, 2
    ),
    exact AS (SELECT term, COUNT(*)::BIGINT AS exact
              FROM toks GROUP BY term),
    est AS (
      SELECT e.term,
             MIN(c.cnt) AS est
      FROM exact e
      CROSS JOIN rows_ r
      JOIN cells c
        ON c.row = r.row
       AND c.bucket = (('0x' || substr(md5('cms' || r.row || ':' || e.term),
                                       1, 15))::BIGINT % 1024)
      GROUP BY e.term
    )
    SELECT rank::BIGINT AS rank, term, est, exact
    FROM (SELECT est.term, est.est, exact.exact,
                 ROW_NUMBER() OVER (ORDER BY est.est DESC, est.term)
                   AS rank
          FROM est JOIN exact USING (term))
    WHERE rank <= 20
    """,
)
def q_sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters: the whole corpus folds into a
    4×1024 counter grid (bounded memory at any scale; cell-wise-sum
    mergeable), then the top-20 tokens by CMS estimate are ranked
    beside their exact counts. DuckDB replays the sketch bit-for-bit
    via the shared md5 bucket hash — a value-level oracle for a
    sketch operator. See :func:`lindel_spark.sketch.heavy_hitters`."""
    from lindel_spark import sketch as SK
    from lindel_spark.text import normalize_text, tokens

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    terms = docs.select(
        F.explode(tokens(normalize_text(F.col("text")))).alias("term"))
    res = SK.heavy_hitters(terms, k=20)
    return res.select(
        F.col("rank").cast("long").alias("rank"),
        "term", "est", "exact")


@query(
    "bucketed_join_segments",
    """
    SELECT c.c_mktsegment,
           COUNT(*)::BIGINT AS n_orders,
           SUM(o.o_totalprice::DECIMAL(18,2))::DOUBLE AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketed tables: orders and customer are
    written bucketed on custkey with the same bucket count, then
    joined WITHOUT an Exchange on either side (plan-asserted in
    tests/test_bucketing_join.py) — the write-once-join-free pattern
    for repeated big-to-big joins. Values are oracle-checked against
    the plain join. See :func:`lindel_spark.write.bucketed_write`."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    base = tempfile.mkdtemp(prefix="lindel_bucketed_")
    LW.bucketed_write(orders, "lindel_q_orders_b", "o_custkey", 8,
                      sort_cols="o_custkey",
                      path=os.path.join(base, "orders"))
    LW.bucketed_write(cust, "lindel_q_cust_b", "c_custkey", 8,
                      sort_cols="c_custkey",
                      path=os.path.join(base, "cust"))
    ob, cb = spark.table("lindel_q_orders_b"), spark.table("lindel_q_cust_b")
    return (
        ob.join(cb, ob.o_custkey == cb.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("total_price"),
        )
    )


@query(
    "dedup_semantic",
    """
    SELECT COUNT(*)::BIGINT AS n_total, true AS containment_ok
    FROM embeddings
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup — self-checking: an independent
    md5-sampled exact pass (broadcast crossJoin of an expected-2k-row
    sample, never full-corpus) finds all cosine >= 0.35 pairs, keeps
    the same-cluster ones, and checks that the operator's cell-keyed
    join found every one (within-cluster recall of the exact join is
    1 by construction, so any miss is a real bug). Emits (n_total,
    containment_ok). See :func:`lindel_spark.similarity.semantic_dup_pairs`."""
    from lindel_spark.sampling import split_fraction

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    centroids = LS.train_centroids(emb, 8)
    found = LS.semantic_dup_pairs(emb, 0.35, centroids=centroids)
    assigned = LS.assign_cells(emb, centroids).select("id", "cell")

    thresh = min(1.0, float(_EMB_GT_SAMPLE_CAP) / max(1, emb.count()))
    s = emb.select(F.col("vec_id").cast("long").alias("id"),
                   F.col("embedding").alias("v")).filter(
        split_fraction(F.col("id"), "semgt") < F.lit(thresh))
    a, b = s.alias("a"), s.alias("b")
    exact = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                LS.cosine_similarity(F.col("a.v"), F.col("b.v")).alias("cos"))
        .filter(F.col("cos") >= 0.35)
    )
    same_cell = (
        exact
        .join(assigned.withColumnRenamed("id", "id_a")
              .withColumnRenamed("cell", "cell_a"), "id_a")
        .join(assigned.withColumnRenamed("id", "id_b")
              .withColumnRenamed("cell", "cell_b"), "id_b")
        .filter(F.col("cell_a") == F.col("cell_b"))
        .select("id_a", "id_b")
    )
    j = same_cell.join(
        found.select("id_a", "id_b", F.lit(1).alias("hit")),
        ["id_a", "id_b"], "left")
    checks = j.agg(
        (F.coalesce(
            F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0)),
            F.lit(0)) == 0).alias("containment_ok"))
    totals = emb.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return totals.crossJoin(checks)


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

@query(
    "events_pivot_daily",
    """
    SELECT (epoch_us(ts) // 86400000000)::BIGINT AS day,
           COUNT(*) FILTER (WHERE event_type = 'click')::BIGINT AS click,
           COUNT(*) FILTER (WHERE event_type = 'error')::BIGINT AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase')::BIGINT
             AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')::BIGINT AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view')::BIGINT AS view
    FROM events GROUP BY 1
    """,
)
def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational pivot: events-per-day spread into one column per
    event type (explicit pivot value list, so the schema is static —
    the scalable form: a pivot with discovered values needs an extra
    distinct pass). Catalyst compiles this to a single hash aggregate
    with pivot-first expressions — one shuffle on the group key."""
    ev = _events(spark, sf_dir)
    out = (
        ev.select(
            F.floor(F.unix_micros("ts") / F.lit(86400000000))
            .cast("long").alias("day"),
            "event_type")
        .groupBy("day")
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    # count() yields NULL for absent combos; 0 is the relational answer
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
                 for t in _EVENT_TYPES])


@query(
    "events_unpivot_melt",
    """
    SELECT (epoch_us(ts) // 86400000000)::BIGINT AS day, event_type,
           COUNT(*)::BIGINT AS n
    FROM events GROUP BY 1, 2
    """,
)
def q_events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide per-day pivot above folded back to
    long (day, event_type, n) with Spark's native unpivot — the
    pivot/unpivot pair round-trips to the plain group-by, which is
    exactly what the oracle checks. Zero-count combos drop out on
    unpivot, matching the group-by's absent rows."""
    wide = q_events_pivot(spark, sf_dir)
    long = wide.unpivot(
        ids=["day"], values=_EVENT_TYPES,
        variableColumnName="event_type", valueColumnName="n")
    return long.filter(F.col("n") > 0).select(
        "day", "event_type", F.col("n").cast("long").alias("n"))


@query(
    "events_approx_percentiles",
    """
    SELECT event_type, COUNT(*)::BIGINT AS n,
           true AS ok_p50, true AS ok_p90, true AS ok_p99
    FROM events GROUP BY 1
    """,
)
def q_events_approx_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Spark's KLL-style percentile_approx
    sketch) — self-checking by RANK ERROR, the sketch's actual
    contract: for each event type the share of values <= the approx
    p-quantile must be within 2% of p. The exact-percentile query
    (events_percentiles) pins exact values; this one proves the
    mergeable-sketch path is usable, the form that matters at 100 TB
    where exact percentiles need a full sort."""
    ev = _events(spark, sf_dir)
    appr = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("ap"))
    j = ev.select("event_type", "value").join(F.broadcast(appr),
                                              "event_type")
    def rank_ok(idx: int, p: float):
        frac = (
            F.sum(F.when(F.col("value") <= F.element_at("ap", idx), 1)
                  .otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        )
        return (F.abs(frac - F.lit(p)) <= F.lit(0.02)).alias(
            f"ok_p{int(p * 100)}")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        rank_ok(1, 0.5), rank_ok(2, 0.9), rank_ok(3, 0.99))


@query(
    "text_lm_bigram",
    """
    WITH norm AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '') AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id, g[1] AS w1, g[2] AS w2
      FROM (SELECT doc_id,
                   unnest(list_filter(list_zip(toks, toks[2:]),
                                      p -> p[2] IS NOT NULL)) AS g
            FROM norm WHERE len(toks) >= 2)
    ),
    bc AS (SELECT w1, w2, COUNT(*)::BIGINT AS big_n
           FROM grams GROUP BY 1, 2),
    pc AS (SELECT w1, COUNT(*)::BIGINT AS pre_n FROM grams GROUP BY 1)
    SELECT g.doc_id::BIGINT AS doc_id,
           COUNT(*)::BIGINT AS n_bigrams,
           round(SUM(ln(b.big_n::DOUBLE / p.pre_n::DOUBLE))
                 / COUNT(*)::DOUBLE, 4) AS avg_lp_r4
    FROM grams g JOIN bc b USING (w1, w2) JOIN pc p USING (w1)
    GROUP BY g.doc_id
    """,
)
def q_text_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring: per-document mean conditional
    log-prob under the corpus's own ML bigram model — the
    next-token-predictability signal one order above text_lm_quality.
    See :func:`lindel_spark.retrieval.bigram_logprob`."""
    from lindel_spark import retrieval as LR

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    res = LR.bigram_logprob(docs)
    return res.select(
        "doc_id", "n_bigrams",
        F.round("avg_logprob", 4).alias("avg_lp_r4"))


@query(
    "sources_orc_roundtrip",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*)::BIGINT AS n,
           SUM(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
           SUM(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_price
    FROM lineitem GROUP BY 1, 2
    """,
)
def q_sources_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source round-trip: lineitem is written to ORC, read
    back, and aggregated — the aggregate hash-matches the oracle
    computed from the original parquet, proving a lossless format
    round-trip (types, values, row count). ORC keeps column stats +
    pushdown, so it is a peer analytical format to parquet. See
    :func:`lindel_spark.sources.read_orc` / ``write_orc``."""
    from lindel_spark import sources as SRC

    li = _lineitem(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="lindel_orc_")
    SRC.write_orc(li, os.path.join(out, "li"))
    rb = SRC.read_orc(spark, os.path.join(out, "li"))
    return rb.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double").alias("sum_price"),
    )


@query(
    "text_quality_deciles",
    """
    WITH q AS (
      SELECT doc_id::BIGINT AS doc_id,
             (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT
               AS n_tokens
      FROM documents
    ),
    t AS (
      SELECT doc_id, n_tokens,
             ntile(10) OVER (ORDER BY n_tokens, doc_id) AS decile
      FROM q
    )
    SELECT decile::BIGINT AS decile, COUNT(*)::BIGINT AS n,
           MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
    FROM t GROUP BY 1
    """,
)
def q_text_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quality binning: documents ranked into 10 equal-frequency
    buckets by a deterministic key (token count, doc_id tie-break) —
    the curriculum/quality-stratification primitive. A global window
    is exact and fine for ranked binning up to millions of keys; at
    larger scale the same contract is served by approx-percentile cut
    points (events_approx_percentiles shows that path)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    from pyspark.sql.window import Window
    # space-count token proxy, exactly replicable in SQL
    n_tok = (F.length("text")
             - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
             + 1).cast("long")
    t = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n_tok.alias("n_tokens"),
    ).withColumn(
        "decile",
        F.ntile(10).over(Window.orderBy("n_tokens", "doc_id")))
    return t.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"))


@query(
    "dedup_fuzzy_pairs",
    """
    WITH d AS (
      SELECT doc_id::BIGINT AS id,
             list_filter(string_split(text, ' '), t -> t != '') AS t
      FROM documents
    ), g AS (
      SELECT id,
             list_transform(
               range(1, len(t) - 3),
               i -> ('0x' || substr(md5(
                      t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                      t[i+3] || ' ' || t[i+4]), 1, 15))::BIGINT
             ) AS h
      FROM d WHERE len(t) >= 5
    ), m AS (
      SELECT id,
             list_distinct(list_transform(
               range(1, greatest(len(h) - 2, 2)),
               j -> list_min(h[j:j+3])
             )) AS fps
      FROM g
    ), f AS (
      SELECT DISTINCT id, unnest(fps) AS fp FROM m
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM f a JOIN f b ON a.fp = b.fp AND a.id < b.id
    ), norm AS (
      SELECT doc_id::BIGINT AS id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
      FROM documents
    )
    SELECT c.id_a, c.id_b,
           levenshtein(na.t, nb.t)::BIGINT AS dist
    FROM cand c
      JOIN norm na ON na.id = c.id_a
      JOIN norm nb ON nb.id = c.id_b
    WHERE levenshtein(na.t, nb.t) <= 10
    """,
)
def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs (Levenshtein <= 10 over normalized
    text, winnowing-blocked candidates) — the fifth dedup family,
    catching character-level corruption that token-set methods can't
    see. Full value-level oracle: DuckDB replays the identical
    fingerprint blocking AND the exact Levenshtein verify. See
    :func:`lindel_spark.dedup.fuzzy_dup_pairs`."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LD.fuzzy_dup_pairs(docs)


@query(
    "events_cumulative_users",
    """
    WITH firsts AS (
      SELECT user_id, MIN(epoch_us(ts) // 86400000000)::BIGINT AS day
      FROM events GROUP BY 1
    )
    SELECT day, COUNT(*)::BIGINT AS n_new,
           SUM(COUNT(*)) OVER (ORDER BY day)::BIGINT AS cum_users
    FROM firsts GROUP BY day
    """,
)
def q_events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the growth-curve shape.
    Window functions can't do COUNT(DISTINCT), so the scalable form
    is first-seen-day per user (one groupBy) + running sum over the
    tiny per-day frame; state never exceeds |days| after the first
    aggregate."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    firsts = ev.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(86400000000))
        .cast("long").alias("day"),
    ).groupBy("user_id").agg(F.min("day").alias("day"))
    daily = firsts.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    return daily.select(
        "day", "n_new",
        F.sum("n_new").over(
            Window.orderBy("day").rowsBetween(
                Window.unboundedPreceding, Window.currentRow))
        .cast("long").alias("cum_users"),
    )


@query(
    "events_winsorized_stats",
    """
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY 1
    )
    SELECT e.event_type, COUNT(*)::BIGINT AS n,
           SUM(CASE WHEN e.value < round(b.lo, 6) THEN 1 ELSE 0
               END)::BIGINT AS n_clipped_lo,
           SUM(CASE WHEN e.value > round(b.hi, 6) THEN 1 ELSE 0
               END)::BIGINT AS n_clipped_hi,
           round(AVG(least(greatest(e.value, b.lo), b.hi)), 6)
             AS winsorized_mean
    FROM events e JOIN b USING (event_type)
    GROUP BY 1
    """,
)
def q_events_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%-95% clamped) per-type means — the robust-stats
    primitive for metric pipelines where outliers are data-quality
    noise. Exact percentile bounds (shared interpolation definition
    with DuckDB), broadcast back over one scan; mean rounded to 6dp
    to absorb summation-order ulps."""
    ev = _events(spark, sf_dir)
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"))
    j = ev.select("event_type", "value").join(
        F.broadcast(bounds), "event_type")
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") < F.round(F.col("lo"), 6), 1)
              .otherwise(0)).cast("long").alias("n_clipped_lo"),
        F.sum(F.when(F.col("value") > F.round(F.col("hi"), 6), 1)
              .otherwise(0)).cast("long").alias("n_clipped_hi"),
        F.round(F.avg(clamped), 6).alias("winsorized_mean"))


@query(
    "events_debounce_dedup",
    """
    WITH t AS (
      SELECT user_id::BIGINT AS user_id, event_type,
             event_id::BIGINT AS event_id,
             epoch_us(ts)::BIGINT AS tus,
             lag(epoch_us(ts)::BIGINT) OVER (
               PARTITION BY user_id, event_type
               ORDER BY epoch_us(ts), event_id) AS prev_tus
      FROM events
    )
    SELECT user_id, event_type, event_id, tus
    FROM t
    WHERE prev_tus IS NULL OR tus - prev_tus > 300000000
    """,
)
def q_events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce dedup: drop an event when the SAME (user, type) fired
    within the last 5 minutes — the telemetry double-fire cleaner.
    One lag window per key, no self-join; at 100 TB this is a single
    shuffle on the dedup key with per-row state."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros("ts").alias("tus"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "tus", "event_id")
    t = ev.withColumn("prev_tus", F.lag("tus").over(w))
    return t.filter(
        F.col("prev_tus").isNull()
        | (F.col("tus") - F.col("prev_tus") > 300000000)
    ).select("user_id", "event_type", "event_id", "tus")


@query(
    "sampling_fixed_n_per_stratum",
    """
    WITH r AS (
      SELECT doc_id::BIGINT AS doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || 'fixn'),
                                        1, 15))::BIGINT, doc_id) AS rn
      FROM documents
    )
    SELECT lang, COUNT(*)::BIGINT AS n,
           SUM(doc_id)::BIGINT AS id_sum
    FROM r WHERE rn <= 20 GROUP BY 1
    """,
)
def q_sampling_fixed_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-n-per-stratum deterministic sampling: exactly 20 docs per
    language, chosen by md5 rank (engine/layout-stable, reproducible
    forever — the eval-set carve-out primitive, complementing the
    fraction-based stratified sampler). One window per stratum;
    id_sum pins the exact membership, not just the count."""
    from pyspark.sql.window import Window

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    rank_key = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                   F.lit("fixn"))), 1, 15),
        16, 10).cast("long")
    w = Window.partitionBy("lang").orderBy(rank_key, F.col("doc_id"))
    r = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang"
    ).withColumn("rn", F.row_number().over(w))
    return r.filter(F.col("rn") <= 20).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("id_sum"))


@query(
    "events_sliding_rollup",
    """
    WITH e AS (
      SELECT event_type, epoch_us(ts)::BIGINT AS tus, value FROM events
    ),
    win AS (
      SELECT event_type, value,
             unnest(range((tus - 3600000000) // 900000000 + 1,
                          tus // 900000000 + 1)) AS k
      FROM e
    )
    SELECT (k * 900000000)::BIGINT AS window_start_us, event_type,
           COUNT(*)::BIGINT AS n_events,
           SUM(value::DECIMAL(18,2))::VARCHAR AS sum_value
    FROM win GROUP BY 1, 2
    """,
)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup (1h window, 15min hop): every event in 4
    overlapping windows; the oracle independently derives the window
    index set per event with integer epoch math, so window ALIGNMENT
    is verified, not just the sums. Decimal sums compare as strings
    (bit-stable). See :func:`lindel_spark.streaming.sliding_rollup`."""
    from lindel_spark import streaming as ST

    ev = _events(spark, sf_dir)
    out = ST.sliding_rollup(ev, window="1 hour", slide="15 minutes")
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type", "n_events",
        F.col("sum_value").cast("string").alias("sum_value"))


@query(
    "sampling_weighted_n",
    """
    WITH w AS (
      SELECT doc_id::BIGINT AS doc_id, lang,
             (n_chars % 7 + 1)::DOUBLE AS wt,
             ('0x' || substr(md5(doc_id::VARCHAR || 'wsn'), 1, 15)
             )::BIGINT / 1152921504606846976.0 AS u
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang, wt,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY ln(greatest(u, 1e-18)) / wt DESC, doc_id) AS rn
      FROM w
    )
    SELECT lang, COUNT(*)::BIGINT AS n, SUM(doc_id)::BIGINT AS id_sum,
           round(SUM(wt), 6) AS wt_sum
    FROM r WHERE rn <= 15 GROUP BY 1
    """,
)
def q_sampling_weighted_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-n weighted sampling without replacement (Efraimidis-
    Spirakis keys): 15 docs per language, win probability
    proportional to a synthetic weight. Membership pinned via id_sum;
    both engines compute the identical ln(u)/w ranking from the
    shared md5 uniform. See
    :func:`lindel_spark.sampling.weighted_sample_n`."""
    from lindel_spark.sampling import weighted_sample_n

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    wt = (F.col("n_chars") % 7 + 1).cast("double")
    out = weighted_sample_n(
        docs.withColumn("wt", wt), "doc_id", "wt", 15,
        strata_col="lang", salt="wsn")
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("doc_id").cast("long")).alias("id_sum"),
        F.round(F.sum("wt"), 6).alias("wt_sum"))


@query(
    "profile_value_histogram",
    """
    WITH v AS (SELECT value::DOUBLE AS v FROM events
               WHERE value IS NOT NULL),
    b AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM v)
    SELECT least(19, floor((v.v - b.lo) / (b.hi - b.lo) * 20))::BIGINT
             AS bin,
           COUNT(*)::BIGINT AS n,
           ANY_VALUE(b.lo) AS range_lo,
           ANY_VALUE(b.hi) AS range_hi
    FROM v CROSS JOIN b
    GROUP BY 1
    """,
)
def q_profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of event values with data-derived
    bounds — profiling's distribution view beside profile_table's
    scalar stats. Identical floor-bin math both engines. See
    :func:`lindel_spark.profile.value_histogram`."""
    from lindel_spark.profile import value_histogram

    ev = _events(spark, sf_dir)
    return value_histogram(ev, "value", n_bins=20)


@query(
    "profile_parquet_layout",
    """
    SELECT COUNT(*)::BIGINT AS n_files,
           (SELECT COUNT(*) FROM lineitem)::BIGINT AS total_rows
    FROM range(12)
    """,
)
def q_profile_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout audit: lineitem rewritten as 12 files, then
    parquet_layout_report reads ONLY footers (distributed mapInPandas)
    — file count and footer row totals must reconstruct the table
    exactly, which the oracle pins from the data side. See
    :func:`lindel_spark.profile.parquet_layout_report`."""
    from lindel_spark.profile import parquet_layout_report

    li = _lineitem(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="lindel_layout_")
    li.repartition(12).write.mode("overwrite").parquet(
        os.path.join(out, "li"))
    rep = parquet_layout_report(spark, os.path.join(out, "li"))
    return rep.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_rows").alias("total_rows"))


@query(
    "events_pseudonymized",
    """
    SELECT substr(sha256('r7salt' || user_id::VARCHAR), 1, 16) AS uid,
           COUNT(*)::BIGINT AS n_events,
           COUNT(DISTINCT event_type)::BIGINT AS n_types
    FROM events GROUP BY 1
    """,
)
def q_events_pseudonymized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-hash pseudonymization: user ids replaced by stable
    sha256 surrogates that still group/join correctly — per-surrogate
    aggregates hash-match the oracle computing the same keyed hash,
    proving the surrogate mapping is engine-stable. See
    :func:`lindel_spark.text.pseudonymize`."""
    ev = _events(spark, sf_dir)
    return ev.select(
        LT.pseudonymize(F.col("user_id"), "r7salt").alias("uid"),
        "event_type",
    ).groupBy("uid").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_type").alias("n_types"))


@query(
    "events_snapshot_diff",
    """
    WITH base AS (
      SELECT user_id::BIGINT AS user_id, event_id::BIGINT AS event_id,
             epoch_us(ts)::BIGINT AS tus
      FROM events
    ),
    old AS (
      SELECT user_id, event_id FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY tus DESC, event_id DESC) rn
        FROM base WHERE tus < 1705795200000000) WHERE rn = 1
    ),
    new AS (
      SELECT user_id, event_id FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY tus DESC, event_id DESC) rn
        FROM base) WHERE rn = 1
    )
    SELECT CASE WHEN o.user_id IS NULL THEN 'added'
                WHEN n.user_id IS NULL THEN 'removed'
                WHEN o.event_id = n.event_id THEN 'unchanged'
                ELSE 'changed' END AS status,
           COUNT(*)::BIGINT AS n
    FROM old o FULL OUTER JOIN new n USING (user_id)
    GROUP BY 1
    """,
)
def q_events_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: latest-event-per-user computed over the first 20
    days vs over the whole month, classified added / changed /
    unchanged (no removals by construction). One full-outer join with
    NULL-safe column comparison. See
    :func:`lindel_spark.write.snapshot_diff`."""
    from lindel_spark.dedup import latest_by_key

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros("ts").alias("tus"))
    old = latest_by_key(ev.filter(F.col("tus") < _MERGE_CUTOFF_US),
                        "user_id", ["tus", "event_id"]) \
        .select("user_id", "event_id")
    new = latest_by_key(ev, "user_id", ["tus", "event_id"]) \
        .select("user_id", "event_id")
    d = LW.snapshot_diff(old, new, "user_id")
    return d.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# round 7 (cont.): history, range join, runtime filter, validation
# ---------------------------------------------------------------------------

@query(
    "events_scd2_history",
    """
    WITH base AS (
      SELECT user_id::BIGINT AS user_id, epoch_us(ts)::BIGINT AS tus,
             event_id::BIGINT AS event_id, event_type
      FROM events
    ),
    chg AS (
      SELECT user_id, tus, event_id, event_type,
             (row_number() OVER w = 1
              OR lag(event_type) OVER w IS DISTINCT FROM event_type)
             AS is_chg
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ),
    v AS (
      SELECT user_id, event_type,
             tus AS valid_from,
             lead(tus) OVER w2 AS valid_to,
             row_number() OVER w2 AS version
      FROM chg WHERE is_chg
      WINDOW w2 AS (PARTITION BY user_id ORDER BY tus, event_id)
    )
    SELECT user_id, event_type, valid_from, valid_to,
           (valid_to IS NULL) AS is_current, version::BIGINT AS version
    FROM v
    """,
)
def q_events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 build over the events changelog: each user's
    event_type observations collapse into validity intervals
    [valid_from, valid_to) with is_current on the open one. One
    shuffle on user_id; both window passes share the (user_id;
    tus, event_id) sort. See :func:`lindel_spark.history.scd2_build`."""
    from lindel_spark.history import scd2_build

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros("ts").alias("tus"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
    )
    return scd2_build(
        ev, "user_id", ["tus", "event_id"], ["event_type"],
    ).select(
        "user_id", "event_type", "valid_from", "valid_to",
        "is_current", F.col("version").cast("long").alias("version"),
    )


_OVERLAP_SPAN_US = 30 * 60 * 1_000_000  # purchase influence window


@query(
    "events_interval_overlap",
    """
    WITH e AS (
      SELECT user_id::BIGINT AS user_id, event_id::BIGINT AS event_id,
             epoch_us(ts)::BIGINT AS tus, event_type
      FROM events
    ),
    i AS (
      SELECT user_id, event_id AS iid, tus AS s,
             tus + 1800000000 AS e
      FROM e WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.event_id, count(*)::BIGINT AS n_cover,
           min(i.iid)::BIGINT AS first_iid
    FROM e AS p
    JOIN i ON p.user_id = i.user_id
          AND p.tus >= i.s AND p.tus <= i.e
    GROUP BY p.user_id, p.event_id
    """,
)
def q_events_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D interval-overlap join: every event joined to the 30-minute
    influence window of each same-user purchase it falls into, then
    rolled up per event. The operator buckets intervals at the span
    grain so the join is a bounded equi-join on (user, bucket) — no
    broadcast-nested-loop, no cartesian; completeness comes from each
    point probing exactly one bucket that every covering interval also
    occupies. See :func:`lindel_spark.joins.interval_overlap_join`."""
    from lindel_spark.joins import interval_overlap_join

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros("ts").alias("tus"),
        "event_type",
    )
    intervals = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("iid"),
        F.col("tus").alias("s"),
        (F.col("tus") + F.lit(_OVERLAP_SPAN_US)).alias("e"),
    )
    joined = interval_overlap_join(
        ev, intervals, on="user_id", point_ts="tus",
        start="s", end="e", grain=_OVERLAP_SPAN_US)
    return joined.groupBy("user_id", "event_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_cover"),
        F.min("i_iid").alias("first_iid"),
    )


@query(
    "events_incremental_agg",
    """
    SELECT user_id::BIGINT AS user_id, count(*)::BIGINT AS cnt,
           round(sum(value), 4) AS sum_v_r4,
           round(min(value), 6) AS min_v,
           round(max(value), 6) AS max_v
    FROM events
    GROUP BY user_id
    """,
)
def q_events_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the first 20 days'
    per-user aggregate state merged with the remaining days' delta
    state must equal the full recompute (the oracle recomputes from
    scratch). The merge touches only state rows — at 100 TB the base
    history is never re-read. See
    :func:`lindel_spark.history.merge_agg_states`."""
    from lindel_spark.history import merge_agg_states

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros("ts").alias("tus"),
        "value",
    )

    def state(part: DataFrame) -> DataFrame:
        return part.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("value").alias("sum_v"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )

    base = state(ev.filter(F.col("tus") < _MERGE_CUTOFF_US))
    delta = state(ev.filter(F.col("tus") >= _MERGE_CUTOFF_US))
    merged = merge_agg_states(
        [base, delta], ["user_id"],
        {"cnt": "sum", "sum_v": "sum", "min_v": "min", "max_v": "max"})
    return merged.select(
        "user_id", "cnt",
        F.round("sum_v", 4).alias("sum_v_r4"),
        F.round("min_v", 6).alias("min_v"),
        F.round("max_v", 6).alias("max_v"),
    )


@query(
    "events_grouping_sets",
    """
    WITH e AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day_s, value
      FROM events
    )
    SELECT coalesce(event_type, 'ALL') AS etype,
           coalesce(day_s, 'ALL') AS day_s,
           count(*)::BIGINT AS n, round(sum(value), 4) AS sum_v_r4
    FROM e
    GROUP BY GROUPING SETS ((event_type, day_s), (event_type),
                            (day_s), ())
    """,
)
def q_events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS in one pass: per (type, day), per type, per day,
    and grand total from a single Expand + hash aggregate — the
    multi-grain reporting rollup without four scans. NULL group slots
    are sentineled 'ALL' so the oracle compares value-level."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day_s"),
        "value",
    )
    return (
        ev.groupingSets(
            [["event_type", "day_s"], ["event_type"], ["day_s"], []],
            "event_type", "day_s")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.round(F.sum("value"), 4).alias("sum_v_r4"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("etype"),
            F.coalesce("day_s", F.lit("ALL")).alias("day_s"),
            "n", "sum_v_r4",
        )
    )


@query(
    "bloom_semi_join_orders",
    """
    SELECT o.o_orderpriority, count(*)::BIGINT AS n,
           round(sum(o.o_totalprice), 4) AS total_r4
    FROM orders o
    WHERE o.o_custkey IN (
      SELECT c_custkey FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000
    )
    GROUP BY o.o_orderpriority
    """,
)
def q_bloom_semi_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter semi-join: orders of high-balance BUILDING
    customers. The Bloom pre-filter drops non-matching orders before
    any shuffle (bitmap built from the dim's keys, probed JVM-side +
    vectorized bit test); the exact semi-join then removes false
    positives, so the result is identical to the plain semi-join the
    oracle runs. See :func:`lindel_spark.joins.bloom_semi_join`."""
    from lindel_spark.joins import bloom_semi_join

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    dim = (
        cust.filter((F.col("c_mktsegment") == "BUILDING")
                    & (F.col("c_acctbal") > 5000))
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    matched = bloom_semi_join(orders, dim, on="o_custkey")
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("total_r4"),
    )


@query(
    "profile_expectations",
    """
    WITH m AS (
      SELECT
        avg(CASE WHEN o_custkey IS NOT NULL THEN 1.0 ELSE 0.0 END)
          AS m_notnull,
        count(DISTINCT o_orderkey)::DOUBLE
          / count(o_orderkey)::DOUBLE AS m_unique,
        avg(CASE WHEN o_totalprice IS NULL THEN NULL
                 WHEN o_totalprice BETWEEN 0 AND 1000000 THEN 1.0
                 ELSE 0.0 END) AS m_range,
        avg(CASE WHEN o_orderstatus IS NULL THEN NULL
                 WHEN o_orderstatus IN ('O', 'F', 'P') THEN 1.0
                 ELSE 0.0 END) AS m_accepted,
        avg(CASE WHEN o_orderpriority IS NULL THEN NULL
                 WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                   THEN 1.0 ELSE 0.0 END) AS m_regex
      FROM orders
    )
    SELECT 'not_null' AS constraint, 'o_custkey' AS column,
           round(coalesce(m_notnull, 1.0), 6) AS metric,
           coalesce(m_notnull, 1.0) >= 1.0 AS passed FROM m
    UNION ALL
    SELECT 'unique', 'o_orderkey', round(coalesce(m_unique, 1.0), 6),
           coalesce(m_unique, 1.0) >= 1.0 FROM m
    UNION ALL
    SELECT 'range', 'o_totalprice', round(coalesce(m_range, 1.0), 6),
           coalesce(m_range, 1.0) >= 1.0 FROM m
    UNION ALL
    SELECT 'accepted', 'o_orderstatus',
           round(coalesce(m_accepted, 1.0), 6),
           coalesce(m_accepted, 1.0) >= 1.0 FROM m
    UNION ALL
    SELECT 'regex', 'o_orderpriority',
           round(coalesce(m_regex, 1.0), 6),
           coalesce(m_regex, 1.0) >= 1.0 FROM m
    """,
)
def q_profile_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-validation report over orders: five deequ-style
    expectations (completeness, uniqueness, range, accepted values,
    format regex) computed in ONE aggregation pass — the pre-flight
    gate a 100 TB drop passes before entering the pipeline. See
    :func:`lindel_spark.profile.expectations_report`."""
    from lindel_spark.profile import expectations_report

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    rep = expectations_report(orders, [
        ("not_null", "o_custkey"),
        ("unique", "o_orderkey"),
        ("range", "o_totalprice", 0, 1_000_000),
        ("accepted", "o_orderstatus", ["O", "F", "P"]),
        ("regex", "o_orderpriority", "^[1-5]-", 1.0),
    ])
    return rep.select(
        "constraint", "column",
        F.round("metric", 6).alias("metric"), "passed")


@query(
    "profile_k_anonymity",
    """
    SELECT c_nationkey::BIGINT AS c_nationkey, c_mktsegment,
           count(*)::BIGINT AS group_n,
           count(*) >= 20 AS anonymous
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def q_profile_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit on the (nation, market-segment) quasi-
    identifier tuple: equivalence-class sizes with the below-k classes
    flagged for suppression — the release gate that pairs with
    events_pseudonymized. One map-side-combined groupBy. See
    :func:`lindel_spark.profile.k_anonymity_report`."""
    from lindel_spark.profile import k_anonymity_report

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    rep = k_anonymity_report(
        cust, ["c_nationkey", "c_mktsegment"], k=20)
    return rep.select(
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "c_mktsegment", "group_n", "anonymous")


@query(
    "events_ohlc_daily",
    """
    WITH e AS (
      SELECT user_id::BIGINT AS user_id,
             strftime(ts, '%Y-%m-%d') AS day_s,
             epoch_us(ts)::BIGINT AS tus,
             event_id::BIGINT AS event_id, value
      FROM events
    ),
    wnd AS (
      SELECT user_id, day_s,
             first_value(value) OVER w AS open,
             max(value) OVER w2 AS high,
             min(value) OVER w2 AS low,
             last_value(value) OVER w2 AS close,
             count(*) OVER w2 AS n,
             row_number() OVER w AS rn
      FROM e
      WINDOW w AS (PARTITION BY user_id, day_s
                   ORDER BY tus, event_id),
             w2 AS (PARTITION BY user_id, day_s
                    ORDER BY tus, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day_s, open, high, low, close, n::BIGINT AS n
    FROM wnd WHERE rn = 1
    """,
)
def q_events_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick resample: per (user, day) open/high/low/close of
    the value series, ties broken by event_id. Single Exchange +
    shared Sort; the rn=1 filter avoids a second aggregation shuffle.
    See :func:`lindel_spark.timeseries.ohlc`."""
    from lindel_spark.timeseries import ohlc

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.date_format("ts", "yyyy-MM-dd").alias("day_s"),
        F.unix_micros("ts").alias("tus"),
        F.col("event_id").cast("long").alias("event_id"),
        "value",
    )
    out = ohlc(ev, ["user_id", "day_s"], "tus", "value", "event_id")
    return out.select("user_id", "day_s", "open", "high", "low",
                      "close", F.col("n").cast("long").alias("n"))


@query(
    "events_time_weighted_avg",
    """
    WITH e AS (
      SELECT user_id::BIGINT AS user_id,
             strftime(ts, '%Y-%m-%d') AS day_s,
             epoch_us(ts)::BIGINT AS tus,
             event_id::BIGINT AS event_id, value
      FROM events
    ),
    stepped AS (
      SELECT user_id, day_s, tus,
             (lead(tus) OVER (PARTITION BY user_id, day_s
                              ORDER BY tus, event_id) - tus) * value
               AS w
      FROM e
    ),
    agg AS (
      SELECT user_id, day_s, sum(w) AS tw,
             (max(tus) - min(tus))::DOUBLE AS span,
             count(*)::BIGINT AS n
      FROM stepped GROUP BY user_id, day_s
    )
    SELECT user_id, day_s,
           round(CASE WHEN span > 0 THEN tw / span END, 6) AS twa_r6,
           span, n
    FROM agg
    """,
)
def q_events_time_weighted_avg(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Time-weighted average per (user, day): each value holds (LOCF)
    until the next observation, integrated over the day's observed
    span — the uneven-sampling-robust mean a metrics pipeline wants.
    One lead window + one map-side-combined groupBy on the same key.
    See :func:`lindel_spark.timeseries.time_weighted_avg`."""
    from lindel_spark.timeseries import time_weighted_avg

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.date_format("ts", "yyyy-MM-dd").alias("day_s"),
        F.unix_micros("ts").alias("tus"),
        F.col("event_id").cast("long").alias("event_id"),
        "value",
    )
    out = time_weighted_avg(
        ev, ["user_id", "day_s"], "tus", "value", "event_id")
    return out.select(
        "user_id", "day_s",
        F.round("twa", 6).alias("twa_r6"),
        "span", F.col("n").cast("long").alias("n"))


@query(
    "text_tfidf_topk",
    """
    WITH norm AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '') AS toks
      FROM documents
    ),
    postings AS (
      SELECT doc_id, term, COUNT(*)::BIGINT AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM norm)
      GROUP BY doc_id, term
    ),
    dfs AS (
      SELECT term, COUNT(*)::BIGINT AS df FROM postings GROUP BY term
    ),
    n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
    scored AS (
      SELECT p.doc_id, p.term,
             p.tf::DOUBLE * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0)
               AS score
      FROM postings p JOIN dfs d USING (term) CROSS JOIN n
    )
    SELECT doc_id::BIGINT AS doc_id, rank::BIGINT AS rank, term,
           round(score, 4) AS score_r4
    FROM (SELECT doc_id, term, score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term) AS rank
          FROM scored)
    WHERE rank <= 3
    """,
)
def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (smoothed idf, lexicographic
    tiebreak). Postings + vocab-df + per-doc window — every shuffle
    keyed by term or doc. See
    :func:`lindel_spark.retrieval.tfidf_topk`."""
    from lindel_spark.retrieval import tfidf_topk

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = tfidf_topk(docs, k=3)
    return out.select(
        "doc_id", F.col("rank").cast("long").alias("rank"), "term",
        F.round("score", 4).alias("score_r4"))


def _incr_near_cte(k: int = LD.DEFAULT_SHINGLE_K,
                   num_hashes: int = LD.DEFAULT_NUM_HASHES,
                   bands: int = LD.DEFAULT_BANDS,
                   threshold: float = LD.DEFAULT_THRESHOLD) -> str:
    """DuckDB replay of :func:`lindel_spark.dedup.incremental_near_dup`
    with batch = doc_id % 3 == 0 and store = the rest (same shingle,
    signature and band machinery as :func:`_near_dup_cte`)."""
    r = num_hashes // bands
    shingle = " || ' ' || ".join(f"toks[i + {j}]" for j in range(k)).replace(
        "toks[i + 0]", "toks[i]"
    )
    sigs = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{j}:' || s))) AS s{j}"
        for j in range(num_hashes)
    )
    band_keys = ", ".join(
        "md5(" + " || '|' || ".join(f"s{b * r + i}" for i in range(r)) + f") AS b{b}"
        for b in range(bands)
    )
    band_match = " OR ".join(f"x.b{b} = y.b{b}" for b in range(bands))
    est = " + ".join(
        f"CASE WHEN sx.s{j} = sy.s{j} THEN 1 ELSE 0 END"
        for j in range(num_hashes)
    )
    return f"""
    WITH d AS (
      SELECT doc_id::BIGINT AS id,
             list_filter(string_split(text, ' '), t -> t != '') AS toks
      FROM documents
    ), sh AS (
      SELECT id,
             list_distinct(list_transform(range(1, len(toks) - {k - 2}),
                                          i -> {shingle})) AS sh
      FROM d WHERE len(toks) >= {k}
    ), sig AS (
      SELECT id, sh, {sigs} FROM sh
    ), bnd AS (
      SELECT id, sh, {band_keys} FROM sig
    ), cross_cand AS (
      SELECT DISTINCT x.id AS nid, y.id AS sid
      FROM bnd x JOIN bnd y
        ON x.id % 3 = 0 AND y.id % 3 <> 0 AND ({band_match})
    ), cross_dup AS (
      SELECT DISTINCT c.nid
      FROM cross_cand c
      JOIN sig sx ON sx.id = c.nid
      JOIN sig sy ON sy.id = c.sid
      WHERE ({est})::DOUBLE / {num_hashes}.0 >= {threshold}e0
    ), bpairs AS (
      SELECT DISTINCT x.id AS ia, y.id AS ib
      FROM bnd x JOIN bnd y
        ON x.id < y.id AND x.id % 3 = 0 AND y.id % 3 = 0
       AND ({band_match})
    ), bdup AS (
      SELECT DISTINCT p.ib
      FROM bpairs p
      JOIN sh a ON a.id = p.ia
      JOIN sh b2 ON b2.id = p.ib
      WHERE len(list_intersect(a.sh, b2.sh))::DOUBLE
            / len(list_distinct(a.sh || b2.sh))::DOUBLE >= {threshold}e0
    )
    """


@query(
    "dedup_incremental_near",
    _incr_near_cte() + """
    SELECT id,
           CASE WHEN id IN (SELECT nid FROM cross_dup)
                  THEN 'dup_of_store'
                WHEN id IN (SELECT ib FROM bdup)
                  THEN 'dup_in_batch'
                ELSE 'kept' END AS status
    FROM d WHERE id % 3 = 0
    """,
)
def q_dedup_incremental_near(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Near-dup dedup of an ingest batch (every 3rd doc) against the
    rest of the corpus playing the persisted MinHash signature store:
    cross-store matches scored by the signature Jaccard ESTIMATE (the
    store keeps signatures, never text), within-batch pairs verified
    with exact shingle Jaccard. See
    :func:`lindel_spark.dedup.incremental_near_dup`."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    store_docs = docs.filter(F.col("doc_id") % 3 != 0)
    store_sigs = LD.minhash_signatures(
        store_docs.filter(
            F.size(LT.tokens(F.col("text"))) >= LD.DEFAULT_SHINGLE_K)
        .select(F.col("doc_id").cast("long").alias("id"),
                LD.word_shingles(F.col("text")).alias("sh")))
    status, _sigs, _matches = LD.incremental_near_dup(batch, store_sigs)
    return status


@query(
    "events_rank_family",
    """
    WITH daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day_s,
             count(*)::BIGINT AS n
      FROM events GROUP BY event_type, day_s
    )
    SELECT event_type, day_s, n,
           rank() OVER w::BIGINT AS rnk,
           dense_rank() OVER w::BIGINT AS drnk,
           row_number() OVER w::BIGINT AS rn,
           round(percent_rank() OVER w, 6) AS prnk,
           round(cume_dist() OVER w, 6) AS cdist,
           (n - lag(n) OVER w) AS delta_prev
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY n DESC, day_s)
    """,
)
def q_events_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-window family in one pass (rank, dense_rank,
    row_number, percent_rank, cume_dist, lag delta) over per-type
    daily volumes — coverage of the host-engine window surface beyond
    row_number/ntile. One aggregate + one window sharing the same
    partitioning; the (n DESC, day) tiebreak makes every output
    deterministic."""
    from pyspark.sql import Window

    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type",
                 F.date_format("ts", "yyyy-MM-dd").alias("day_s"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("day_s"))
    return daily.select(
        "event_type", "day_s", "n",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        (F.col("n") - F.lag("n").over(w)).alias("delta_prev"),
    )


def _pr_iter_sql(iterations: int, d: float) -> str:
    """Unrolled PageRank iteration CTEs (shared by every
    pagerank-backed oracle): assumes ``trans(src, dst, w)``,
    ``nodes(node)``, ``nn(n)``, ``outw(src, wout)`` and ``r0`` are
    already defined; emits ``r1..r{iterations}``."""
    its = []
    for i in range(iterations):
        its.append(f"""
    , r{i + 1} AS (
      SELECT n.node,
             (1.0 - {d}) / (SELECT n FROM nn)
             + {d} * (coalesce(c.contrib, 0)
                      + (SELECT coalesce(sum(r.rank), 0) FROM r{i} r
                         LEFT JOIN outw o ON r.node = o.src
                         WHERE o.src IS NULL) / (SELECT n FROM nn))
               AS rank
      FROM nodes n
      LEFT JOIN (
        SELECT t.dst AS node, sum(r.rank * t.w / o.wout) AS contrib
        FROM trans t
        JOIN outw o ON o.src = t.src
        JOIN r{i} r ON r.node = t.src
        GROUP BY t.dst
      ) c ON n.node = c.node
    )""")
    return "".join(its)


def _pagerank_cte(iterations: int = 5, d: float = 0.85) -> str:
    """DuckDB replay of :func:`lindel_spark.graph.pagerank` over the
    event-type transition graph, iterations unrolled."""
    head = """
    WITH e0 AS (
      SELECT user_id::BIGINT AS user_id, epoch_us(ts)::BIGINT AS tus,
             event_id::BIGINT AS event_id, event_type
      FROM events
    ), trans AS (
      SELECT prev AS src, event_type AS dst, count(*)::DOUBLE AS w
      FROM (SELECT event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY tus, event_id) AS prev
            FROM e0)
      WHERE prev IS NOT NULL
      GROUP BY prev, event_type
    ), nodes AS (
      SELECT src AS node FROM trans
      UNION
      SELECT dst FROM trans
    ), nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    outw AS (SELECT src, sum(w) AS wout FROM trans GROUP BY src),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)
    """
    return head + _pr_iter_sql(iterations, d)


def _ppr_cte(iterations: int = 5, d: float = 0.85,
             seed: str = "purchase") -> str:
    """DuckDB replay of
    :func:`lindel_spark.graph.personalized_pagerank` over the
    event-type transition graph: the :func:`_pagerank_cte` head plus
    a teleport column (1/|seeds| on seeds, 0 elsewhere); both the
    restart and the dangling fold multiply by the teleport instead
    of 1/n."""
    head = f"""
    WITH e0 AS (
      SELECT user_id::BIGINT AS user_id, epoch_us(ts)::BIGINT AS tus,
             event_id::BIGINT AS event_id, event_type
      FROM events
    ), trans AS (
      SELECT prev AS src, event_type AS dst, count(*)::DOUBLE AS w
      FROM (SELECT event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY tus, event_id) AS prev
            FROM e0)
      WHERE prev IS NOT NULL
      GROUP BY prev, event_type
    ), seeds AS (SELECT '{seed}' AS node),
    nodes AS (
      SELECT src AS node FROM trans
      UNION SELECT dst FROM trans
      UNION SELECT node FROM seeds
    ), ns AS (SELECT count(*)::DOUBLE AS n FROM seeds),
    outw AS (SELECT src, sum(w) AS wout FROM trans GROUP BY src),
    tel AS MATERIALIZED (
      SELECT n.node,
             CASE WHEN s.node IS NOT NULL
                  THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END AS t
      FROM nodes n LEFT JOIN seeds s ON n.node = s.node
    ), r0 AS (SELECT node, t AS rank FROM tel)
    """
    its = []
    for i in range(iterations):
        its.append(f"""
    , r{i + 1} AS (
      SELECT n.node, n.t,
             (1.0 - {d}) * n.t
             + {d} * (coalesce(c.contrib, 0)
                      + (SELECT coalesce(sum(r.rank), 0) FROM r{i} r
                         LEFT JOIN outw o ON r.node = o.src
                         WHERE o.src IS NULL) * n.t)
               AS rank
      FROM tel n
      LEFT JOIN (
        SELECT t.dst AS node, sum(r.rank * t.w / o.wout) AS contrib
        FROM trans t
        JOIN outw o ON o.src = t.src
        JOIN r{i} r ON r.node = t.src
        GROUP BY t.dst
      ) c ON n.node = c.node
    )""")
    return head + "".join(its)


@query(
    "graph_ppr_transitions",
    _ppr_cte(5) + """
    SELECT node, round(rank, 6) AS rank_r6 FROM r5
    """,
)
def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (round 13,
    :func:`lindel_spark.graph.personalized_pagerank`) seeded at
    'purchase' over the behavior-transition graph: rank = proximity
    to the conversion event along transition structure — the
    seed-expansion primitive ("score by closeness to trusted seeds")
    the uniform pagerank can't express. Same fixed-5-iteration
    unrolled-oracle contract; 6dp."""
    from pyspark.sql import Window

    from lindel_spark.graph import personalized_pagerank

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros("ts").alias("tus"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    trans = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"),
                 F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    seeds = local_frame(spark, [("purchase",)], "node string")
    pr = personalized_pagerank(trans, seeds, iterations=5,
                               damping=0.85, weight="w")
    return pr.select("node", F.round("rank", 6).alias("rank_r6"))


@query(
    "graph_pagerank_transitions",
    _pagerank_cte(5) + """
    SELECT node, round(rank, 6) AS rank_r6 FROM r5
    """,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the event-type behavior-transition graph
    (edge u→v weighted by how often v follows u within a user's
    stream). Five fixed iterations so a DuckDB oracle can unroll them;
    each Spark iteration is join + map-side-combined aggregate on node
    ids with dangling mass folded via a broadcast one-row frame — the
    plan a billion-node graph wants. See
    :func:`lindel_spark.graph.pagerank`."""
    from pyspark.sql import Window

    from lindel_spark.graph import pagerank

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros("ts").alias("tus"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    trans = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"),
                 F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    pr = pagerank(trans, iterations=5, damping=0.85, weight="w")
    return pr.select("node", F.round("rank", 6).alias("rank_r6"))


#: fixed epoch origin for trend regressions: 2024-01-15T00:00:00Z.
#: Centering the time axis before squaring keeps x ~ O(10) days, so
#: the closed-form OLS normal equations never catastrophically cancel
#: — the identical constant is baked into the oracle.
_TREND_ORIGIN_US = 1705276800000000
_US_PER_DAY = 86400000000.0


@query(
    "events_linear_trend",
    """
    WITH e AS (
      SELECT user_id::BIGINT AS user_id,
             (epoch_us(ts) - 1705276800000000) / 86400000000.0 AS x,
             value AS y
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT user_id, count(*)::DOUBLE AS n, sum(x) AS sx,
             sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM e GROUP BY user_id
    )
    SELECT user_id, n::BIGINT AS n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             AS slope_r6,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n, 6) AS intercept_r6
    FROM s WHERE n * sxx - sx * sx <> 0
    """,
)
def q_events_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend of value over time (slope per day +
    intercept) from the closed-form normal equations — one map-side-
    combined aggregate, no window, no ML library. The time axis is
    centered on a fixed origin before squaring so the sums stay small
    enough that both engines agree to 6 decimals."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull()).select(
        F.col("user_id").cast("long").alias("user_id"),
        ((F.unix_micros("ts") - F.lit(_TREND_ORIGIN_US))
         / F.lit(_US_PER_DAY)).alias("x"),
        F.col("value").alias("y"),
    )
    s = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy")
             - F.col("sx") * F.col("sy")) / det
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return s.filter(det != 0).select(
        "user_id", F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope_r6"),
        F.round(intercept, 6).alias("intercept_r6"),
    )


@query(
    "events_user_entropy",
    """
    WITH c AS (
      SELECT user_id::BIGINT AS user_id, event_type,
             count(*)::DOUBLE AS cnt
      FROM events GROUP BY user_id, event_type
    ),
    t AS (
      SELECT user_id, sum(cnt) AS total,
             count(*)::BIGINT AS n_types
      FROM c GROUP BY user_id
    )
    SELECT c.user_id, t.total::BIGINT AS n, t.n_types,
           round(-sum((c.cnt / t.total) * ln(c.cnt / t.total)), 6)
             AS entropy_r6
    FROM c JOIN t USING (user_id)
    GROUP BY c.user_id, t.total, t.n_types
    """,
)
def q_events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the behavioral
    diversity signal (bots are low-entropy). Two chained map-side-
    combined aggregates on (user, type) then (user); ln is sub-ulp
    consistent across libms, so 6-decimal rounding is oracle-stable."""
    c = (
        _events(spark, sf_dir)
        .groupBy(F.col("user_id").cast("long").alias("user_id"),
                 "event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    t = c.groupBy("user_id").agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_types"))
    p = F.col("cnt") / F.col("total")
    return (
        c.join(t, "user_id")
        .groupBy("user_id", "total", "n_types")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy_r6"))
        .select("user_id", F.col("total").cast("long").alias("n"),
                "n_types", "entropy_r6")
    )


_HQ_LO, _HQ_HI, _HQ_BINS = 0.0, 1000.0, 1000


@query(
    "sketch_quantile_grid",
    f"""
    WITH h AS (
      SELECT least({_HQ_BINS - 1},
                   greatest(0, floor((value - {_HQ_LO})
                                     / {(_HQ_HI - _HQ_LO) / _HQ_BINS})))
               ::BIGINT AS bin,
             count(*)::BIGINT AS cnt
      FROM events WHERE value IS NOT NULL
      GROUP BY 1
    ),
    c AS (
      SELECT bin, cnt,
             sum(cnt) OVER (ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum
      FROM h
    ),
    t AS (SELECT sum(cnt)::DOUBLE AS n FROM h),
    qs AS (SELECT unnest([0.5, 0.9, 0.95, 0.99]) AS q)
    SELECT q, round({_HQ_LO}
             + (c.bin + (q * t.n - (c.cum - c.cnt)) / c.cnt)
             * {(_HQ_HI - _HQ_LO) / _HQ_BINS}, 6) AS est_r6
    FROM qs CROSS JOIN t
    JOIN c ON c.cum >= q * t.n AND (c.cum - c.cnt) < q * t.n
    """,
)
def q_sketch_quantile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles (p50/p90/p95/p99) of the event value read off a
    1000-bin fixed-grid histogram sketch — the mergeable, bit-
    replayable alternative to an opaque quantile sketch: state is
    O(bins) per shard, shards merge cell-wise, and the estimate is a
    closed-form interpolation both engines compute identically. See
    :func:`lindel_spark.sketch.histogram_sketch` /
    :func:`~lindel_spark.sketch.histogram_quantiles`."""
    from lindel_spark import sketch as SK

    ev = _events(spark, sf_dir)
    h = SK.histogram_sketch(ev, "value", _HQ_LO, _HQ_HI, _HQ_BINS)
    qdf = SK.histogram_quantiles(
        h, [0.5, 0.9, 0.95, 0.99], _HQ_LO, _HQ_HI, _HQ_BINS)
    return qdf.select("q", F.round("est", 6).alias("est_r6"))


@query(
    "multimodal_audio_features",
    """
    WITH b AS (
      SELECT doc_id::BIGINT AS id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents
    ),
    s AS (
      SELECT id, g.i AS si, (si // 32)::INT AS frame_no,
             ('0x' || substr(hx, 4 * g.i + 3, 2))::INT * 256
             + ('0x' || substr(hx, 4 * g.i + 1, 2))::INT AS uv
      FROM b, LATERAL (
        SELECT unnest(range(0, (nb // 2 // 32) * 32)) AS i) g
    ),
    v AS (
      SELECT id, si, frame_no,
             CASE WHEN uv >= 32768 THEN uv - 65536 ELSE uv END AS v
      FROM s
    ),
    z AS (
      SELECT id, frame_no, si, v,
             lead(v) OVER (PARTITION BY id, frame_no ORDER BY si) AS nv
      FROM v
    )
    SELECT id, frame_no,
           round(sqrt(avg((v * v)::DOUBLE)), 6) AS rms_r6,
           max(abs(v))::BIGINT AS peak,
           sum(CASE WHEN v * nv < 0 THEN 1 ELSE 0 END)::BIGINT
             AS zero_crossings
    FROM z GROUP BY id, frame_no
    """,
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over opaque payloads: documents' bytes
    interpreted as s16le PCM, framed into 32-sample windows, per-frame
    RMS / peak / zero-crossings. Real byte math (no codec, no stub) —
    the oracle replays the sample decoding through hex strings; all
    intermediate sums stay below 2^53 so both engines agree bit-for-
    bit before the defensive round. See
    :func:`lindel_spark.multimodal.audio_features`."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    blobs = docs.select(
        F.col("doc_id").alias("id"),
        F.encode("text", "UTF-8").alias("content"))
    feats = MM.audio_features(blobs, frame_samples=32)
    return feats.select(
        "id", "frame_no",
        F.round("rms", 6).alias("rms_r6"),
        "peak", "zero_crossings",
    )


@query(
    "text_sentence_stats",
    """
    WITH s AS (
      SELECT doc_id::BIGINT AS doc_id,
             list_filter(
               list_transform(
                 regexp_extract_all(text, '[^.!?]+[.!?]?'),
                 x -> trim(x)),
               x -> x <> '') AS sents
      FROM documents
    )
    SELECT doc_id, len(sents)::BIGINT AS n_sentences,
           round(list_avg(list_transform(sents, x -> length(x))), 4)
             AS avg_chars_r4,
           list_max(list_transform(sents,
             x -> len(list_filter(string_split(x, ' '),
                                  t -> t <> ''))))::BIGINT
             AS max_words
    FROM s WHERE len(sents) > 0
    """,
)
def q_text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sentence segmentation stats (count, mean sentence
    length, longest sentence in words) — pure column algebra over an
    RE2-portable segment pattern, map-only. See
    :func:`lindel_spark.text.sentences`."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sents = LT.sentences(F.col("text"))
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        sents.alias("sents"),
    ).filter(F.size("sents") > 0)
    chars = F.transform(F.col("sents"), lambda s: F.length(s))
    words = F.transform(
        F.col("sents"),
        lambda s: F.size(F.filter(F.split(s, " "),
                                  lambda t: t != F.lit(""))))
    return base.select(
        "doc_id",
        F.size("sents").cast("long").alias("n_sentences"),
        F.round(
            F.aggregate(chars, F.lit(0).cast("long"),
                        lambda a, x: a + x).cast("double")
            / F.size("sents"), 4).alias("avg_chars_r4"),
        F.array_max(words).cast("long").alias("max_words"),
    )


@query(
    "customer_rfm_segments",
    """
    WITH ref AS (SELECT max(o_orderdate) AS r FROM orders),
    base AS (
      SELECT o_custkey::BIGINT AS custkey,
             date_diff('day', max(o_orderdate), (SELECT r FROM ref))
               ::BIGINT AS recency_days,
             count(*)::BIGINT AS frequency,
             round(sum(o_totalprice), 4) AS monetary_r4
      FROM orders GROUP BY o_custkey
    )
    SELECT custkey, recency_days, frequency, monetary_r4,
           ntile(4) OVER (ORDER BY recency_days, custkey)::BIGINT AS r_q,
           ntile(4) OVER (ORDER BY frequency DESC, custkey)::BIGINT AS f_q,
           ntile(4) OVER (ORDER BY monetary_r4 DESC, custkey)::BIGINT
             AS m_q
    FROM base
    """,
)
def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency / frequency / monetary
    with deterministic NTILE quartiles (ties broken by key). The
    classic marketing rollup as one aggregate + three rank windows.
    Scale note: the windows are global (one row per CUSTOMER, already
    orders-of-magnitude smaller than the fact table) — exact global
    quartiles need the single sort; at billions of customers swap the
    NTILEs for approx-quantile thresholds broadcast back (the
    events_approx_percentiles pattern), trading exactness for an
    all-parallel plan."""
    from pyspark.sql import Window

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    ref = orders.agg(F.max("o_orderdate").alias("r"))
    base = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.max("o_orderdate").alias("last_o"),
             F.count(F.lit(1)).cast("long").alias("frequency"),
             F.round(F.sum("o_totalprice"), 4).alias("monetary_r4"))
        .crossJoin(F.broadcast(ref))
        .select(
            F.col("custkey").cast("long").alias("custkey"),
            F.datediff(F.col("r"), F.col("last_o")).cast("long")
            .alias("recency_days"),
            "frequency", "monetary_r4",
        )
    )
    return base.select(
        "custkey", "recency_days", "frequency", "monetary_r4",
        F.ntile(4).over(Window.orderBy("recency_days", "custkey"))
        .cast("long").alias("r_q"),
        F.ntile(4).over(
            Window.orderBy(F.col("frequency").desc(), "custkey"))
        .cast("long").alias("f_q"),
        F.ntile(4).over(
            Window.orderBy(F.col("monetary_r4").desc(), "custkey"))
        .cast("long").alias("m_q"),
    )


@query(
    "pipeline_partitioned_roundtrip",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day_s, count(*)::BIGINT AS n,
           round(sum(value), 4) AS sum_v_r4
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-05'
                                       AND '2024-01-07'
    GROUP BY 1
    """,
)
def q_pipeline_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned lakehouse round-trip: events written
    partitioned by day, read back with a partition filter that must
    PRUNE (only the three selected day directories are listed/read —
    asserted from the plan, not assumed), then aggregated. The oracle
    recomputes from the raw table, proving the partitioned layout is
    lossless and the pruned read is still exact."""
    ev = _events(spark, sf_dir).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day_s"),
        "event_id", "value")
    out = tempfile.mkdtemp(prefix="lindel_hivepart_")
    ev.write.mode("overwrite").partitionBy("day_s").parquet(out)
    rb = spark.read.parquet(out).filter(
        F.col("day_s").between("2024-01-05", "2024-01-07"))
    # partition pruning is load-bearing here: fail loudly if the scan
    # lists every day directory instead of three
    plan = rb._jdf.queryExecution().executedPlan().toString()
    if "PartitionFilters: []" in plan:
        raise AssertionError(
            "LINDEL: partition filter did not reach the scan")
    return rb.groupBy("day_s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_v_r4"))


@query(
    "events_mad_outliers",
    """
    WITH e AS (
      SELECT user_id::BIGINT AS user_id, value
      FROM events WHERE value IS NOT NULL
    ),
    med AS (
      SELECT user_id, median(value) AS med FROM e GROUP BY user_id
    ),
    dev AS (
      SELECT e.user_id, e.value, med.med,
             abs(e.value - med.med) AS adev
      FROM e JOIN med USING (user_id)
    ),
    mad AS (
      SELECT user_id, median(adev) AS mad FROM dev GROUP BY user_id
    )
    SELECT d.user_id, round(d.med, 6) AS med_r6,
           round(m.mad, 6) AS mad_r6,
           sum(CASE WHEN m.mad > 0 AND d.adev > 3 * m.mad
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
           count(*)::BIGINT AS n
    FROM dev d JOIN mad m USING (user_id)
    GROUP BY d.user_id, d.med, m.mad
    """,
)
def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts per user via median absolute deviation
    (3-MAD rule) — the robust alternative to events_anomaly_zscore
    (means and sigmas move with the outliers; medians don't). Exact
    interpolated medians (Spark ``percentile`` ≡ DuckDB ``median`` on
    the same value multiset), two grouped passes + joins all keyed on
    user_id."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull()).select(
        F.col("user_id").cast("long").alias("user_id"), "value")
    med = ev.groupBy("user_id").agg(
        F.percentile("value", F.lit(0.5)).alias("med"))
    dev = ev.join(med, "user_id").withColumn(
        "adev", F.abs(F.col("value") - F.col("med")))
    mad = dev.groupBy("user_id").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad"))
    return (
        dev.join(mad, "user_id")
        .groupBy("user_id", "med", "mad")
        .agg(
            F.sum(F.when((F.col("mad") > 0)
                         & (F.col("adev") > 3 * F.col("mad")), 1)
                  .otherwise(0)).cast("long").alias("n_outliers"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .select("user_id", F.round("med", 6).alias("med_r6"),
                F.round("mad", 6).alias("mad_r6"), "n_outliers", "n")
    )


@query(
    "profile_referential_integrity",
    """
    SELECT 'orders->customer' AS relationship,
           (SELECT count(*) FROM orders
            WHERE o_custkey IS NOT NULL)::BIGINT AS n_child,
           (SELECT count(*) FROM orders
            WHERE o_custkey IS NOT NULL
              AND o_custkey NOT IN
                  (SELECT c_custkey FROM customer))::BIGINT
             AS n_orphans,
           (SELECT count(*) FROM orders
            WHERE o_custkey IS NOT NULL
              AND o_custkey NOT IN
                  (SELECT c_custkey FROM customer)) = 0 AS intact
    UNION ALL
    SELECT 'lineitem->orders',
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey IS NOT NULL)::BIGINT,
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey IS NOT NULL
              AND l_orderkey NOT IN
                  (SELECT o_orderkey FROM orders))::BIGINT,
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey IS NOT NULL
              AND l_orderkey NOT IN
                  (SELECT o_orderkey FROM orders)) = 0
    """,
)
def q_profile_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key audit across the star schema: orphaned orders
    (no customer) and orphaned lineitems (no order), counted with
    anti-joins. See
    :func:`lindel_spark.profile.referential_integrity_report`."""
    from lindel_spark.profile import referential_integrity_report

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    li = _lineitem(spark, sf_dir)
    return referential_integrity_report([
        ("orders->customer", orders, "o_custkey", cust, "c_custkey"),
        ("lineitem->orders", li, "l_orderkey", orders, "o_orderkey"),
    ])


@query(
    "events_wow_growth",
    """
    WITH wk AS (
      SELECT event_type,
             date_trunc('week', ts) AS week_start,
             count(*)::BIGINT AS n,
             round(sum(value), 4) AS sum_v_r4
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, strftime(week_start, '%Y-%m-%d') AS week_s, n,
           sum_v_r4,
           (n - lag(n) OVER w) AS n_delta,
           round(CASE WHEN lag(n) OVER w > 0
                 THEN (n - lag(n) OVER w)::DOUBLE / lag(n) OVER w
                 END, 6) AS growth_r6
    FROM wk
    WINDOW w AS (PARTITION BY event_type ORDER BY week_start)
    """,
)
def q_events_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week volume growth per event type: weekly rollup +
    one lag window per type (Monday-anchored ISO weeks, identical
    date_trunc semantics in both engines)."""
    from pyspark.sql import Window

    wk = (
        _events(spark, sf_dir)
        .groupBy("event_type",
                 F.date_trunc("week", F.col("ts")).alias("week_start"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.round(F.sum("value"), 4).alias("sum_v_r4"))
    )
    w = Window.partitionBy("event_type").orderBy("week_start")
    prev = F.lag("n").over(w)
    return wk.select(
        "event_type",
        F.date_format("week_start", "yyyy-MM-dd").alias("week_s"),
        "n", "sum_v_r4",
        (F.col("n") - prev).alias("n_delta"),
        F.round(F.when(prev > 0,
                       (F.col("n") - prev).cast("double") / prev), 6)
        .alias("growth_r6"),
    )


@query(
    "part_revenue_pareto",
    """
    WITH rev AS (
      SELECT p.p_brand AS brand,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
               AS revenue_r4
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    ),
    tot AS (SELECT sum(revenue_r4) AS t FROM rev)
    SELECT brand, revenue_r4,
           rank() OVER (ORDER BY revenue_r4 DESC, brand)::BIGINT
             AS rnk,
           round(sum(revenue_r4) OVER (
                   ORDER BY revenue_r4 DESC, brand
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / (SELECT t FROM tot), 6) AS cum_share_r6
    FROM rev
    """,
)
def q_part_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration of revenue by part brand: ranked brands
    with running cumulative revenue share (the 80/20 read-off). The
    window is global but over BRAND cardinality (thousands at most),
    after the fact table has been aggregated down — the same
    dimension-sized-window caveat as customer_rfm_segments. The
    rounded per-brand revenue feeds the share so both engines divide
    identical numerators."""
    from pyspark.sql import Window

    li = _lineitem(spark, sf_dir)
    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    rev = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 4)
             .alias("revenue_r4"))
    )
    tot = rev.agg(F.sum("revenue_r4").alias("t"))
    w = Window.orderBy(F.col("revenue_r4").desc(), "brand")
    return (
        rev.crossJoin(F.broadcast(tot))
        .select(
            "brand", "revenue_r4",
            F.rank().over(w).cast("long").alias("rnk"),
            F.round(
                F.sum("revenue_r4").over(
                    w.rowsBetween(Window.unboundedPreceding, 0))
                / F.col("t"), 6).alias("cum_share_r6"),
        )
    )


@query(
    "sketch_quantiles_by_type",
    f"""
    WITH h AS (
      SELECT event_type,
             least({_HQ_BINS - 1},
                   greatest(0, floor((value - {_HQ_LO})
                                     / {(_HQ_HI - _HQ_LO) / _HQ_BINS})))
               ::BIGINT AS bin,
             count(*)::BIGINT AS cnt
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, bin, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum
      FROM h
    ),
    t AS (SELECT event_type, sum(cnt)::DOUBLE AS n FROM h GROUP BY 1),
    qs AS (SELECT unnest([0.5, 0.95]) AS q)
    SELECT c.event_type, q,
           round({_HQ_LO}
             + (c.bin + (q * t.n - (c.cum - c.cnt)) / c.cnt)
             * {(_HQ_HI - _HQ_LO) / _HQ_BINS}, 6) AS est_r6
    FROM qs
    CROSS JOIN t
    JOIN c ON c.event_type = t.event_type
          AND c.cum >= q * t.n AND (c.cum - c.cnt) < q * t.n
    """,
)
def q_sketch_quantiles_by_type(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per-event-type p50/p95 read off a GROUPED histogram sketch —
    every group gets its quantiles from one shared pass with no
    per-group sort; state O(groups x bins). See
    :func:`lindel_spark.sketch.histogram_sketch_grouped`."""
    from lindel_spark import sketch as SK

    ev = _events(spark, sf_dir)
    h = SK.histogram_sketch_grouped(
        ev, "event_type", "value", _HQ_LO, _HQ_HI, _HQ_BINS)
    qdf = SK.histogram_quantiles_grouped(
        h, "event_type", [0.5, 0.95], _HQ_LO, _HQ_HI, _HQ_BINS)
    return qdf.select("event_type", "q",
                      F.round("est", 6).alias("est_r6"))


@query(
    "zorder_store_cycle",
    """
    SELECT COUNT(*)::BIGINT AS n_rows,
           SUM(l_orderkey)::BIGINT AS sum_ok,
           SUM(l_partkey)::BIGINT AS sum_pk,
           COUNT(DISTINCT l_orderkey)::BIGINT AS n_orders
    FROM lineitem
    """,
)
def q_zorder_store_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full incremental-store lifecycle: init a curve-clustered base
    from 80% of lineitem, fast-append the rest unsorted, force a
    maintenance rewrite, then aggregate the store contents — the
    oracle recomputes from the raw table, proving init + append +
    re-cluster is lossless end to end. See
    :func:`lindel_spark.write.zorder_store_maintain`."""
    li = _lineitem(spark, sf_dir)
    cols = [F.col("l_orderkey").cast("int"),
            F.col("l_partkey").cast("int")]
    store = os.path.join(
        tempfile.mkdtemp(prefix="lindel_zstore_q_"), "s")
    LW.zorder_store_init(li.filter("l_orderkey % 5 != 0"), cols, store,
                         elem="int32", num_files=8)
    LW.zorder_store_append(li.filter("l_orderkey % 5 = 0"), store)
    stats = LW.zorder_store_maintain(spark, store, cols,
                                     tail_ratio=0.01, elem="int32",
                                     num_files=8)
    if not stats["rewritten"]:
        raise AssertionError("LINDEL: maintenance rewrite did not run")
    rb = LW.zorder_store_read(spark, store)
    return rb.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("l_orderkey").cast("long").alias("sum_ok"),
        F.sum("l_partkey").cast("long").alias("sum_pk"),
        F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
    )


@query(
    "zorder_store_select",
    """
    SELECT COUNT(*)::BIGINT AS n_rows,
           SUM(l_quantity)::BIGINT AS sum_qty,
           SUM(l_suppkey)::BIGINT AS sum_supp,
           true AS pruned_some
    FROM lineitem
    WHERE l_orderkey BETWEEN 2000 AND 3000
    """,
)
def q_zorder_store_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The store's READ payoff
    (:func:`lindel_spark.write.zorder_store_select`): init a clustered
    base + unsorted tail, answer a range predicate with FILE pruning
    from the PERSISTED manifest (written once at init/append — the
    select opens no parquet footers, round-9 verdict item 1) and a
    stats-pruned tail scan — the oracle recomputes the filter from the
    raw table (losslessness) and the emitted boolean pins that whole
    files were actually skipped."""
    li = _lineitem(spark, sf_dir)
    cols = [F.col("l_orderkey").cast("int"),
            F.col("l_partkey").cast("int")]
    store = os.path.join(
        tempfile.mkdtemp(prefix="lindel_zsel_q_"), "s")
    LW.zorder_store_init(li.filter("l_orderkey % 7 != 0"), cols, store,
                         stat_cols=["l_orderkey"],
                         elem="int32", num_files=8)
    LW.zorder_store_append(li.filter("l_orderkey % 7 = 0"), store)
    hits, stats = LW.zorder_store_select(
        spark, store, {"l_orderkey": (2000, 3000)})
    agg = hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.sum("l_suppkey").cast("long").alias("sum_supp"),
    ).first()
    return local_frame(
        spark,
        [(agg.n_rows, agg.sum_qty, agg.sum_supp,
          stats["files_scanned"] < stats["files_total"])],
        "n_rows long, sum_qty long, sum_supp long, pruned_some boolean",
    )


@query(
    "zorder_store_lookup",
    """
    SELECT COUNT(*)::BIGINT AS n_rows,
           COALESCE(SUM(l_quantity), 0)::BIGINT AS sum_qty,
           COALESCE(SUM(l_suppkey), 0)::BIGINT AS sum_supp,
           true AS pruned_some
    FROM lineitem WHERE l_orderkey = 1000
    """,
)
def q_zorder_store_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The store's POINT-LOOKUP payoff
    (:func:`lindel_spark.write.zorder_store_lookup`): init with
    ``bloom_cols`` so base and tail Parquet files carry native bloom
    filters, then answer an equality probe: the persisted min/max
    manifest (``l_orderkey`` is also a stat column) prunes files on
    the driver, and the Parquet reader drops row groups whose bloom
    filter rules the value out. No false negatives: the oracle
    recomputes the filter from the raw table; the boolean pins that
    whole files were skipped."""
    li = _lineitem(spark, sf_dir)
    cols = [F.col("l_orderkey").cast("int"),
            F.col("l_partkey").cast("int")]
    store = os.path.join(
        tempfile.mkdtemp(prefix="lindel_zlkp_q_"), "s")
    LW.zorder_store_init(li.filter("l_orderkey % 7 != 0"), cols, store,
                         stat_cols=["l_orderkey"],
                         bloom_cols=["l_orderkey"],
                         elem="int32", num_files=8)
    LW.zorder_store_append(li.filter("l_orderkey % 7 = 0"), store)
    hits, stats = LW.zorder_store_lookup(spark, store, "l_orderkey",
                                         1000)
    agg = hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(F.sum("l_quantity"), F.lit(0)).cast("long")
        .alias("sum_qty"),
        F.coalesce(F.sum("l_suppkey"), F.lit(0)).cast("long")
        .alias("sum_supp"),
    ).first()
    return local_frame(
        spark,
        [(agg.n_rows, agg.sum_qty, agg.sum_supp,
          stats["files_scanned"] < stats["files_total"])],
        "n_rows long, sum_qty long, sum_supp long, pruned_some boolean",
    )


@query(
    "text_vocab_coverage",
    f"""
    WITH t AS (
      SELECT unnest({_DUCK_TOKS}) AS token FROM documents
    ), c AS (
      SELECT token, COUNT(*)::BIGINT AS cnt FROM t GROUP BY token
    ), tot AS (
      SELECT SUM(cnt)::BIGINT AS total FROM c
    ), r AS (
      SELECT token, cnt,
             row_number() OVER (ORDER BY cnt DESC, token) AS rank
      FROM c
    ), sel AS (
      SELECT * FROM r WHERE rank <= 200
    )
    SELECT rank::BIGINT AS rank, token, cnt,
           (SUM(cnt) OVER (ORDER BY cnt DESC, token
                           ROWS UNBOUNDED PRECEDING))::DOUBLE
             / total::DOUBLE AS cum_share
    FROM sel, tot
    """,
)
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary frequency ranking with cumulative coverage curve
    (:func:`lindel_spark.text.vocab_coverage`, round 9): exact integer
    counts, deterministic (cnt desc, token) tie-break, one final
    division — the whole curve hash-compares against DuckDB."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LT.vocab_coverage(docs, top_n=200)


@query(
    "text_boilerplate_removed",
    """
    WITH nd AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
    lines AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               string_split(text, chr(10)), s -> trim(s)))) AS line
      FROM documents
    ), freq AS (
      SELECT line, COUNT(*)::BIGINT AS cnt FROM lines
      WHERE line != '' GROUP BY line
    ), boiler AS (
      SELECT line FROM freq, nd
      WHERE cnt >= greatest(10, CAST(floor(n * 0.02e0) AS BIGINT) + 1)
    ), bl AS (
      SELECT coalesce(list(line), []) AS bset FROM boiler
    )
    SELECT doc_id::BIGINT AS doc_id,
           array_to_string(
             list_filter(string_split(text, chr(10)),
                         s -> trim(s) = ''
                              OR NOT list_contains(bset, trim(s))),
             chr(10)) AS text,
           (len(string_split(text, chr(10)))
            - len(list_filter(string_split(text, chr(10)),
                              s -> trim(s) = ''
                                   OR NOT list_contains(bset, trim(s))))
           )::BIGINT AS n_lines_removed
    FROM documents, bl
    """,
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate line removal (round 9,
    :func:`lindel_spark.text.remove_boilerplate_lines`): lines present
    in more than 2% of documents (min 10) are stripped everywhere —
    the sub-document repetition cleanup between exact and near dedup.
    Full cleaned texts hash-compare against the DuckDB replay of the
    identical doc-frequency / trim / rebuild chain."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = LT.remove_boilerplate_lines(docs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text", "n_lines_removed")


@query(
    "pipeline_bloom_pruned",
    """
    SELECT COUNT(*)::BIGINT AS n_rows,
           ROUND(SUM(l_extendedprice), 2)::DOUBLE AS sum_price,
           true AS pruned_some
    FROM lineitem WHERE l_orderkey = 1000
    """,
)
def q_pipeline_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file BLOOM index point lookup (round 9,
    :func:`lindel_spark.profile.file_bloom_manifest` +
    :func:`~lindel_spark.profile.bloom_pruned_read`): write lineitem
    UNCLUSTERED (min/max stats cannot prune an equality probe on a
    scattered column), build the bloom manifest once, then answer a
    point lookup scanning only files whose bitset admits the value —
    no false negatives, so the oracle recomputed from the raw table
    must match exactly; the emitted boolean pins that whole files
    were skipped."""
    from lindel_spark import profile as LP

    li = _lineitem(spark, sf_dir)
    out = os.path.join(tempfile.mkdtemp(prefix="lindel_bloom_"), "d")
    li.repartition(16).write.mode("overwrite").parquet(out)
    # size the bitset to ~20 bits per value per file (the operating
    # point that keeps fpp ~1e-4): a FIXED m saturates at 10x data —
    # the index parameter, not the index, tracks scale
    m_bits = 1 << max(20, (li.count() * 20 // 16).bit_length())
    man = LP.file_bloom_manifest(spark, out, "l_orderkey",
                                 m_bits=m_bits)
    hits, stats = LP.bloom_pruned_read(spark, out, man,
                                       "l_orderkey", 1000,
                                       m_bits=m_bits)
    agg = hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).cast("double")
        .alias("sum_price"),
    ).first()
    return local_frame(
        spark,
        [(agg.n_rows, agg.sum_price,
          stats["files_scanned"] < stats["files_total"])],
        "n_rows long, sum_price double, pruned_some boolean",
    )


@query(
    "pipeline_corpus_prep",
    f"""
    WITH d AS (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id, text, toks,
             CASE WHEN len(toks) >= 2 THEN
               list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i+1])
             ELSE [] END AS g2,
             CASE WHEN len(toks) >= 5 THEN
               list_transform(range(1, len(toks) - 3),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                      || ' ' || toks[i+3] || ' ' || toks[i+4])
             ELSE [] END AS g5,
             (CASE WHEN len(toks) BETWEEN 10 AND 10000
                   THEN 1.0e0 ELSE 0.0e0 END) * 0.25e0
             + (CASE WHEN list_sum(list_transform(toks, t -> length(t)))::DOUBLE
                          / len(toks)::DOUBLE BETWEEN 2.0e0 AND 12.0e0
                     THEN 1.0e0 ELSE 0.0e0 END) * 0.25e0
             + (len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE) * 0.25e0
             + ((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE
                / greatest(length(text)::DOUBLE, 1.0e0)) * 0.25e0 AS quality
      FROM d
    ),
    gated AS (
      SELECT doc_id::BIGINT AS doc_id, text, quality FROM g
      WHERE quality >= 0.75e0
        AND (CASE WHEN len(g2) > 0 THEN
               list_aggregate(list_transform(list_distinct(g2),
                 x -> len(list_filter(g2, y -> y = x))), 'max')::DOUBLE
                 / len(g2)::DOUBLE
             ELSE 0.0e0 END) < 0.1e0
        AND (CASE WHEN len(g5) > 0 THEN
               1.0e0 - len(list_distinct(g5))::DOUBLE / len(g5)::DOUBLE
             ELSE 0.0e0 END) < 0.1e0
    ),
    dd AS (
      SELECT doc_id, quality,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS fp
      FROM gated
    ),
    kept AS (
      SELECT doc_id, quality
      FROM (SELECT *, row_number() OVER (
              PARTITION BY fp ORDER BY doc_id) AS rn FROM dd)
      WHERE rn = 1
    ),
    f AS (
      SELECT doc_id, quality,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
               / 1152921504606846976.0 AS frac
      FROM kept
    )
    SELECT CASE WHEN frac < 0.8 THEN 'train'
                WHEN frac < 0.9 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*)::BIGINT AS n_docs,
           round(SUM(quality), 4) AS sum_quality_r4
    FROM f GROUP BY 1
    """,
)
def q_pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-call corpus-prep pipeline (quality+repetition gate →
    exact dedup → deterministic split), rolled up per split — the
    WHOLE chain replayed by the oracle. See
    :func:`lindel_spark.pipeline.prepare_corpus`."""
    from lindel_spark.pipeline import prepare_corpus

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = prepare_corpus(docs)
    return out.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.sum("quality"), 4).alias("sum_quality_r4"))


@query(
    "sketch_kmv_users",
    """
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
               AS h
      FROM events
    ),
    r AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h)
               AS rank
      FROM h
    ),
    s AS (SELECT * FROM r WHERE rank <= 256),
    a AS (
      SELECT event_type, count(*)::BIGINT AS n_in,
             max(CASE WHEN rank = 256 THEN h END) AS kth
      FROM s GROUP BY event_type
    )
    SELECT event_type,
           round(CASE WHEN kth IS NOT NULL
                 THEN 255.0 * 1152921504606846976.0 / kth::DOUBLE
                 ELSE n_in::DOUBLE END, 4) AS est_r4
    FROM a
    """,
)
def q_sketch_kmv_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type from a k-minimum-values sketch —
    unlike opaque HLL registers the sketch is plain md5 integers, so
    the oracle replays the sketch AND the estimate bit-for-bit (the
    first value-LEVEL distinct-sketch check in the registry; the HLL
    query keeps its self-check form). See
    :func:`lindel_spark.sketch.kmv_sketch`."""
    from lindel_spark import sketch as SK

    ev = _events(spark, sf_dir).select(
        "event_type", F.col("user_id").cast("long").alias("user_id"))
    sk = SK.kmv_sketch(ev, "event_type", "user_id", k=256)
    est = SK.kmv_estimate(sk, k=256)
    return est.select("event_type", F.round("est", 4).alias("est_r4"))


@query(
    "sketch_kmv_overlap",
    """
    WITH ha AS (
      SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))
               ::BIGINT AS h
      FROM events WHERE event_type = 'click'
    ),
    hb AS (
      SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))
               ::BIGINT AS h
      FROM events WHERE event_type = 'purchase'
    ),
    sa AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h)
                          AS r FROM ha) WHERE r <= 512),
    sb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h)
                          AS r FROM hb) WHERE r <= 512),
    m AS (
      SELECT h, row_number() OVER (ORDER BY h) AS rank
      FROM (SELECT h FROM sa UNION SELECT h FROM sb)
    ),
    mk AS (SELECT * FROM m WHERE rank <= 512),
    kth AS (
      SELECT count(*)::BIGINT AS n_in,
             max(CASE WHEN rank = 512 THEN h END) AS kth
      FROM mk
    ),
    nb AS (
      SELECT count(*)::BIGINT AS n_both FROM mk
      WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)
    )
    SELECT round(CASE WHEN kth IS NOT NULL
               THEN 511.0 * 1152921504606846976.0 / kth::DOUBLE
               ELSE n_in::DOUBLE END, 4) AS est_union_r4,
           round(n_both::DOUBLE
                 / greatest(least(n_in, 512), 1)::DOUBLE, 6)
             AS jaccard_r6
    FROM kth CROSS JOIN nb
    """,
)
def q_sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap set algebra on KMV sketches: the click and
    purchase user populations are sketched independently (k = 512 min
    hashes each) and their union size + Jaccard overlap come from
    sketch arithmetic alone — value-level, because every register is a
    plain md5 integer both engines compute identically. See
    :func:`lindel_spark.sketch.kmv_intersect_estimate`."""
    from lindel_spark import sketch as SK

    ev = _events(spark, sf_dir).select(
        "event_type", F.col("user_id").cast("long").alias("user_id"),
        F.lit("g").alias("g"))
    ska = SK.kmv_sketch(
        ev.filter(F.col("event_type") == "click"),
        "g", "user_id", k=512).drop("g")
    skb = SK.kmv_sketch(
        ev.filter(F.col("event_type") == "purchase"),
        "g", "user_id", k=512).drop("g")
    r = SK.kmv_intersect_estimate(ska, skb, k=512)
    return r.select(
        F.round("est_union", 4).alias("est_union_r4"),
        F.round("jaccard_est", 6).alias("jaccard_r6"))


# ---------------------------------------------------------------------------
# round 10 (second pass): linkage / label propagation / mixture planning /
# length-bucketed batching / text normalization
# ---------------------------------------------------------------------------

@query(
    "linkage_customer_pairs",
    """
    WITH c AS (
      SELECT c_custkey::BIGINT AS id, c_name AS name,
             c_nationkey AS nat, c_mktsegment AS seg, c_acctbal AS bal,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS balb
      FROM customer
    ), scored AS (
      SELECT a.id AS id_a, b.id AS id_b,
             round(0.6 * (1.0 - levenshtein(a.name, b.name)::DOUBLE
                          / GREATEST(LENGTH(a.name), LENGTH(b.name)))
                   + 0.4 * GREATEST(0.0,
                             1.0 - ABS(a.bal - b.bal) / 500.0),
                   9) AS score
      FROM c a JOIN c b
        ON a.nat = b.nat AND a.seg = b.seg AND a.balb = b.balb
       AND a.id < b.id
    )
    SELECT id_a, id_b, score FROM scored WHERE score >= 0.9
    """,
)
def q_linkage_customer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (round 10,
    :func:`lindel_spark.linkage.record_linkage`): customer records
    blocked on (nation, segment, acctbal-kilobucket), scored 0.6 ×
    name-levenshtein-similarity + 0.4 × balance-closeness
    (scale 500), matches at score >= 0.9. The oracle replays
    blocking, both field similarities and the weighted decision
    value-for-value — every term is a closed form both engines
    evaluate identically."""
    from lindel_spark import linkage as LK

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    cust = cust.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_name", "c_nationkey", "c_mktsegment", "c_acctbal",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("balb"))
    pairs = LK.record_linkage(
        cust, "c_custkey",
        block_cols=["c_nationkey", "c_mktsegment", "balb"],
        fields=[LK.LinkField("c_name", "levenshtein", weight=0.6),
                LK.LinkField("c_acctbal", "numeric", weight=0.4,
                             scale=500.0)],
        threshold=0.9)
    return pairs.select(F.col("id_a").cast("long").alias("id_a"),
                        F.col("id_b").cast("long").alias("id_b"),
                        "score")


@query(
    "knn_label_propagation",
    """
    WITH e AS (
      SELECT vec_id::BIGINT AS id, embedding::DOUBLE[] AS v,
             label::BIGINT AS lab
      FROM embeddings
    ), s AS (
      SELECT id, v, lab FROM e WHERE id % 2 = 0
    ), q AS (
      SELECT id, v FROM e WHERE id % 20 = 1
    ), scored AS (
      SELECT q.id AS qid, s.id AS nid, s.lab,
             list_dot_product(q.v, s.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(s.v, s.v))) AS cos
      FROM q JOIN s ON q.id != s.id
    ), top AS (
      SELECT qid, lab FROM (
        SELECT qid, lab,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, nid) AS rnk
        FROM scored
      ) WHERE rnk <= 5
    ), votes AS (
      SELECT qid, lab, COUNT(*)::BIGINT AS votes
      FROM top GROUP BY 1, 2
    )
    SELECT qid AS vec_id, lab AS predicted_label, votes FROM (
      SELECT qid, lab, votes,
             row_number() OVER (PARTITION BY qid
                                ORDER BY votes DESC, lab) AS rn
      FROM votes
    ) WHERE rn = 1
    """,
)
def q_knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label propagation (round 10,
    :func:`lindel_spark.similarity.propagate_labels`): even vec_ids
    are the labeled seed set, every 20th-plus-one vector is
    unlabeled; each takes the majority label of its 5 nearest seeds
    by cosine (ties: votes desc, label asc — no doubles in the
    decision). The neighbor search runs the DISTRIBUTED
    :func:`knn_join` cell path (n_centroids=16, every cell probed =>
    exact), so the oracle's brute-force replay must agree
    bit-for-bit."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    seeds = emb.filter(F.col("vec_id") % 2 == 0)
    probes = emb.filter(F.col("vec_id") % 20 == 1)
    out = LS.propagate_labels(seeds, probes, k=5, n_centroids=16)
    return out.select(F.col("vec_id").cast("long").alias("vec_id"),
                      "predicted_label", "votes")


@query(
    "sampling_mixture_plan",
    """
    WITH obs AS (
      SELECT source, SUM(n_chars)::BIGINT AS observed_size
      FROM documents GROUP BY 1
    ), t AS (
      SELECT * FROM (VALUES ('src1', 4.0 / 10.0), ('src2', 3.0 / 10.0),
                            ('src3', 2.0 / 10.0), ('src9', 1.0 / 10.0))
             AS t(source, share)
    )
    SELECT obs.source, observed_size,
           round(COALESCE(share, 0.0) * 50000.0, 9) AS need_size,
           round(LEAST(1.0, COALESCE(share, 0.0) * 50000.0
                            / observed_size::DOUBLE), 9)
             AS keep_fraction,
           CEIL(COALESCE(share, 0.0) * 50000.0
                / observed_size::DOUBLE)::BIGINT AS epochs,
           round(GREATEST(0.0, COALESCE(share, 0.0) * 50000.0
                               - observed_size::DOUBLE), 9)
             AS deficit_size
    FROM obs LEFT JOIN t USING (source)
    """,
)
def q_sampling_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planning (round 10,
    :func:`lindel_spark.sampling.mixture_plan`): a 50k-char budget at
    40/30/20/10 across src1/src2/src3/src9 — the per-domain
    keep-fraction / epoch / deficit numbers that drive
    ``mixture_sample`` and ``upsample_mixture`` when the contract is
    a size budget. Exact algebra on one per-stratum aggregate; the
    oracle replays need/keep/epochs/deficit with the identical IEEE
    expression order."""
    from lindel_spark import sampling as SMP

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return SMP.mixture_plan(
        docs, "source", "n_chars",
        {"src1": 4, "src2": 3, "src3": 2, "src9": 1},
        budget=50_000)


@query(
    "pipeline_length_batches",
    """
    WITH d AS (
      SELECT doc_id::BIGINT AS id, n_chars::BIGINT AS len,
             CAST(FLOOR(n_chars / 64) AS BIGINT) AS bucket
      FROM documents
    ), r AS (
      SELECT bucket, len,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY len, id) - 1 AS pos
      FROM d
    ), a AS (
      SELECT bucket,
             bucket * 4294967296 + CAST(FLOOR(pos / 16) AS BIGINT)
               AS batch_id,
             len
      FROM r
    )
    SELECT bucket, batch_id, COUNT(*)::BIGINT AS n_docs,
           MAX(len) AS max_len, SUM(len)::BIGINT AS sum_len,
           (MAX(len) * COUNT(*) - SUM(len))::BIGINT AS padding
    FROM a GROUP BY 1, 2
    """,
)
def q_pipeline_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching (round 10,
    :func:`lindel_spark.packing.length_bucketed_batches`): documents
    into width-64 length buckets, 16-doc batches within each bucket
    (ordered by length then id), summarized per batch with the
    padding-waste accounting (max·n − sum). Ranks come from
    ``global_rank`` — never a single-task window — and the oracle
    replays the bucket/rank/batch arithmetic exactly (all
    integers)."""
    from lindel_spark import packing as PKG

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    asg = PKG.length_bucketed_batches(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                    "n_chars"),
        "doc_id", "n_chars", bucket_width=64, batch_size=16)
    return (asg.groupBy("bucket", "batch_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.max("n_chars").alias("max_len"),
                 F.sum("n_chars").cast("long").alias("sum_len"),
                 (F.max("n_chars") * F.count(F.lit(1))
                  - F.sum("n_chars")).cast("long").alias("padding")))


@query(
    "text_canonicalized",
    r"""
    SELECT doc_id::BIGINT AS doc_id,
           trim(regexp_replace(
                  regexp_replace(lower(text),
                                 '[^\p{L}\p{N}\s]+', ' ', 'g'),
                  '\s+', ' ', 'g')) AS norm_text
    FROM documents
    """,
)
def q_text_canonicalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (round 10,
    :func:`lindel_spark.text.canonicalize_text`): lowercase, Unicode
    letter/digit-preserving punctuation strip, whitespace collapse,
    trim — the pass that lets exact dedup catch format variants. The
    FULL normalized corpus hash-compares against DuckDB's replay (the
    character classes mean the same thing in Java regex and RE2)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        LT.canonicalize_text(F.col("text")).alias("norm_text"))


@query(
    "linkage_incremental_batch",
    """
    WITH c AS (
      SELECT c_custkey::BIGINT AS id, c_name AS name,
             c_nationkey AS nat, c_mktsegment AS seg, c_acctbal AS bal,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS balb
      FROM customer
    ), m AS (
      SELECT * FROM c WHERE id % 3 != 0
    ), b AS (
      SELECT * FROM c WHERE id % 3 = 0
    ), mb AS (
      SELECT m.id AS id_a, b.id AS id_b,
             round(0.6 * (1.0 - levenshtein(m.name, b.name)::DOUBLE
                          / GREATEST(LENGTH(m.name), LENGTH(b.name)))
                   + 0.4 * GREATEST(0.0,
                             1.0 - ABS(m.bal - b.bal) / 500.0),
                   9) AS score
      FROM m JOIN b
        ON m.nat = b.nat AND m.seg = b.seg AND m.balb = b.balb
    ), matches AS (
      SELECT * FROM mb WHERE score >= 0.9
    ), bb AS (
      SELECT x.id AS id_a, y.id AS id_b,
             round(0.6 * (1.0 - levenshtein(x.name, y.name)::DOUBLE
                          / GREATEST(LENGTH(x.name), LENGTH(y.name)))
                   + 0.4 * GREATEST(0.0,
                             1.0 - ABS(x.bal - y.bal) / 500.0),
                   9) AS score
      FROM b x JOIN b y
        ON x.nat = y.nat AND x.seg = y.seg AND x.balb = y.balb
       AND x.id < y.id
    ), batch_dups AS (
      SELECT DISTINCT id_b FROM bb WHERE score >= 0.9
    ), newr AS (
      SELECT id FROM b
      WHERE id NOT IN (SELECT id_b FROM matches)
        AND id NOT IN (SELECT id_b FROM batch_dups)
    )
    SELECT 'match' AS kind, id_a, id_b, score FROM matches
    UNION ALL
    SELECT 'new' AS kind, -1::BIGINT AS id_a, id AS id_b,
           -1.0 AS score
    FROM newr
    """,
)
def q_linkage_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental linkage against a master store (round 10,
    :func:`lindel_spark.linkage.incremental_linkage`): customers with
    id % 3 != 0 play the persisted master, the rest arrive as a
    batch. Master matches route to merge; batch rows matching nothing
    (and not within-batch duplicates) are the appendable new records.
    One row per match plus one sentinel row per new record — the
    whole two-join chain replayed in DuckDB."""
    from lindel_spark import linkage as LK

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    cust = cust.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_name", "c_nationkey", "c_mktsegment", "c_acctbal",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("balb"))
    fields = [LK.LinkField("c_name", "levenshtein", weight=0.6),
              LK.LinkField("c_acctbal", "numeric", weight=0.4,
                           scale=500.0)]
    master = cust.filter(F.col("c_custkey") % 3 != 0)
    batch = cust.filter(F.col("c_custkey") % 3 == 0)
    matches, new_records = LK.incremental_linkage(
        batch, master, "c_custkey",
        ["c_nationkey", "c_mktsegment", "balb"], fields, threshold=0.9)
    m = matches.select(F.lit("match").alias("kind"),
                       F.col("id_a").cast("long").alias("id_a"),
                       F.col("id_b").cast("long").alias("id_b"),
                       "score")
    n = new_records.select(
        F.lit("new").alias("kind"),
        F.lit(-1).cast("long").alias("id_a"),
        F.col("c_custkey").cast("long").alias("id_b"),
        F.lit(-1.0).alias("score"))
    return m.unionByName(n)


@query(
    "text_bpe_pairs",
    """
    WITH toks AS (
      SELECT regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]') AS t
      FROM documents
    ), pairs AS (
      SELECT t[i] || ' ' || t[i + 1] AS pair
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 2
    )
    SELECT pair, COUNT(*)::BIGINT AS n
    FROM pairs GROUP BY 1 ORDER BY n DESC, pair LIMIT 100
    """,
)
def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate pair counts (round 10,
    :func:`lindel_spark.text.bpe_pair_counts`): top-100 adjacent
    pretoken pairs by frequency over the shared
    ``BPE_SPLIT_PATTERN`` pre-tokenizer — one merge iteration's
    decision statistic, exact integer counts, lexicographic tie-break
    so the cut is deterministic. DuckDB replays pretokenize → zip →
    count → cut value-for-value."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LT.bpe_pair_counts(docs, "text", top_n=100)


# ---------------------------------------------------------------------------
# round 11: full BPE merge-training loop (text.bpe_train / bpe_vocab)
# ---------------------------------------------------------------------------

def _bpe_oracle_sql(num_merges: int, vocab: bool) -> str:
    """Unrolled DuckDB replay of the BPE training loop: each merge
    step is one (symbols → pair counts → argmax → replace) CTE block,
    so the ADAPTIVE loop (every step's best pair depends on the data)
    becomes static SQL — the pagerank unrolled-oracle idiom. CTEs are
    MATERIALIZED: w{i} is referenced twice per step and naive inlining
    would be exponential in the step count."""
    sep = "chr(31)"
    parts = [f"""
    WITH w0 AS MATERIALIZED (
      SELECT regexp_replace(w, '(.)', {sep} || '\\1' || {sep}, 'g') AS r,
             COUNT(*)::BIGINT AS freq
      FROM (
        SELECT unnest(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS w
        FROM documents
      )
      WHERE regexp_matches(w, '^[A-Za-z]+$')
      GROUP BY w
    )"""]
    for i in range(1, num_merges + 1):
        p = i - 1
        parts.append(f"""
    , s{i} AS MATERIALIZED (
      SELECT freq, string_split(substring(r, 2, length(r) - 2),
                                {sep} || {sep}) AS sy
      FROM w{p}
    ), p{i} AS MATERIALIZED (
      SELECT sy[k] AS l, sy[k + 1] AS rr, SUM(freq)::BIGINT AS n
      FROM s{i}, UNNEST(generate_series(1, len(sy) - 1)) AS u(k)
      WHERE len(sy) >= 2
      GROUP BY 1, 2
    ), b{i} AS MATERIALIZED (
      SELECT l, rr, n FROM p{i} ORDER BY n DESC, l, rr LIMIT 1
    ), w{i} AS MATERIALIZED (
      SELECT replace(w{p}.r,
                     {sep} || b{i}.l || {sep} || {sep} || b{i}.rr || {sep},
                     {sep} || b{i}.l || b{i}.rr || {sep}) AS r,
             freq
      FROM w{p}, b{i}
    )""")
    if vocab:
        parts.append(f"""
    SELECT sym AS symbol, SUM(freq)::BIGINT AS n
    FROM (
      SELECT unnest(string_split(substring(r, 2, length(r) - 2),
                                 {sep} || {sep})) AS sym, freq
      FROM w{num_merges}
    )
    GROUP BY 1 ORDER BY symbol""")
    else:
        rows = "\n      UNION ALL ".join(
            f"SELECT {i}::BIGINT AS step, l AS lhs, rr AS rhs, n FROM b{i}"
            for i in range(1, num_merges + 1))
        parts.append(f"""
    SELECT * FROM (
      {rows}
    ) ORDER BY step""")
    return "".join(parts)


_BPE_TRAIN_MERGES = 8


@query("text_bpe_train", _bpe_oracle_sql(_BPE_TRAIN_MERGES, vocab=False))
def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE merge-training loop (round 11,
    :func:`lindel_spark.text.bpe_train`): the first 8 merges learned
    from the documents corpus — char-level within alphabetic
    pretokens, weighted by pretoken frequency, ties broken n desc /
    left asc / right asc. The DuckDB oracle replays the ENTIRE
    adaptive loop (8 unrolled argmax+replace steps over the same
    wrapped-symbol rendering) value-for-value."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LT.bpe_train(docs, "text",
                        num_merges=_BPE_TRAIN_MERGES).select(
        "step", F.col("left").alias("lhs"),
        F.col("right").alias("rhs"), "n")


@query("text_bpe_vocab", _bpe_oracle_sql(_BPE_TRAIN_MERGES, vocab=True))
def q_text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final BPE vocabulary after the 8 trained merges (round 11,
    :func:`lindel_spark.text.bpe_vocab`): (symbol, weighted count) —
    the tokenizer vocab file's contents, replayed value-for-value by
    the same unrolled DuckDB loop."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return LT.bpe_vocab(docs, "text", num_merges=_BPE_TRAIN_MERGES)


@query(
    "sketch_kll_quantiles",
    """
    WITH keyed AS (
      SELECT CAST(l_extendedprice AS DOUBLE) AS v,
             CAST(('0x' || substr(md5('kll' || '|'
                    || CAST(l_orderkey AS VARCHAR) || '|'
                    || CAST(l_linenumber AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), lv AS (
      SELECT v, CASE WHEN h = 0 THEN 40
                     ELSE LEAST(40, CAST(round(log2(h & -h)) AS BIGINT))
                END AS lvl
      FROM keyed
    ), nn AS (SELECT COUNT(*) AS n FROM lv),
    js AS (
      SELECT MIN(j) AS j
      FROM range(0, 41) t(j), nn
      WHERE nn.n <= 4096 * (CAST(1 AS BIGINT) << CAST(j AS INT))
    ), s AS (SELECT v FROM lv, js WHERE lvl >= js.j),
    ranked AS (
      SELECT v, row_number() OVER (ORDER BY v) AS rn,
             COUNT(*) OVER () AS m
      FROM s
    ), q AS (
      SELECT CAST(q AS DOUBLE) AS q
      FROM (VALUES (0.01), (0.1), (0.25), (0.5),
                   (0.75), (0.9), (0.99), (1.0)) t(q)
    )
    SELECT q.q AS q, r.v AS est
    FROM q JOIN ranked r ON r.rn = CAST(ceil(q.q * r.m) AS BIGINT)
    ORDER BY q
    """,
)
def q_sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bound-free mergeable quantile sketch (round 11,
    :func:`lindel_spark.sketch.kll_sketch`): price quantiles off a
    capacity-4096 deterministic level sample — the one-pass
    unknown-range case ``histogram_sketch``'s fixed [lo, hi] grid
    cannot serve. The compaction coin is the row's own 60-bit md5
    hash (trailing-zero level), so DuckDB replays every kept sample
    row AND the type-1 quantile read bit-for-bit."""
    from lindel_spark import sketch as SK
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    sk = SK.kll_sketch(li, "l_extendedprice",
                       ["l_orderkey", "l_linenumber"])
    return SK.kll_quantiles(
        sk, [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0])


@query(
    "text_bm25_store",
    """
    WITH norm AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '') AS toks
      FROM documents
    ),
    postings AS (
      SELECT doc_id, term, COUNT(*)::BIGINT AS tf, ANY_VALUE(dl) AS dl
      FROM (SELECT doc_id, len(toks)::BIGINT AS dl, unnest(toks) AS term
            FROM norm)
      GROUP BY doc_id, term
    ),
    stats AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs,
             SUM(tf)::DOUBLE / COUNT(DISTINCT doc_id)::DOUBLE AS avgdl
      FROM postings
    ),
    qterms AS (
      SELECT DISTINCT doc_id AS query_id, unnest(toks[1:5]) AS term
      FROM norm WHERE doc_id % 97 = 0
    ),
    dfs AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM postings
      WHERE term IN (SELECT term FROM qterms) GROUP BY term
    ),
    scored AS (
      SELECT q.query_id, p.doc_id,
             SUM(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (p.tf::DOUBLE * (1.2 + 1.0))
                 / (p.tf::DOUBLE
                    + 1.2 * ((1.0 - 0.75)
                             + 0.75 * p.dl::DOUBLE / s.avgdl))) AS score
      FROM postings p
      JOIN dfs d USING (term)
      JOIN qterms q USING (term)
      CROSS JOIN stats s
      GROUP BY q.query_id, p.doc_id
    )
    SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
           doc_id::BIGINT AS doc_id, round(score, 4) AS score_r4
    FROM (SELECT query_id, doc_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY round(score, 4) DESC,
                                             doc_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def q_text_bm25_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the PERSISTED incremental retrieval index
    (round 11, :func:`lindel_spark.retrieval.bm25_index_init`/
    ``bm25_index_append``/``bm25_topk_store``): the store is built
    here from two-thirds of the corpus, the remaining third arrives
    via the INCREMENTAL append (postings into the tail, df/length
    stats as algebraic deltas), and top-5 is answered from the stored
    postings + (term, df) table — no tokenize pass, no per-query df
    window. The oracle is the SAME fresh-computation SQL as
    ``text_bm25_topk``: store round-trip ≡ fresh computation,
    value-for-value."""
    import tempfile

    from lindel_spark import retrieval as LR

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    store = os.path.join(
        tempfile.mkdtemp(prefix="lindel_bm25_store_"), "idx")
    LR.bm25_index_init(docs.filter(F.col("doc_id") % 3 != 0), store)
    LR.bm25_index_append(docs.filter(F.col("doc_id") % 3 == 0), store)
    toks = LT.tokens(LT.normalize_text(F.col("text")))
    queries_df = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("query"),
    )
    res = LR.bm25_topk_store(spark, store, queries_df, k=5,
                             rank_round=4)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.round("score", 4).alias("score_r4"),
    )


@query(
    "knn_propagate_rounds",
    """
    WITH e AS (
      SELECT vec_id::BIGINT AS id, embedding::DOUBLE[] AS v,
             label::BIGINT AS lab
      FROM embeddings
    ), s1 AS MATERIALIZED (
      SELECT id, v, lab FROM e WHERE id % 2 = 0
    ), q1 AS MATERIALIZED (
      SELECT id, v FROM e WHERE id % 10 = 1
    ), sc1 AS (
      SELECT q1.id AS qid, s1.id AS nid, s1.lab,
             list_dot_product(q1.v, s1.v)
               / (sqrt(list_dot_product(q1.v, q1.v))
                  * sqrt(list_dot_product(s1.v, s1.v))) AS cos
      FROM q1 JOIN s1 ON q1.id != s1.id
    ), top1 AS (
      SELECT qid, lab FROM (
        SELECT qid, lab,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, nid) AS rnk
        FROM sc1
      ) WHERE rnk <= 5
    ), v1 AS (
      SELECT qid, lab, COUNT(*)::BIGINT AS votes
      FROM top1 GROUP BY 1, 2
    ), a1 AS MATERIALIZED (
      SELECT qid, lab, votes FROM (
        SELECT qid, lab, votes,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY votes DESC, lab) AS rn
        FROM v1
      ) WHERE rn = 1 AND votes >= 2
    ), s2 AS MATERIALIZED (
      SELECT id, v, lab FROM s1
      UNION ALL
      SELECT q1.id, q1.v, a1.lab FROM q1 JOIN a1 ON q1.id = a1.qid
    ), q2 AS MATERIALIZED (
      SELECT id, v FROM q1 WHERE id NOT IN (SELECT qid FROM a1)
    ), sc2 AS (
      SELECT q2.id AS qid, s2.id AS nid, s2.lab,
             list_dot_product(q2.v, s2.v)
               / (sqrt(list_dot_product(q2.v, q2.v))
                  * sqrt(list_dot_product(s2.v, s2.v))) AS cos
      FROM q2 JOIN s2 ON q2.id != s2.id
    ), top2 AS (
      SELECT qid, lab FROM (
        SELECT qid, lab,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, nid) AS rnk
        FROM sc2
      ) WHERE rnk <= 5
    ), v2 AS (
      SELECT qid, lab, COUNT(*)::BIGINT AS votes
      FROM top2 GROUP BY 1, 2
    ), a2 AS (
      SELECT qid, lab, votes FROM (
        SELECT qid, lab, votes,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY votes DESC, lab) AS rn
        FROM v2
      ) WHERE rn = 1 AND votes >= 2
    )
    SELECT qid AS vec_id, lab AS predicted_label, votes,
           1::BIGINT AS round FROM a1
    UNION ALL
    SELECT qid, lab, votes, 2::BIGINT FROM a2
    """,
)
def q_knn_propagate_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round label propagation (round 11,
    :func:`lindel_spark.similarity.propagate_labels_multi`): even
    vec_ids seed, every 10th-plus-one vector is unlabeled; a row
    adopts when >= 2 of its 5 nearest labeled rows agree, adopted rows
    seed round 2. knn_join all-probe keeps both rounds exact, so the
    two-round unrolled DuckDB replay (brute-force scoring, identical
    vote/tie algebra, adopted seeds unioned in) must agree
    bit-for-bit, including the `round` each row adopted in."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    seeds = emb.filter(F.col("vec_id") % 2 == 0)
    probes = emb.filter(F.col("vec_id") % 10 == 1)
    return LS.propagate_labels_multi(seeds, probes, k=5, rounds=2,
                                     min_votes=2, n_centroids=16)


def _bpe_encode_oracle_sql(num_merges: int) -> str:
    """Train-then-apply replay: the unrolled training CTEs of
    :func:`_bpe_oracle_sql` followed by a per-document application of
    the learned merges (nested plain-string replaces over the same
    wrapped rendering) — token counts under the trained tokenizer."""
    sep = "chr(31)"
    train = _bpe_oracle_sql(num_merges, vocab=False)
    head = train[:train.index("\n    SELECT * FROM (")]
    chain = "r"
    for i in range(1, num_merges + 1):
        chain = (f"replace({chain}, {sep} || b{i}.l || {sep} || {sep} "
                 f"|| b{i}.rr || {sep}, "
                 f"{sep} || b{i}.l || b{i}.rr || {sep})")
    froms = ", ".join(f"b{i}" for i in range(1, num_merges + 1))
    return head + f"""
    , docs_pre AS (
      SELECT doc_id, unnest(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS w
      FROM documents
    ), enc1 AS (
      SELECT doc_id,
             regexp_matches(w, '^[A-Za-z]+$') AS alpha,
             regexp_replace(w, '(.)', {sep} || '\\1' || {sep}, 'g') AS r
      FROM docs_pre
    ), enc2 AS (
      SELECT doc_id, alpha, {chain} AS r2
      FROM enc1, {froms}
    ), enc3 AS (
      SELECT doc_id,
             CASE WHEN alpha
                  THEN len(string_split(substring(r2, 2,
                             length(r2) - 2), {sep} || {sep}))
                  ELSE 1 END AS ntok
      FROM enc2
    )
    SELECT d.doc_id::BIGINT AS doc_id,
           COALESCE(SUM(ntok), 0)::BIGINT AS n_bpe_tokens
    FROM documents d LEFT JOIN enc3 ON d.doc_id = enc3.doc_id
    GROUP BY 1"""


@query("text_bpe_encode", _bpe_encode_oracle_sql(_BPE_TRAIN_MERGES))
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the TRAINED tokenizer (round 11,
    :func:`lindel_spark.text.bpe_encode`): train 8 merges on the
    documents corpus, apply them corpus-side (one map-only expression
    chain — the merge table collapses to static literals), return
    per-document BPE token counts. The oracle replays train AND apply
    (unrolled loop + nested replaces) value-for-value — the token
    budget a packing/mixture pipeline would run under the real
    tokenizer instead of the whitespace proxy."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    merges = LT.bpe_train(docs, "text", num_merges=_BPE_TRAIN_MERGES)
    return LT.bpe_encode(docs, merges).select("doc_id", "n_bpe_tokens")


@query(
    "graph_triangle_counts",
    """
    WITH pp AS (
      SELECT DISTINCT a.l_partkey::BIGINT AS a, b.l_partkey::BIGINT AS b
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    ), w AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM pp e1 JOIN pp e2 ON e1.b = e2.a
    ), t AS (
      SELECT x, y, z FROM w JOIN pp ON pp.a = w.x AND pp.b = w.z
    ), c AS (
      SELECT x AS node FROM t
      UNION ALL SELECT y FROM t
      UNION ALL SELECT z FROM t
    )
    SELECT node, COUNT(*)::BIGINT AS triangles FROM c GROUP BY 1
    """,
)
def q_graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (round 11,
    :func:`lindel_spark.graph.triangle_count`) over the co-purchase
    graph — parts sharing an order are connected; a part's triangle
    count is its clustering signal (how much its co-purchase
    neighborhood buys together). Ordered-wedge join: two hash joins,
    each triangle found exactly once, exact integers — DuckDB replays
    the same algebra."""
    from lindel_spark.graph import triangle_count
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok")
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    return triangle_count(edges)


# MATERIALIZED: the k-core oracle references adj twice per unrolled
# round (plain CTEs are INLINED by DuckDB, so 4 rounds re-derived the
# lineitem self-join ~9x and the concurrent spills exhausted the disk
# at sf1 - the same exponential-inlining lesson as the HITS oracle)
_KCORE_EDGE_SQL = """
    pp AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey::BIGINT AS a, b.l_partkey::BIGINT AS b
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    ),
    adj AS MATERIALIZED (
      SELECT a AS u, b AS v FROM pp
      UNION ALL SELECT b AS u, a AS v FROM pp
    )"""


@query(
    "graph_degree_profile",
    f"""
    WITH {_KCORE_EDGE_SQL},
    d AS (SELECT u, COUNT(*)::BIGINT AS degree FROM adj GROUP BY u)
    SELECT degree, COUNT(*)::BIGINT AS n_nodes,
           (COUNT(*) * degree * (degree - 1) // 2)::BIGINT AS wedges
    FROM d GROUP BY degree
    """,
)
def q_graph_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution pre-flight (round 12,
    :func:`lindel_spark.graph.degree_profile`) over the co-purchase
    graph: per-degree node counts plus each class's middle-node wedge
    volume — the cost driver of triangle/wedge plans. Pairs with
    ``knn_ivf_health`` as the graph tier's balance audit."""
    from lindel_spark.graph import degree_profile
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok")
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    return degree_profile(edges)


def _kcore_oracle(rounds: int) -> str:
    """Unrolled bounded-round k-core peel (k = floored median degree,
    so the query is scale-adaptive across sf0.01/0.1/1 — degree grows
    ~10× per scale step and a constant k would peel everything or
    nothing)."""
    ctes = [f"""
    d0 AS (SELECT u, COUNT(*)::BIGINT AS degree FROM adj GROUP BY u),
    kk AS (SELECT CAST(floor(percentile_cont(0.5)
                  WITHIN GROUP (ORDER BY degree) * 0.7) AS BIGINT) AS k
           FROM d0),
    a0 AS (SELECT u FROM d0, kk WHERE degree >= kk.k)"""]
    for r in range(1, rounds):
        ctes.append(f"""
    d{r} AS (SELECT adj.u, COUNT(*)::BIGINT AS degree
             FROM adj
             JOIN a{r - 1} x ON adj.u = x.u
             JOIN a{r - 1} y ON adj.v = y.u
             GROUP BY adj.u),
    a{r} AS (SELECT u FROM d{r}, kk WHERE degree >= kk.k)""")
    last = rounds - 1
    return f"""
    WITH {_KCORE_EDGE_SQL},{",".join(ctes)}
    SELECT d{last}.u AS node, d{last}.degree
    FROM d{last}, kk WHERE d{last}.degree >= kk.k
    """


@query("graph_kcore", _kcore_oracle(rounds=4))
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round k-core peel (round 12,
    :func:`lindel_spark.graph.kcore`) of the co-purchase graph at
    k = floor(0.7 × median degree) (computed identically on BOTH
    engines, so the query self-adapts across scales; 0.7 keeps k
    below the random-graph collapse threshold — at the raw median the
    whole graph peels to nothing): 4 synchronous
    Batagelj–Zaveršnik peeling rounds, each two alive-set semi-joins
    + one keyed degree count — the density audit for the graph tier
    (which parts sit in the stable co-purchase backbone). Fixed
    rounds = unrolled-CTE DuckDB replay, the pagerank contract."""
    from lindel_spark.graph import kcore
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok")
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    deg = (edges.select(F.col("src").alias("n"))
           .unionAll(edges.select(F.col("dst").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    k = int(deg.agg(F.expr("floor(percentile(d, 0.5) * 0.7)")).first()[0])
    return kcore(edges, k=k, rounds=4)


@query(
    "text_tfidf_store",
    """
    WITH norm AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '') AS toks
      FROM documents
    ),
    postings AS (
      SELECT doc_id, term, COUNT(*)::BIGINT AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM norm)
      GROUP BY doc_id, term
    ),
    dfs AS (
      SELECT term, COUNT(*)::BIGINT AS df FROM postings GROUP BY term
    ),
    n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
    scored AS (
      SELECT p.doc_id, p.term,
             p.tf::DOUBLE * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0)
               AS score
      FROM postings p JOIN dfs d USING (term) CROSS JOIN n
    )
    SELECT doc_id::BIGINT AS doc_id, rank::BIGINT AS rank, term,
           round(score, 4) AS score_r4
    FROM (SELECT doc_id, term, score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term) AS rank
          FROM scored)
    WHERE rank <= 3
    """,
)
def q_text_tfidf_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keywords served from the PERSISTED retrieval index
    (round 11, :func:`lindel_spark.retrieval.tfidf_topk_store`): the
    same store text_bm25_store exercises (init 2/3 + incremental
    append 1/3) answers keyword extraction from stored postings +
    stored (term, df) + the stored raw doc count — the other
    recompute-per-call consumer the round-10 verdict named. Oracle =
    the fresh-computation text_tfidf_topk SQL: store ≡ fresh."""
    import tempfile

    from lindel_spark import retrieval as LR

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    store = os.path.join(
        tempfile.mkdtemp(prefix="lindel_tfidf_store_"), "idx")
    LR.bm25_index_init(docs.filter(F.col("doc_id") % 3 != 0), store)
    LR.bm25_index_append(docs.filter(F.col("doc_id") % 3 == 0), store)
    out = LR.tfidf_topk_store(spark, store, k=3)
    return out.select(
        "doc_id", F.col("rank").cast("long").alias("rank"), "term",
        F.round("score", 4).alias("score_r4"))


@query(
    "sketch_kll_by_type",
    """
    WITH keyed AS (
      SELECT event_type, CAST(value AS DOUBLE) AS v,
             CAST(('0x' || substr(md5('kll' || '|'
                    || CAST(event_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM events WHERE value IS NOT NULL
    ), lv AS (
      SELECT event_type, v,
             CASE WHEN h = 0 THEN 40
                  ELSE LEAST(40, CAST(round(log2(h & -h)) AS BIGINT))
             END AS lvl
      FROM keyed
    ), cnt AS (
      SELECT event_type, COUNT(*) AS n FROM lv GROUP BY 1
    ), lev AS (
      SELECT j, 1024 * (CAST(1 AS BIGINT) << CAST(j AS INT)) AS cap_at
      FROM range(0, 41) t(j)
    ), th AS (
      SELECT event_type, MIN(j) AS j
      FROM cnt JOIN lev ON cnt.n <= lev.cap_at GROUP BY 1
    ), s AS (
      SELECT lv.event_type, v
      FROM lv JOIN th USING (event_type) WHERE lvl >= th.j
    ), ranked AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM s
    ), q AS (
      SELECT CAST(q AS DOUBLE) AS q
      FROM (VALUES (0.25), (0.5), (0.95), (0.99)) t(q)
    )
    SELECT r.event_type, q.q AS q, r.v AS est
    FROM q JOIN ranked r
      ON r.rn = CAST(ceil(q.q * r.m) AS BIGINT)
    """,
)
def q_sketch_kll_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type quantiles off a GROUPED bound-free KLL-style
    sketch (round 11, :func:`lindel_spark.sketch.kll_sketch_grouped`):
    unlike sketch_quantiles_by_type's fixed [lo, hi] grid this needs
    NO prior bounds, and the per-group threshold resolves in-plan
    (broadcast 41-row levels join on the exact integer inequality —
    zero driver scalars, so a million groups cost the same plan).
    DuckDB replays sample membership and the type-1 reads
    bit-for-bit."""
    from lindel_spark import sketch as SK

    ev = _events(spark, sf_dir)
    sk = SK.kll_sketch_grouped(ev, "event_type", "value",
                               ["event_id"], capacity=1024)
    return SK.kll_quantiles_grouped(
        sk, "event_type", [0.25, 0.5, 0.95, 0.99])


@query(
    "zorder_store_delete_cycle",
    """
    SELECT COUNT(*)::BIGINT AS n_rows,
           SUM(l_orderkey)::BIGINT AS sum_ok,
           SUM(l_partkey)::BIGINT AS sum_pk,
           COUNT(DISTINCT l_orderkey)::BIGINT AS n_orders
    FROM lineitem WHERE l_orderkey % 7 != 3
    """,
)
def q_zorder_store_delete_cycle(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Row-level delete lifecycle (round 11,
    :func:`lindel_spark.write.zorder_store_delete`): init a clustered
    base from 80% of lineitem, fast-append the rest, TOMBSTONE every
    ``l_orderkey % 7 == 3`` key (append-only parquet write, no data
    rewrite, immediately visible to every read path), then force a
    maintenance rewrite (tombstones always make the rewrite
    worthwhile — the physical purge is the point) and aggregate the
    store. The oracle recomputes from the raw table with the same
    key filter — delete + purge is exact end to end."""
    import tempfile

    from lindel_spark import write as LWR

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    store = os.path.join(
        tempfile.mkdtemp(prefix="lindel_zdel_"), "s")
    cols = [F.col("l_orderkey").cast("int"),
            F.col("l_partkey").cast("int")]
    LWR.zorder_store_init(li.filter("l_orderkey % 5 != 0"), cols,
                          store, stat_cols=["l_orderkey"],
                          elem="int32", num_files=8)
    LWR.zorder_store_append(li.filter("l_orderkey % 5 = 0"), store)
    victims = li.filter("l_orderkey % 7 = 3") \
        .select("l_orderkey").distinct()
    LWR.zorder_store_delete(spark, store, "l_orderkey", victims)
    st = LWR.zorder_store_maintain(spark, store, cols,
                                   tail_ratio=100.0, elem="int32",
                                   num_files=8)
    assert st["rewritten"], "tombstones must force the rewrite"
    out = LWR.zorder_store_read(spark, store)
    return out.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("l_orderkey").cast("long").alias("sum_ok"),
        F.sum("l_partkey").cast("long").alias("sum_pk"),
        F.countDistinct("l_orderkey").cast("long").alias("n_orders"))


@query(
    "profile_column_entropy",
    """
    WITH long AS (
      SELECT 'c_mktsegment' AS col, CAST(c_mktsegment AS VARCHAR) AS v
      FROM customer
      UNION ALL
      SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer
      UNION ALL
      SELECT 'c_acctbal', CAST(c_acctbal AS VARCHAR) FROM customer
    ), counts AS (
      SELECT col, v, COUNT(*)::BIGINT AS cnt
      FROM long WHERE v IS NOT NULL GROUP BY 1, 2
    ), per_col AS (
      SELECT col, SUM(cnt)::BIGINT AS n_values,
             COUNT(*)::BIGINT AS n_distinct,
             ln(SUM(cnt)::DOUBLE)
               - SUM(cnt::DOUBLE * ln(cnt::DOUBLE)) / SUM(cnt)::DOUBLE
               AS entropy
      FROM counts GROUP BY 1
    ), top AS (
      SELECT col, v AS top_value, cnt AS top_cnt FROM (
        SELECT col, v, cnt,
               row_number() OVER (PARTITION BY col
                                  ORDER BY cnt DESC, v) AS rn
        FROM counts
      ) WHERE rn = 1
    )
    SELECT p.col AS column, n_values, n_distinct,
           round(entropy, 6) AS entropy_r6, top_value, top_cnt,
           round(top_cnt::DOUBLE / n_values::DOUBLE, 9) AS top_share_r9
    FROM per_col p JOIN top USING (col)
    """,
)
def q_profile_column_entropy(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Value-distribution audit (round 11,
    :func:`lindel_spark.profile.column_entropy_profile`): Shannon
    entropy, distinct counts and top-value share for three customer
    columns — the skew/degeneracy screen a pipeline runs before
    trusting a column as a key or feature. Counts exact; entropy's
    single ``ln`` rounded to 6dp on both engines."""
    from lindel_spark.profile import column_entropy_profile

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    out = column_entropy_profile(
        cust, ["c_mktsegment", "c_nationkey", "c_acctbal"])
    return out.select(
        "column", "n_values", "n_distinct",
        F.round("entropy", 6).alias("entropy_r6"),
        "top_value", "top_cnt",
        F.round("top_share", 9).alias("top_share_r9"))


@query(
    "profile_drift_report",
    """
    WITH lref AS (
      SELECT col, v FROM (
        SELECT 'value' AS col, value::DOUBLE AS v FROM events
        WHERE event_id % 2 = 0
        UNION ALL
        SELECT 'user_id', user_id::DOUBLE FROM events
        WHERE event_id % 2 = 0
      ) WHERE v IS NOT NULL
    ), lcur AS (
      SELECT col, v FROM (
        SELECT 'value' AS col, value::DOUBLE AS v FROM events
        WHERE event_id % 2 = 1
        UNION ALL
        SELECT 'user_id', user_id::DOUBLE FROM events
        WHERE event_id % 2 = 1
      ) WHERE v IS NOT NULL
    ), stats AS (
      SELECT col, MIN(v) AS lo, MAX(v) AS hi FROM lref GROUP BY col
    ), rb AS (
      SELECT l.col,
             CASE WHEN s.hi = s.lo THEN 0
                  ELSE LEAST(9, GREATEST(0,
                    CAST(FLOOR((l.v - s.lo) / ((s.hi - s.lo) / 10.0))
                         AS INT))) END AS bin,
             COUNT(*)::BIGINT AS ref_cnt
      FROM lref l JOIN stats s USING (col) GROUP BY 1, 2
    ), cb AS (
      SELECT l.col,
             CASE WHEN s.hi = s.lo THEN 0
                  ELSE LEAST(9, GREATEST(0,
                    CAST(FLOOR((l.v - s.lo) / ((s.hi - s.lo) / 10.0))
                         AS INT))) END AS bin,
             COUNT(*)::BIGINT AS cur_cnt
      FROM lcur l JOIN stats s USING (col) GROUP BY 1, 2
    ), both_b AS (
      SELECT COALESCE(rb.col, cb.col) AS col,
             COALESCE(rb.bin, cb.bin) AS bin,
             COALESCE(ref_cnt, 0) AS ref_cnt,
             COALESCE(cur_cnt, 0) AS cur_cnt
      FROM rb FULL OUTER JOIN cb ON rb.col = cb.col AND rb.bin = cb.bin
    ), totals AS (
      SELECT col, SUM(ref_cnt)::BIGINT AS n_ref,
             SUM(cur_cnt)::BIGINT AS n_cur
      FROM both_b GROUP BY col
    ), terms AS (
      SELECT b.col, t.n_ref, t.n_cur,
             ((cur_cnt::DOUBLE + 0.5) / (n_cur::DOUBLE + 5.0)
              - (ref_cnt::DOUBLE + 0.5) / (n_ref::DOUBLE + 5.0))
             * (ln((cur_cnt::DOUBLE + 0.5) / (n_cur::DOUBLE + 5.0))
                - ln((ref_cnt::DOUBLE + 0.5) / (n_ref::DOUBLE + 5.0)))
               AS psi_term,
             ((ref_cnt::DOUBLE + 0.5) / (n_ref::DOUBLE + 5.0))
             * (ln((ref_cnt::DOUBLE + 0.5) / (n_ref::DOUBLE + 5.0))
                - ln((cur_cnt::DOUBLE + 0.5) / (n_cur::DOUBLE + 5.0)))
               AS kl_term
      FROM both_b b JOIN totals t USING (col)
    )
    SELECT col AS "column", n_ref, n_cur,
           round(SUM(psi_term), 6) AS psi_r6,
           round(SUM(kl_term), 6) AS kl_r6
    FROM terms GROUP BY 1, 2, 3
    """,
)
def q_profile_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset drift audit (round 11,
    :func:`lindel_spark.profile.distribution_drift`): PSI + KL per
    column between two snapshot halves of the events table
    (even/odd ``event_id`` — a same-distribution pair, so the
    expected reading is "stable"), 10 reference-anchored equi-width
    bins, Laplace-smoothed shares. Every term is closed-form algebra
    over integer bin counts; the two ``ln`` calls round at 6dp."""
    from lindel_spark.profile import distribution_drift

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ref = ev.filter(F.col("event_id") % 2 == 0)
    cur = ev.filter(F.col("event_id") % 2 == 1)
    out = distribution_drift(ref, cur, ["value", "user_id"], bins=10)
    return out.select("column", "n_ref", "n_cur",
                      F.round("psi", 6).alias("psi_r6"),
                      F.round("kl", 6).alias("kl_r6"))


@query(
    "profile_l_diversity",
    """
    SELECT c_mktsegment, c_nationkey::BIGINT AS c_nationkey,
           COUNT(*)::BIGINT AS group_n,
           COUNT(DISTINCT c_acctbal)::BIGINT AS n_sensitive,
           COUNT(DISTINCT c_acctbal) >= 3 AS diverse
    FROM customer
    GROUP BY 1, 2
    """,
)
def q_profile_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (round 11,
    :func:`lindel_spark.profile.l_diversity_report`): per
    (mktsegment, nationkey) equivalence class, the class size and the
    distinct count of the sensitive attribute (acctbal) with the
    l=3 release flag — the disclosure screen k-anonymity's size-only
    check misses. Exact integers end to end."""
    from lindel_spark.profile import l_diversity_report

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    out = l_diversity_report(
        cust, ["c_mktsegment", "c_nationkey"], "c_acctbal", l=3)
    return out.select("c_mktsegment",
                      F.col("c_nationkey").cast("long")
                      .alias("c_nationkey"),
                      "group_n", "n_sensitive", "diverse")


@query(
    "graph_bfs_hops",
    """
    WITH RECURSIVE pp AS (
      SELECT DISTINCT a.l_partkey::BIGINT AS s, b.l_partkey::BIGINT AS d
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    ), e AS (
      SELECT s, d FROM pp UNION SELECT d, s FROM pp
    ), srcs AS (
      SELECT DISTINCT l_partkey::BIGINT AS node FROM lineitem
      WHERE l_partkey % 50 = 0
    ), walk(node, dist) AS (
      SELECT node, 0 FROM srcs
      UNION
      SELECT e.d, w.dist + 1
      FROM walk w JOIN e ON e.s = w.node
      WHERE w.dist < 2
    )
    SELECT node, MIN(dist)::INT AS dist FROM walk GROUP BY node
    """,
)
def q_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source bounded BFS (round 11,
    :func:`lindel_spark.graph.bfs_distances`): minimum hop distance
    from the ``l_partkey % 50 == 0`` seed parts over the undirected
    co-purchase graph, 2 hops — the "within-N-links of a trusted
    seed" neighborhood query. DuckDB replays it as bounded-depth
    recursive reachability with a min aggregate; exact integers."""
    from lindel_spark.graph import bfs_distances

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok")
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    srcs = (li.filter(F.col("l_partkey") % 50 == 0)
            .select(F.col("l_partkey").cast("long").alias("node"))
            .distinct())
    return bfs_distances(edges, srcs, max_hops=2)


@query(
    "graph_sssp_copurchase",
    """
    WITH pp AS MATERIALIZED (
      SELECT a.l_partkey::BIGINT AS s, b.l_partkey::BIGINT AS d,
             COUNT(*)::BIGINT AS cnt
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ), e AS MATERIALIZED (
      SELECT s, d, 1.0::DOUBLE / cnt AS w FROM pp
      UNION ALL
      SELECT d, s, 1.0::DOUBLE / cnt FROM pp
    ), srcs AS MATERIALIZED (
      SELECT DISTINCT l_partkey::BIGINT AS node FROM lineitem
      WHERE l_partkey % 50 = 0
    ), d0 AS MATERIALIZED (
      SELECT node, 0.0::DOUBLE AS dist FROM srcs
    ), d1 AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d0
        UNION ALL
        SELECT e.d AS node, d0.dist + e.w AS dist
        FROM d0 JOIN e ON e.s = d0.node
      ) GROUP BY node
    ), d2 AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d1
        UNION ALL
        SELECT e.d AS node, d1.dist + e.w AS dist
        FROM d1 JOIN e ON e.s = d1.node
      ) GROUP BY node
    ), d3 AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d2
        UNION ALL
        SELECT e.d AS node, d2.dist + e.w AS dist
        FROM d2 JOIN e ON e.s = d2.node
      ) GROUP BY node
    )
    SELECT node, round(dist, 6) AS dist_r6 FROM d3
    """,
)
def q_graph_sssp_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round weighted SSSP (round 13,
    :func:`lindel_spark.graph.sssp_distances`): minimum-cost distance
    from the ``l_partkey % 50 == 0`` seed parts over the co-purchase
    graph weighted ``1 / cnt`` (strongly co-purchased = close), 3
    relaxation rounds — "how tightly is this part tied to a seed"
    with tie STRENGTH, where :func:`bfs_distances` only counts hops.
    DuckDB replays the synchronous Bellman–Ford rounds as three
    unrolled MIN-relax CTEs (MATERIALIZED — the r12 kcore lesson:
    inlined shared CTEs re-evaluate exponentially); Spark's
    frontier-pruned form is value-identical to full relaxation
    because a non-improved node already contributed its
    out-relaxations the round it last improved. Double sums are
    structurally identical per path on both engines; 6dp."""
    from lindel_spark.graph import sssp_distances

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok")
             .filter(F.col("src") < F.col("dst"))
             .groupBy("src", "dst")
             .agg(F.count(F.lit(1)).alias("cnt"))
             .select("src", "dst",
                     (F.lit(1.0) / F.col("cnt")).alias("weight")))
    srcs = (li.filter(F.col("l_partkey") % 50 == 0)
            .select(F.col("l_partkey").cast("long").alias("node"))
            .distinct())
    out = sssp_distances(edges, srcs, rounds=3)
    return out.select("node", F.round("dist", 6).alias("dist_r6"))


@query(
    "graph_betweenness",
    """
    WITH pp AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey::BIGINT AS s, b.l_partkey::BIGINT AS d
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    ), e AS MATERIALIZED (
      SELECT s, d FROM pp UNION SELECT d, s FROM pp
    ), srcs AS MATERIALIZED (
      SELECT DISTINCT l_partkey::BIGINT AS node FROM lineitem
      WHERE l_partkey % 500 = 0
    ), b0 AS MATERIALIZED (
      SELECT node AS s, node, 1::BIGINT AS sigma FROM srcs
    ), l1 AS MATERIALIZED (
      SELECT c.s, c.node, c.sigma FROM (
        SELECT b0.s, e.d AS node, SUM(b0.sigma)::BIGINT AS sigma
        FROM b0 JOIN e ON e.s = b0.node GROUP BY 1, 2
      ) c
      WHERE NOT EXISTS (SELECT 1 FROM b0
                        WHERE b0.s = c.s AND b0.node = c.node)
    ), l2 AS MATERIALIZED (
      SELECT c.s, c.node, c.sigma FROM (
        SELECT l1.s, e.d AS node, SUM(l1.sigma)::BIGINT AS sigma
        FROM l1 JOIN e ON e.s = l1.node GROUP BY 1, 2
      ) c
      WHERE NOT EXISTS (SELECT 1 FROM b0
                        WHERE b0.s = c.s AND b0.node = c.node)
        AND NOT EXISTS (SELECT 1 FROM l1
                        WHERE l1.s = c.s AND l1.node = c.node)
    ), d1 AS MATERIALIZED (
      SELECT w.s, v.node AS node,
             SUM(v.sigma::DOUBLE / w.sigma::DOUBLE
                 ORDER BY w.node) AS delta
      FROM l2 w
      JOIN e ON e.d = w.node
      JOIN l1 v ON v.s = w.s AND v.node = e.s
      GROUP BY 1, 2
    ), reached AS MATERIALIZED (
      SELECT l1.s, l1.node, COALESCE(d1.delta, 0.0) AS delta
      FROM l1 LEFT JOIN d1 ON d1.s = l1.s AND d1.node = l1.node
      UNION ALL
      SELECT s, node, 0.0 FROM l2
    )
    SELECT node, round(SUM(delta ORDER BY s), 6) AS bc_r6
    FROM reached WHERE node != s GROUP BY node
    """,
)
def q_graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source betweenness centrality (round 14,
    :func:`lindel_spark.graph.betweenness_centrality`): summed
    Brandes dependency of every part over shortest co-purchase paths
    of <= 2 hops from the ``l_partkey % 500 == 0`` source sample —
    "which parts broker the co-purchase graph", the
    shortest-path-centrality leg the reachability (bfs/sssp) and
    importance (pagerank) tiers don't answer. DuckDB replays the
    forward BFS-with-path-counting levels as anti-joined unrolled
    CTEs and the backward dependency pass as one level join; the
    per-(s,v) successor sum and the final per-node source sum fold in
    NEIGHBOR/SOURCE order on both engines (``sort_array`` fold <->
    ``SUM(... ORDER BY ...)`` — the kruskal_wallis double-addition
    lesson); 6dp."""
    from lindel_spark.graph import betweenness_centrality

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok")
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    srcs = (li.filter(F.col("l_partkey") % 500 == 0)
            .select(F.col("l_partkey").cast("long").alias("node"))
            .distinct())
    out = betweenness_centrality(edges, srcs, max_depth=2)
    return out.select("node",
                      F.round("betweenness", 6).alias("bc_r6"))


@query(
    "graph_harmonic",
    """
    WITH pp AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey::BIGINT AS s, b.l_partkey::BIGINT AS d
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    ), e AS MATERIALIZED (
      SELECT s, d FROM pp UNION SELECT d, s FROM pp
    ), srcs AS MATERIALIZED (
      SELECT DISTINCT l_partkey::BIGINT AS node FROM lineitem
      WHERE l_partkey % 200 = 0
    ), b0 AS MATERIALIZED (
      SELECT node AS s, node FROM srcs
    ), l1 AS MATERIALIZED (
      SELECT c.s, c.node FROM (
        SELECT DISTINCT b0.s, e.d AS node
        FROM b0 JOIN e ON e.s = b0.node
      ) c
      WHERE NOT EXISTS (SELECT 1 FROM b0
                        WHERE b0.s = c.s AND b0.node = c.node)
    ), l2 AS MATERIALIZED (
      SELECT c.s, c.node FROM (
        SELECT DISTINCT l1.s, e.d AS node
        FROM l1 JOIN e ON e.s = l1.node
      ) c
      WHERE NOT EXISTS (SELECT 1 FROM b0
                        WHERE b0.s = c.s AND b0.node = c.node)
        AND NOT EXISTS (SELECT 1 FROM l1
                        WHERE l1.s = c.s AND l1.node = c.node)
    ), cnts AS MATERIALIZED (
      SELECT node, dist, COUNT(*)::BIGINT AS c FROM (
        SELECT s, node, 1 AS dist FROM l1
        UNION ALL
        SELECT s, node, 2 AS dist FROM l2
      ) GROUP BY 1, 2
    )
    SELECT node,
           round(SUM(c::DOUBLE / dist::DOUBLE ORDER BY dist), 6)
             AS h_r6
    FROM cnts GROUP BY node
    """,
)
def q_graph_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source harmonic centrality (round 14,
    :func:`lindel_spark.graph.harmonic_centrality`): Σ 1/d(s, part)
    over the ``l_partkey % 200 == 0`` source sample within 2
    co-purchase hops — the proximity complement to
    ``graph_betweenness``'s brokerage, well-defined on the
    disconnected co-purchase graph (unreachable pairs contribute 0).
    The score collapses to exact per-(node, dist) source COUNTS;
    the only doubles are the ≤ 2 final additions, folded in
    ascending-distance order on both engines; 6dp."""
    from lindel_spark.graph import harmonic_centrality

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok")
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    srcs = (li.filter(F.col("l_partkey") % 200 == 0)
            .select(F.col("l_partkey").cast("long").alias("node"))
            .distinct())
    out = harmonic_centrality(edges, srcs, max_depth=2)
    return out.select("node", F.round("harmonic", 6).alias("h_r6"))


@query(
    "events_friedman",
    """
    WITH m AS MATERIALIZED (
      SELECT user_id AS b, event_type AS t, COUNT(*)::DOUBLE AS v
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), kk AS MATERIALIZED (
      SELECT COUNT(DISTINCT t)::BIGINT AS k FROM m
    ), cb AS MATERIALIZED (
      SELECT b FROM m GROUP BY b
      HAVING COUNT(*) = (SELECT k FROM kk)
    ), r AS MATERIALIZED (
      SELECT m.b, m.t,
             2 * rank() OVER (PARTITION BY m.b ORDER BY m.v)
               + COUNT(*) OVER (PARTITION BY m.b, m.v) - 1 AS m2
      FROM m JOIN cb ON cb.b = m.b
    ), pt AS MATERIALIZED (
      SELECT t, SUM(m2)::HUGEINT AS r2,
             SUM(m2::HUGEINT * m2::HUGEINT)::HUGEINT AS a4,
             COUNT(*)::BIGINT AS n
      FROM r GROUP BY t
    ), dims AS MATERIALIZED (
      SELECT COUNT(*)::BIGINT AS k, MAX(n)::BIGINT AS n,
             SUM(a4)::DOUBLE AS a4
      FROM pt
    ), sq AS MATERIALIZED (
      SELECT SUM((pt.r2::DOUBLE / 2.0
                  - dims.n::DOUBLE * (dims.k::DOUBLE + 1.0) / 2.0)
                 * (pt.r2::DOUBLE / 2.0
                    - dims.n::DOUBLE * (dims.k::DOUBLE + 1.0) / 2.0)
                 ORDER BY pt.t) AS s
      FROM pt CROSS JOIN dims
    )
    SELECT dims.n AS n_blocks, dims.k AS k,
           round(CASE WHEN dims.a4 / 4.0
                        - dims.n::DOUBLE * dims.k::DOUBLE
                          * (dims.k::DOUBLE + 1.0)
                          * (dims.k::DOUBLE + 1.0) / 4.0 > 0
                 THEN (dims.k::DOUBLE - 1.0) * sq.s
                      / (dims.a4 / 4.0
                         - dims.n::DOUBLE * dims.k::DOUBLE
                           * (dims.k::DOUBLE + 1.0)
                           * (dims.k::DOUBLE + 1.0) / 4.0)
                 END, 6) AS q_r6
    FROM dims CROSS JOIN sq
    """,
)
def q_events_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman repeated-measures test (round 14,
    :func:`lindel_spark.profile.friedman_test`): "does per-user
    event FREQUENCY differ across the 5 event types?" — block =
    user, treatment = event type, measurement = the (user, type)
    event count. Counts are exact integers, so the within-block
    midranks are engine-identical by construction (the
    events_wilcoxon_paired precedent); only users with all 5 types
    enter (complete blocks, the design requirement). DuckDB replays
    the block-partitioned midrank window, the DECIMAL↔HUGEINT rank
    sums, and the treatment-ordered Σ_j fold; 6dp."""
    from lindel_spark.profile import friedman_test
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    m = (ev.filter(F.col("user_id").isNotNull()
                   & F.col("event_type").isNotNull())
         .groupBy(F.col("user_id").alias("b"),
                  F.col("event_type").alias("t"))
         .agg(F.count(F.lit(1)).cast("double").alias("v")))
    out = friedman_test(m, "b", "t", "v")
    return out.select("n_blocks", "k",
                      F.round("q", 6).alias("q_r6"))


@query(
    "graph_assortativity",
    """
    WITH pp AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey::BIGINT AS s, b.l_partkey::BIGINT AS d
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    ), e AS MATERIALIZED (
      SELECT s, d FROM pp UNION SELECT d, s FROM pp
    ), deg AS MATERIALIZED (
      SELECT s AS node, COUNT(*)::BIGINT AS deg FROM e GROUP BY s
    ), de AS MATERIALIZED (
      SELECT dx.deg::HUGEINT AS x, dy.deg::HUGEINT AS y
      FROM e
      JOIN deg dx ON dx.node = e.s
      JOIN deg dy ON dy.node = e.d
    ), agg AS (
      SELECT COUNT(*)::BIGINT AS m,
             SUM(x)::HUGEINT AS sx, SUM(y)::HUGEINT AS sy,
             SUM(x*y)::HUGEINT AS sxy,
             SUM(x*x)::HUGEINT AS sxx, SUM(y*y)::HUGEINT AS syy
      FROM de
    )
    SELECT m AS n_edges,
           round((m::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                 / sqrt((m::DOUBLE * sxx::DOUBLE
                         - sx::DOUBLE * sx::DOUBLE)
                        * (m::DOUBLE * syy::DOUBLE
                           - sy::DOUBLE * sy::DOUBLE)), 6) AS r_r6
    FROM agg
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Degree assortativity (round 14,
    :func:`lindel_spark.graph.degree_assortativity`): does the
    co-purchase graph mix hub-to-hub or hub-to-leaf? One scalar over
    the symmetrized edge list; every moment is an exact integer
    degree-product sum (DECIMAL ↔ HUGEINT), so r is a ratio of
    exact integers and replays engine-exactly; 6dp."""
    from lindel_spark.graph import degree_assortativity

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok")
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    out = degree_assortativity(edges)
    return out.select("n_edges", F.round("r", 6).alias("r_r6"))


@query(
    "events_dunn_posthoc",
    """
    WITH pairs AS (
      SELECT value::DOUBLE AS v, event_type AS g FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), vg AS (
      SELECT v, g, COUNT(*)::BIGINT AS cg FROM pairs GROUP BY v, g
    ), vc AS (
      SELECT v, SUM(cg)::BIGINT AS cnt FROM vg GROUP BY v
    ), cum AS (
      SELECT v, cnt,
             SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumc
      FROM vc
    ), tot AS (
      SELECT SUM(cnt)::BIGINT AS n,
             SUM(cnt::HUGEINT*cnt::HUGEINT*cnt::HUGEINT
                 - cnt::HUGEINT)::HUGEINT AS tie3
      FROM cum
    ), per_g AS (
      SELECT vg.g, SUM(vg.cg)::BIGINT AS ng,
             SUM(vg.cg::HUGEINT
                 * (2*cum.cumc - cum.cnt + 1)::HUGEINT)::HUGEINT
               AS rg2
      FROM vg JOIN cum ON cum.v = vg.v
      GROUP BY vg.g
    ), pp AS (
      SELECT a.g AS g1, b.g AS g2, a.ng AS n1, b.ng AS n2,
             a.rg2 AS r1, b.rg2 AS r2, tot.n, tot.tie3
      FROM per_g a JOIN per_g b ON a.g < b.g CROSS JOIN tot
    ), zz AS (
      SELECT g1, g2, n1, n2,
        (r1::DOUBLE / 2.0 / n1::DOUBLE
         - r2::DOUBLE / 2.0 / n2::DOUBLE)
        / sqrt((n::DOUBLE * (n::DOUBLE + 1.0) / 12.0
                - tie3::DOUBLE / (12.0 * (n::DOUBLE - 1.0)))
               * (1.0/n1::DOUBLE + 1.0/n2::DOUBLE)) AS z
      FROM pp
    ), tx AS (
      SELECT g1, g2, n1, n2, z,
             1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t,
             abs(z) / sqrt(2.0) AS x
      FROM zz
    ), pv AS (
      SELECT g1, g2, n1, n2, z,
             least(1.0, 2.0 * 0.5 * (1.0 - (1.0 - (t * (0.254829592
               + t * (-0.284496736 + t * (1.421413741
               + t * (-1.453152027 + t * 1.061405429)))))
               * exp(-(x * x))))) AS p
      FROM tx
    ), ranked AS (
      SELECT p, COUNT(*)::BIGINT AS c FROM pv
      WHERE p IS NOT NULL GROUP BY p
    ), r2 AS (
      SELECT p,
             SUM(c) OVER (ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS maxrank,
             (SELECT SUM(c) FROM ranked) AS ntests
      FROM ranked
    ), qs AS (
      SELECT p,
             least(1.0, MIN(p * ntests::DOUBLE / maxrank::DOUBLE)
               OVER (ORDER BY p DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS q
      FROM r2
    )
    SELECT pv.g1, pv.g2, pv.n1, pv.n2,
           round(pv.z, 6) AS z_r6, round(pv.p, 6) AS p_r6,
           round(qs.q, 6) AS q_r6
    FROM pv LEFT JOIN qs ON qs.p = pv.p
    """,
)
def q_events_dunn_posthoc(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons (round 14,
    :func:`lindel_spark.profile.dunn_posthoc`): after
    ``events_kruskal_wallis`` says "some event type differs in
    value", this says WHICH — all 10 type pairs, tie-corrected
    global-midrank z, A-S polynomial p, Benjamini–Hochberg q across
    the pairs (reading 10 tests at once without FDR control would
    fake discoveries). Every term is a ratio of exact integers
    through the KW midrank machinery; the polynomial and BH replay
    bit-for-bit (the events_mwu_pvalue / parts_bh_fdr precedents);
    6dp."""
    from lindel_spark.profile import dunn_posthoc
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    out = dunn_posthoc(ev, "value", "event_type")
    return out.select(
        "g1", "g2", "n1", "n2",
        F.round("z", 6).alias("z_r6"),
        F.round("p", 6).alias("p_r6"),
        F.round("q", 6).alias("q_r6"))


@query(
    "events_linear_probe",
    """
    WITH base AS MATERIALIZED (
      SELECT value::DOUBLE AS y,
             EXTRACT(hour FROM ts)::DOUBLE AS x0,
             (user_id % 7)::DOUBLE AS x1
      FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL
        AND user_id IS NOT NULL
    ), mm AS MATERIALIZED (
      SELECT COUNT(*)::BIGINT AS n, SUM(y) AS sy, SUM(y*y) AS syy,
             SUM(x0) AS sx0, SUM(x0*y) AS sx0y, SUM(x0*x0) AS sx0x0,
             SUM(x0*x1) AS sx0x1, SUM(x1) AS sx1, SUM(x1*y) AS sx1y,
             SUM(x1*x1) AS sx1x1
      FROM base
    ), dets AS MATERIALIZED (
      SELECT *,
        n::DOUBLE*(sx0x0*sx1x1 - sx0x1*sx0x1)
          - sx0*(sx0*sx1x1 - sx0x1*sx1)
          + sx1*(sx0*sx0x1 - sx0x0*sx1) AS det,
        sy*(sx0x0*sx1x1 - sx0x1*sx0x1)
          - sx0*(sx0y*sx1x1 - sx0x1*sx1y)
          + sx1*(sx0y*sx0x1 - sx0x0*sx1y) AS det0,
        n::DOUBLE*(sx0y*sx1x1 - sx0x1*sx1y)
          - sy*(sx0*sx1x1 - sx0x1*sx1)
          + sx1*(sx0*sx1y - sx0y*sx1) AS det1,
        n::DOUBLE*(sx0x0*sx1y - sx0y*sx0x1)
          - sx0*(sx0*sx1y - sx0y*sx1)
          + sy*(sx0*sx0x1 - sx0x0*sx1) AS det2
      FROM mm
    ), co AS MATERIALIZED (
      SELECT *, det0/det AS b0, det1/det AS b1, det2/det AS b2
      FROM dets
    ), fit AS MATERIALIZED (
      SELECT *,
        b0*sy + b1*sx0y + b2*sx1y AS bty,
        b0*n::DOUBLE + b1*sx0 + b2*sx1 AS t0,
        b0*sx0 + b1*sx0x0 + b2*sx0x1 AS t1,
        b0*sx1 + b1*sx0x1 + b2*sx1x1 AS t2
      FROM co
    )
    SELECT n,
           round(1.0 - (syy - 2.0*bty + (t0*b0 + t1*b1 + t2*b2))
                       / (syy - sy*sy/n::DOUBLE), 6) AS r2_r6,
           round(b0, 6) AS intercept_r6,
           round(b1, 6) AS coef_hour_r6,
           round(b2, 6) AS coef_u7_r6
    FROM fit
    """,
)
def q_events_linear_probe(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Multiple-OLS linear probe (round 14,
    :func:`lindel_spark.features.linear_fit`): fit
    ``value ~ hour-of-day + (user_id mod 7)`` over all events — the
    one-scan Gram aggregate + bounded 3×3 driver solve that trains a
    quality/length/toxicity linear probe at corpus scale. The d=2
    driver solve is CRAMER'S RULE with the exact cofactor/fold
    structure this oracle writes (bit-matching double algebra over
    bit-matching moments — the user_trend closed-form precedent);
    r² replays through the same fixed-order bᵀ(X'y)/bᵀ(X'X)b
    expansions; 6dp."""
    from lindel_spark.features import linear_fit
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    feats = ev.filter(F.col("ts").isNotNull()).select(
        F.col("value").alias("y"),
        F.hour("ts").cast("double").alias("hour"),
        (F.col("user_id") % 7).cast("double").alias("u7"))
    out = linear_fit(feats, "y", ["hour", "u7"])
    return out.select(
        "n", F.round("r2", 6).alias("r2_r6"),
        F.round("intercept", 6).alias("intercept_r6"),
        F.round("coef_hour", 6).alias("coef_hour_r6"),
        F.round("coef_u7", 6).alias("coef_u7_r6"))


@query(
    "events_linear_probe_by_type",
    """
    WITH base AS MATERIALIZED (
      SELECT event_type AS g, value::DOUBLE AS y,
             EXTRACT(hour FROM ts)::DOUBLE AS x0,
             (user_id % 7)::DOUBLE AS x1
      FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL
        AND user_id IS NOT NULL AND event_type IS NOT NULL
    ), mm AS MATERIALIZED (
      SELECT g, COUNT(*)::BIGINT AS n, SUM(y) AS sy, SUM(y*y) AS syy,
             SUM(x0) AS sx0, SUM(x0*y) AS sx0y, SUM(x0*x0) AS sx0x0,
             SUM(x0*x1) AS sx0x1, SUM(x1) AS sx1, SUM(x1*y) AS sx1y,
             SUM(x1*x1) AS sx1x1
      FROM base GROUP BY g
    ), dets AS MATERIALIZED (
      SELECT *,
        n::DOUBLE*(sx0x0*sx1x1 - sx0x1*sx0x1)
          - sx0*(sx0*sx1x1 - sx0x1*sx1)
          + sx1*(sx0*sx0x1 - sx0x0*sx1) AS det,
        sy*(sx0x0*sx1x1 - sx0x1*sx0x1)
          - sx0*(sx0y*sx1x1 - sx0x1*sx1y)
          + sx1*(sx0y*sx0x1 - sx0x0*sx1y) AS det0,
        n::DOUBLE*(sx0y*sx1x1 - sx0x1*sx1y)
          - sy*(sx0*sx1x1 - sx0x1*sx1)
          + sx1*(sx0*sx1y - sx0y*sx1) AS det1,
        n::DOUBLE*(sx0x0*sx1y - sx0y*sx0x1)
          - sx0*(sx0*sx1y - sx0y*sx1)
          + sy*(sx0*sx0x1 - sx0x0*sx1) AS det2
      FROM mm
    ), co AS MATERIALIZED (
      SELECT *, det0/det AS b0, det1/det AS b1, det2/det AS b2
      FROM dets
    ), fit AS MATERIALIZED (
      SELECT *,
        b0*sy + b1*sx0y + b2*sx1y AS bty,
        b0*n::DOUBLE + b1*sx0 + b2*sx1 AS t0,
        b0*sx0 + b1*sx0x0 + b2*sx0x1 AS t1,
        b0*sx1 + b1*sx0x1 + b2*sx1x1 AS t2
      FROM co
    )
    SELECT g AS event_type, n,
           round(1.0 - (syy - 2.0*bty + (t0*b0 + t1*b1 + t2*b2))
                       / (syy - sy*sy/n::DOUBLE), 6) AS r2_r6,
           round(b0, 6) AS intercept_r6,
           round(b1, 6) AS coef_hour_r6,
           round(b2, 6) AS coef_u7_r6
    FROM fit
    """,
)
def q_events_linear_probe_by_type(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """Per-group linear probes (round 14,
    :func:`lindel_spark.features.linear_fit` with ``keys``): one
    ``value ~ hour + user_id%7`` probe PER EVENT TYPE — the
    segment-probe shape ("does the hour effect differ by event
    type?"). The Gram aggregate gains a groupBy; the driver solves
    each bounded 3×3 system through the same Cramer structure the
    oracle replays per group; 6dp."""
    from lindel_spark.features import linear_fit
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    feats = (ev.filter(F.col("ts").isNotNull()
                       & F.col("event_type").isNotNull())
             .select(F.col("event_type"),
                     F.col("value").alias("y"),
                     F.hour("ts").cast("double").alias("hour"),
                     (F.col("user_id") % 7).cast("double").alias("u7")))
    out = linear_fit(feats, "y", ["hour", "u7"], keys=["event_type"])
    return out.select(
        "event_type", "n", F.round("r2", 6).alias("r2_r6"),
        F.round("intercept", 6).alias("intercept_r6"),
        F.round("coef_hour", 6).alias("coef_hour_r6"),
        F.round("coef_u7", 6).alias("coef_u7_r6"))


@query(
    "basket_triples",
    """
    WITH b AS (
      SELECT DISTINCT l.l_orderkey AS bk, p.p_brand AS it
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT x.it AS item_a, y.it AS item_b, z.it AS item_c,
           COUNT(*)::BIGINT AS n_baskets
    FROM b x
    JOIN b y ON x.bk = y.bk AND x.it < y.it
    JOIN b z ON y.bk = z.bk AND y.it < z.it
    GROUP BY 1, 2, 3
    HAVING COUNT(*) >= 60
    """,
)
def q_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets (round 11,
    :func:`lindel_spark.rules.frequent_triples`): brand triples
    co-purchased in ≥60 orders, Apriori-pruned through the
    frequent-pair table (lossless by the anti-monotone support bound
    — the oracle counts all triples directly and lands on the same
    set). Exact integers."""
    from lindel_spark.rules import frequent_triples

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    baskets = (li.join(part, li.l_partkey == part.p_partkey)
               .select(F.col("l_orderkey").alias("basket"),
                       F.col("p_brand").alias("item")))
    return frequent_triples(baskets, "basket", "item",
                            min_support_baskets=60)


@query(
    "text_zipf_fit",
    f"""
    WITH t AS (
      SELECT unnest({_DUCK_TOKS}) AS token FROM documents
    ), c AS (
      SELECT token, COUNT(*)::BIGINT AS cnt FROM t GROUP BY token
    ), r AS (
      SELECT token, cnt,
             row_number() OVER (ORDER BY cnt DESC, token) AS rank
      FROM c
    ), xy AS (
      SELECT ln(rank::DOUBLE) AS x, ln(cnt::DOUBLE) AS y
      FROM r WHERE rank <= 300
    ), s AS (
      SELECT COUNT(*)::DOUBLE AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy,
             SUM(x * y) AS sxy
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             AS slope_r6,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n, 6) AS intercept_r6,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS r2_r6
    FROM s
    """,
)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit (round 11, :func:`lindel_spark.text.zipf_fit`):
    least-squares slope/intercept/r² of ln(cnt) on ln(rank) over the
    top-300 tokens — the power-law corpus-health screen next to
    `text_vocab_coverage`'s curve. Closed normal-equation algebra,
    identical expression order both engines, 6dp rounding on the
    regression outputs."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = LT.zipf_fit(docs, top_n=300)
    return out.select("n_points",
                      F.round("slope", 6).alias("slope_r6"),
                      F.round("intercept", 6).alias("intercept_r6"),
                      F.round("r2", 6).alias("r2_r6"))


@query(
    "embedding_random_projection",
    """
    WITH s AS (
      SELECT j.range AS j, i.range AS i,
             CASE WHEN strpos('01234567',
                              substr(md5('rp:' || i.range || ':'
                                         || j.range), 1, 1)) > 0
                  THEN 1.0 ELSE -1.0 END AS sgn
      FROM range(8) j, range(64) i
    ), x AS (
      SELECT vec_id, i.range AS i,
             embedding[i.range + 1]::DOUBLE AS v
      FROM embeddings, range(64) i
    ), p AS (
      SELECT vec_id, s.j,
             SUM(x.v * s.sgn) / sqrt(8.0) AS val
      FROM x JOIN s ON x.i = s.i
      GROUP BY 1, 2
    )
    SELECT vec_id, j::BIGINT AS lane, round(val, 6) AS val_r6 FROM p
    """,
)
def q_embedding_random_projection(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Deterministic JL random projection (round 11,
    :func:`lindel_spark.similarity.random_project`): 64-dim
    embeddings to 8 Rademacher lanes, the ±1 matrix regenerated
    independently by both engines from md5 of the seed — no stored
    artifact, no UDF. Dot-product doubles round at 6dp."""
    from lindel_spark.similarity import random_project

    emb = spark.read.parquet(os.path.join(sf_dir,
                                          "embeddings.parquet"))
    out = random_project(emb, "embedding", in_dim=64, out_dim=8)
    return (out.select("vec_id",
                       F.posexplode("projected")
                       .alias("lane", "val"))
            .select("vec_id", F.col("lane").cast("long").alias("lane"),
                    F.round("val", 6).alias("val_r6")))


@query(
    "dedup_cluster_split",
    _near_dup_cte().replace("WITH d AS", "WITH RECURSIVE d AS", 1)
    + """
    , edges AS (
      SELECT id_a AS s, id_b AS d FROM verified
      UNION ALL
      SELECT id_b, id_a FROM verified
    ), reach AS (
      SELECT doc_id::BIGINT AS id, doc_id::BIGINT AS label FROM documents
      UNION
      SELECT e.s, r.label FROM edges e JOIN reach r ON e.d = r.id
    ), clusters AS (
      SELECT id, MIN(label)::BIGINT AS cluster FROM reach GROUP BY id
    )
    SELECT id AS doc_id,
           CASE WHEN ('0x' || substr(md5(cluster::VARCHAR), 1, 15))::BIGINT
                     / 1152921504606846976.0 < 0.8
                THEN 'train' ELSE 'test' END AS split
    FROM clusters
    """,
)
def q_dedup_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware leak-safe split (round 11,
    :func:`lindel_spark.sampling.cluster_split`): every document
    splits by its near-dup cluster representative, so no duplicate
    family straddles train/test — the eval-contamination gap a
    row-keyed split leaves open. Oracle replays the recursive-CTE
    clusters plus the same md5 split algebra, per-document."""
    from lindel_spark.sampling import cluster_split

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    clusters = LD.dup_clusters(docs).withColumnRenamed("id", "doc_id")
    out = cluster_split(docs, clusters, "doc_id",
                        weights=(0.8, 0.2), names=("train", "test"))
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "split")


_TRI_TOKS = ("list_filter(string_split(trim(regexp_replace(lower(text),"
             " '\\s+', ' ', 'g')), ' '), t -> t <> '')")

@query(
    "text_trigram_backoff",
    f"""
    WITH norm AS (
      SELECT doc_id, {_TRI_TOKS} AS toks FROM documents
    ), model AS (
      SELECT * FROM norm WHERE doc_id % 2 = 0
    ), targ AS (
      SELECT * FROM norm WHERE doc_id % 2 = 1
    ), mtri AS (
      SELECT u.w1 AS w1, u.w2 AS w2, u.w3 AS w3 FROM (
        SELECT unnest(list_transform(range(1, len(toks) - 1),
          p -> struct_pack(w1 := toks[p], w2 := toks[p + 1],
                           w3 := toks[p + 2]))) AS u
        FROM model WHERE len(toks) >= 3)
    ), c3 AS (
      SELECT w1, w2, w3, COUNT(*)::BIGINT AS c3 FROM mtri GROUP BY 1, 2, 3
    ), p2 AS (
      SELECT w1, w2, COUNT(*)::BIGINT AS p2 FROM mtri GROUP BY 1, 2
    ), mbi AS (
      SELECT u.w1 AS w2, u.w2 AS w3 FROM (
        SELECT unnest(list_transform(range(1, len(toks)),
          p -> struct_pack(w1 := toks[p], w2 := toks[p + 1]))) AS u
        FROM model WHERE len(toks) >= 2)
    ), c2 AS (
      SELECT w2, w3, COUNT(*)::BIGINT AS c2 FROM mbi GROUP BY 1, 2
    ), p1 AS (
      SELECT w2, COUNT(*)::BIGINT AS p1 FROM mbi GROUP BY 1
    ), muni AS (
      SELECT unnest(toks) AS w3 FROM model
    ), c1 AS (
      SELECT w3, COUNT(*)::BIGINT AS c1 FROM muni GROUP BY 1
    ), nv AS (
      SELECT COUNT(*)::BIGINT AS n_total,
             COUNT(DISTINCT w3)::BIGINT AS v_total FROM muni
    ), ttri AS (
      SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3 FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
          p -> struct_pack(w1 := toks[p], w2 := toks[p + 1],
                           w3 := toks[p + 2]))) AS u
        FROM targ WHERE len(toks) >= 3)
    ), scored AS (
      SELECT t.doc_id,
             CASE WHEN c3.c3 IS NOT NULL
                    THEN c3.c3::DOUBLE / p2.p2::DOUBLE
                  WHEN c2.c2 IS NOT NULL
                    THEN 0.4 * c2.c2::DOUBLE / p1.p1::DOUBLE
                  ELSE 0.16000000000000003
                       * (COALESCE(c1.c1, 0)::DOUBLE + 1.0)
                       / (nv.n_total::DOUBLE + nv.v_total::DOUBLE)
             END AS s
      FROM ttri t
      LEFT JOIN c3 ON t.w1 = c3.w1 AND t.w2 = c3.w2 AND t.w3 = c3.w3
      LEFT JOIN p2 ON t.w1 = p2.w1 AND t.w2 = p2.w2
      LEFT JOIN c2 ON t.w2 = c2.w2 AND t.w3 = c2.w3
      LEFT JOIN p1 ON t.w2 = p1.w2
      LEFT JOIN c1 ON t.w3 = c1.w3
      CROSS JOIN nv
    )
    SELECT doc_id, COUNT(*)::BIGINT AS n_trigrams,
           round(SUM(ln(s)) / COUNT(*)::DOUBLE, 6) AS avg_logscore_r6
    FROM scored GROUP BY doc_id
    """,
)
def q_text_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-corpus LM quality filter (round 11,
    :func:`lindel_spark.retrieval.trigram_backoff_logprob`): odd-id
    documents scored under a trigram stupid-backoff model trained on
    the even-id half — the CCNet-style perplexity screen where unseen
    n-grams genuinely back off (trigram → 0.4·bigram →
    0.16·Laplace-floored unigram). All levels exact ML over integer
    counts; the per-doc mean of ln(score) rounds at 6dp."""
    from lindel_spark.retrieval import trigram_backoff_logprob

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    model = docs.filter(F.col("doc_id") % 2 == 0)
    targ = docs.filter(F.col("doc_id") % 2 == 1)
    out = trigram_backoff_logprob(model, targ)
    return out.select("doc_id", "n_trigrams",
                      F.round("avg_logscore", 6)
                      .alias("avg_logscore_r6"))


@query(
    "features_robust_scaled",
    """
    WITH med AS (
      SELECT median(value::DOUBLE) AS med FROM events
      WHERE value IS NOT NULL
    ), mad AS (
      SELECT median(abs(value::DOUBLE - med.med)) AS mad
      FROM events, med WHERE value IS NOT NULL
    )
    SELECT event_id,
           round(CASE WHEN mad.mad = 0 THEN 0.0
                      ELSE (value::DOUBLE - med.med)
                           / (mad.mad * 1.4826) END, 6) AS value_rb_r6
    FROM events, med, mad
    WHERE value IS NOT NULL
    """,
)
def q_features_robust_scaled(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Median/MAD robust scaling (round 11,
    :func:`lindel_spark.features.robust_scale`): the events value
    column in MAD-sigma units — outlier-immune where z-scores are
    not. Exact interpolated medians both engines; the one division
    rounds at 6dp."""
    from lindel_spark.features import robust_scale

    ev = (spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
          .filter(F.col("value").isNotNull()))
    out = robust_scale(ev, ["value"])
    return out.select("event_id",
                      F.round("value_rb", 6).alias("value_rb_r6"))


@query(
    "profile_equidepth_histogram",
    """
    WITH v AS (
      SELECT value::DOUBLE AS v FROM events WHERE value IS NOT NULL
    ), r AS (
      SELECT v, row_number() OVER (ORDER BY v) AS rn,
             COUNT(*) OVER () AS n FROM v
    )
    SELECT CAST(((rn - 1) * 8) // n AS INT) AS bin,
           COUNT(*)::BIGINT AS n, MIN(v) AS lo, MAX(v) AS hi
    FROM r GROUP BY 1
    """,
)
def q_profile_equidepth_histogram(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Equi-depth histogram (round 11,
    :func:`lindel_spark.profile.equidepth_histogram`): 8 equal-count
    bins over the events value column — quantile bin edges where the
    equi-width `profile_value_histogram` collapses on heavy tails.
    Integer-exact bin assignment off the distributed global rank;
    per-bin stats deterministic under ties."""
    from lindel_spark.profile import equidepth_histogram

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return equidepth_histogram(ev, "value", n_bins=8)


@query(
    "text_card_scrub",
    """
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                    THEN text || ' card 4539 1488 0343 6467 ok'
                  WHEN doc_id % 3 = 1
                    THEN text || ' ref 1234 5678 9012 3456 no'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                  THEN replace(text, '4539 1488 0343 6467', '<CARD>')
                ELSE text END AS scrubbed
    FROM seeded
    """,
)
def q_text_card_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated card scrub (round 11,
    :func:`lindel_spark.text.scrub_card_numbers`): documents seeded
    with a Luhn-VALID PAN (must scrub) and a Luhn-INVALID lookalike
    (must survive — the precision the length-only phone pattern can't
    give). The oracle knows the injected literals' validity (pinned
    by the hand-computed checksum pytest), so it states the expected
    full texts directly; the corpus itself carries no 13+-digit runs
    (checked), so behavior on the real text is covered too."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    seeded = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"),
                        F.lit(" card 4539 1488 0343 6467 ok")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.col("text"),
                       F.lit(" ref 1234 5678 9012 3456 no")))
        .otherwise(F.col("text")).alias("text"))
    return seeded.select(
        "doc_id", LT.scrub_card_numbers(F.col("text")).alias("scrubbed"))


@query(
    "knn_silhouette",
    """
    SELECT (SELECT COUNT(*) FROM embeddings)::BIGINT AS n_vectors,
           true AS counts_match_assignment,
           true AS scores_in_range,
           true AS numpy_replay_match
    """,
)
def q_knn_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette audit (round 12,
    :func:`lindel_spark.similarity.silhouette_by_cell`): per-cell
    separation of the 16-cell quantizer over the sf embeddings — the
    companion number to ``knn_ivf_health``'s balance (balanced but
    unseparated cells mean the quantizer is hashing, not
    clustering). Self-checking like ivf_health: per-cell counts must
    equal an independent assignment, scores must sit in [−1, 1], and
    the n-weighted overall mean must match a driver-side NumPy
    replay of the same a/b/s algebra to 1e-9."""
    import numpy as np

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    C = LS.train_centroids(emb, 16)
    rows = LS.silhouette_by_cell(emb, C).collect()
    n_total = sum(r.n_vectors for r in rows)
    in_range = all(-1.0 - 1e-12 <= r.min_s <= r.mean_s <= r.max_s
                   <= 1.0 + 1e-12 for r in rows)
    V = np.array([r.embedding for r in
                  emb.select("embedding").collect()], np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    d2 = np.maximum(1.0 + (C * C).sum(1)[None, :] - 2.0 * (Vn @ C.T),
                    0.0)
    order = np.argsort(d2, axis=1, kind="stable")
    a = np.sqrt(d2[np.arange(len(Vn)), order[:, 0]])
    b = np.sqrt(d2[np.arange(len(Vn)), order[:, 1]])
    s = (b - a) / np.maximum(np.maximum(a, b), 1e-300)
    cells, counts = np.unique(order[:, 0], return_counts=True)
    ind = dict(zip(cells.tolist(), counts.tolist()))
    counts_ok = (n_total == len(Vn)
                 and all(ind.get(r.cell, 0) == r.n_vectors
                         for r in rows))
    overall = sum(r.n_vectors * r.mean_s for r in rows) / n_total
    replay_ok = abs(overall - float(s.mean())) < 1e-9
    return local_frame(
        spark,
        [(n_total, counts_ok, in_range, replay_ok)],
        "n_vectors long, counts_match_assignment boolean, "
        "scores_in_range boolean, numpy_replay_match boolean")


@query(
    "knn_ivf_health",
    """
    SELECT (SELECT COUNT(*) FROM embeddings)::BIGINT AS n_vectors,
           true AS cells_ok,
           true AS counts_match_assignment,
           true AS entropy_bounds_ok,
           true AS scan_frac_bounds_ok
    """,
)
def q_knn_ivf_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF store health audit (round 11,
    :func:`lindel_spark.similarity.ivf_health`): balance entropy,
    max-cell share and the expected 1-probe scan fraction for a
    16-cell store over the sf embeddings — the retrain-decision
    numbers. Self-checking oracle: the report must agree with an
    INDEPENDENT in-memory cell assignment (vector count, used-cell
    count, max cell), entropy must sit in [0, ln(cells_used)], and
    the scan fraction in [1/cells_used, max_share]."""
    import math as _math

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = tempfile.mkdtemp(prefix="lindel_ivfh_")
    store = os.path.join(out, "ivf")
    C = LS.train_centroids(emb, 16)
    LS.ivf_write(emb, store, n_centroids=16, centroids=C)
    h = LS.ivf_health(spark, store, 16).collect()[0]

    assigned = emb.select(
        F.element_at(LS._cell_assign_udf(C, 1)(F.col("embedding")), 1)
        .alias("cell"))
    ind = (assigned.groupBy("cell")
           .agg(F.count(F.lit(1)).alias("cnt"))
           .agg(F.sum("cnt").cast("long").alias("n"),
                F.count(F.lit(1)).cast("long").alias("used"),
                F.max("cnt").cast("long").alias("mx")).collect()[0])
    cells_ok = (h.cells_total == 16 and 1 <= h.cells_used <= 16
                and h.empty_cells == 16 - h.cells_used
                and 1 <= h.min_cell <= h.max_cell)
    counts_match = (h.n_vectors == ind.n and h.cells_used == ind.used
                    and h.max_cell == ind.mx)
    entropy_ok = (-1e-9 <= h.balance_entropy
                  <= _math.log(h.cells_used) + 1e-9)
    scan_ok = (1.0 / h.cells_used - 1e-12 <= h.expected_scan_frac
               <= h.max_share + 1e-12)
    return local_frame(
        spark,
        [(h.n_vectors, cells_ok, counts_match, entropy_ok, scan_ok)],
        "n_vectors long, cells_ok boolean, "
        "counts_match_assignment boolean, entropy_bounds_ok boolean, "
        "scan_frac_bounds_ok boolean")


@query(
    "profile_drift_store",
    """
    WITH lref AS (
      SELECT 'value' AS col, value::DOUBLE AS v FROM events
      WHERE event_id % 3 = 0 AND value IS NOT NULL
    ), lcur AS (
      SELECT 'value' AS col, value::DOUBLE AS v FROM events
      WHERE event_id % 3 <> 0 AND value IS NOT NULL
    ), stats AS (
      SELECT col, MIN(v) AS lo, MAX(v) AS hi FROM lref GROUP BY col
    ), rb AS (
      SELECT l.col,
             CASE WHEN s.hi = s.lo THEN 0
                  ELSE LEAST(7, GREATEST(0,
                    CAST(FLOOR((l.v - s.lo) / ((s.hi - s.lo) / 8.0))
                         AS INT))) END AS bin,
             COUNT(*)::BIGINT AS ref_cnt
      FROM lref l JOIN stats s USING (col) GROUP BY 1, 2
    ), cb AS (
      SELECT l.col,
             CASE WHEN s.hi = s.lo THEN 0
                  ELSE LEAST(7, GREATEST(0,
                    CAST(FLOOR((l.v - s.lo) / ((s.hi - s.lo) / 8.0))
                         AS INT))) END AS bin,
             COUNT(*)::BIGINT AS cur_cnt
      FROM lcur l JOIN stats s USING (col) GROUP BY 1, 2
    ), both_b AS (
      SELECT COALESCE(rb.col, cb.col) AS col,
             COALESCE(rb.bin, cb.bin) AS bin,
             COALESCE(ref_cnt, 0) AS ref_cnt,
             COALESCE(cur_cnt, 0) AS cur_cnt
      FROM rb FULL OUTER JOIN cb ON rb.col = cb.col AND rb.bin = cb.bin
    ), totals AS (
      SELECT col, SUM(ref_cnt)::BIGINT AS n_ref,
             SUM(cur_cnt)::BIGINT AS n_cur
      FROM both_b GROUP BY col
    ), terms AS (
      SELECT b.col, t.n_ref, t.n_cur,
             ((cur_cnt::DOUBLE + 0.5) / (n_cur::DOUBLE + 4.0)
              - (ref_cnt::DOUBLE + 0.5) / (n_ref::DOUBLE + 4.0))
             * (ln((cur_cnt::DOUBLE + 0.5) / (n_cur::DOUBLE + 4.0))
                - ln((ref_cnt::DOUBLE + 0.5) / (n_ref::DOUBLE + 4.0)))
               AS psi_term,
             ((ref_cnt::DOUBLE + 0.5) / (n_ref::DOUBLE + 4.0))
             * (ln((ref_cnt::DOUBLE + 0.5) / (n_ref::DOUBLE + 4.0))
                - ln((cur_cnt::DOUBLE + 0.5) / (n_cur::DOUBLE + 4.0)))
               AS kl_term
      FROM both_b b JOIN totals t USING (col)
    )
    SELECT col AS "column", n_ref, n_cur,
           round(SUM(psi_term), 6) AS psi_r6,
           round(SUM(kl_term), 6) AS kl_r6
    FROM terms GROUP BY 1, 2, 3
    """,
)
def q_profile_drift_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-served drift scoring (round 11,
    :func:`lindel_spark.profile.drift_reference` /
    :func:`drift_against`): the reference profile is computed once,
    PERSISTED to parquet, read back, and the current snapshot scored
    against it — the serving-time monitor face (and what
    `streaming.drift_stream_sink` runs per micro-batch). Numbers
    identical to the one-shot `profile_drift_report` algebra by
    construction; the oracle recomputes them from the raw halves."""
    from lindel_spark.profile import drift_against, drift_reference

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ref = ev.filter(F.col("event_id") % 3 == 0)
    cur = ev.filter(F.col("event_id") % 3 != 0)
    out_dir = tempfile.mkdtemp(prefix="lindel_driftp_")
    prof_path = os.path.join(out_dir, "profile")
    drift_reference(ref, ["value"], bins=8).write.parquet(prof_path)
    prof = spark.read.parquet(prof_path)
    out = drift_against(cur, prof, ["value"], bins=8)
    return out.select("column", "n_ref", "n_cur",
                      F.round("psi", 6).alias("psi_r6"),
                      F.round("kl", 6).alias("kl_r6"))


@query(
    "join_skew_report",
    """
    WITH lc AS (
      SELECT l_partkey::BIGINT AS key, COUNT(*)::BIGINT AS cnt_left
      FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1
    ), rc AS (
      SELECT p_partkey::BIGINT AS key, COUNT(*)::BIGINT AS cnt_right
      FROM part WHERE p_partkey IS NOT NULL GROUP BY 1
    ), pk AS (
      SELECT lc.key, cnt_left, cnt_right,
             cnt_left * cnt_right AS out_rows
      FROM lc JOIN rc USING (key)
    ), tot AS (
      SELECT SUM(out_rows)::BIGINT AS total_out FROM pk
    )
    SELECT key, cnt_left, cnt_right, out_rows,
           round(out_rows::DOUBLE / total_out::DOUBLE, 9)
             AS out_share_r9
    FROM pk, tot
    ORDER BY out_rows DESC, key ASC
    LIMIT 20
    """,
)
def q_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-skew pre-flight (round 11,
    :func:`lindel_spark.skew.join_skew_report`): the 20 hottest
    lineitem⋈part keys by exact output fan-out with their share of
    the join's output — the decision input for `salted_join` and the
    many-to-many-explosion smell test, computed from two key-count
    tables without running the join. Exact integers; the one share
    division rounds at 9dp."""
    from lindel_spark.skew import join_skew_report

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    out = join_skew_report(li, part, "l_partkey", "p_partkey",
                           top_n=20)
    return out.select(F.col("key").cast("long").alias("key"),
                      "cnt_left", "cnt_right", "out_rows",
                      F.round("out_share", 9).alias("out_share_r9"))


@query(
    "text_retrieval_eval",
    """
    WITH norm AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '') AS toks
      FROM documents
    ),
    postings AS (
      SELECT doc_id, term, COUNT(*)::BIGINT AS tf, ANY_VALUE(dl) AS dl
      FROM (SELECT doc_id, len(toks)::BIGINT AS dl, unnest(toks) AS term
            FROM norm)
      GROUP BY doc_id, term
    ),
    stats AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs,
             SUM(tf)::DOUBLE / COUNT(DISTINCT doc_id)::DOUBLE AS avgdl
      FROM postings
    ),
    qterms AS (
      SELECT DISTINCT doc_id AS query_id, unnest(toks[1:40]) AS term
      FROM norm WHERE doc_id % 97 = 0
    ),
    dfs AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM postings
      WHERE term IN (SELECT term FROM qterms) GROUP BY term
    ),
    scored AS (
      SELECT q.query_id, p.doc_id,
             SUM(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (p.tf::DOUBLE * (1.2 + 1.0))
                 / (p.tf::DOUBLE
                    + 1.2 * ((1.0 - 0.75)
                             + 0.75 * p.dl::DOUBLE / s.avgdl))) AS score
      FROM postings p
      JOIN dfs d USING (term)
      JOIN qterms q USING (term)
      CROSS JOIN stats s
      GROUP BY q.query_id, p.doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY round(score, 4) DESC,
                                         doc_id) AS rank
      FROM scored
    ),
    hit AS (
      SELECT query_id, rank FROM ranked
      WHERE doc_id = query_id AND rank <= 10
    )
    SELECT q.query_id::BIGINT AS query_id, 1::BIGINT AS n_rel,
           (CASE WHEN h.rank IS NULL THEN 0 ELSE 1 END)::BIGINT
             AS n_hits,
           round(CASE WHEN h.rank IS NULL THEN 0.0 ELSE 1.0 END, 6)
             AS recall_r6,
           round(COALESCE(1.0 / h.rank::DOUBLE, 0.0), 6) AS mrr_r6,
           round(COALESCE(1.0 / (ln(h.rank::DOUBLE + 1.0) / ln(2.0)),
                          0.0), 6) AS ndcg_r6
    FROM (SELECT DISTINCT query_id FROM qterms) q
    LEFT JOIN hit h USING (query_id)
    """,
)
def q_text_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked-retrieval evaluation (round 11,
    :func:`lindel_spark.retrieval.retrieval_metrics`): recall@10,
    MRR@10 and nDCG@10 of BM25 self-retrieval — each pseudo-query
    (first forty tokens of every 97th doc) judges exactly its source
    document relevant, so the metrics read "does the source come
    back, and how high". The oracle replays BM25 AND the metric
    algebra (binary-rel nDCG = 1/log2(rank+1), log2 spelled
    ln/ln(2) on both engines)."""
    from lindel_spark import retrieval as LR

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    toks = LT.tokens(LT.normalize_text(F.col("text")))
    qd = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").cast("long").alias("query_id"),
        F.array_join(F.slice(toks, 1, 40), " ").alias("query"))
    res = LR.bm25_topk(docs, qd, k=10, rank_round=4)
    qrels = qd.select("query_id",
                      F.col("query_id").alias("doc_id"))
    out = LR.retrieval_metrics(res, qrels, k=10)
    return out.select("query_id", "n_rel", "n_hits",
                      F.round("recall_k", 6).alias("recall_r6"),
                      F.round("mrr_k", 6).alias("mrr_r6"),
                      F.round("ndcg_k", 6).alias("ndcg_r6"))


@query(
    "embedding_drift_report",
    """
    WITH s AS (
      SELECT j.range AS j, i.range AS i,
             CASE WHEN strpos('01234567',
                              substr(md5('edrift:' || i.range || ':'
                                         || j.range), 1, 1)) > 0
                  THEN 1.0 ELSE -1.0 END AS sgn
      FROM range(4) j, range(64) i
    ), x AS (
      SELECT vec_id, i.range AS i,
             embedding[i.range + 1]::DOUBLE AS v
      FROM embeddings, range(64) i
    ), p AS (
      SELECT vec_id, s.j,
             SUM(x.v * s.sgn) / sqrt(4.0) AS val
      FROM x JOIN s ON x.i = s.i GROUP BY 1, 2
    ), lref AS (
      SELECT 'p' || j AS col, val AS v FROM p WHERE vec_id % 2 = 0
    ), lcur AS (
      SELECT 'p' || j AS col, val AS v FROM p WHERE vec_id % 2 = 1
    ), stats AS (
      SELECT col, MIN(v) AS lo, MAX(v) AS hi FROM lref GROUP BY col
    ), rb AS (
      SELECT l.col,
             CASE WHEN s.hi = s.lo THEN 0
                  ELSE LEAST(7, GREATEST(0,
                    CAST(FLOOR((l.v - s.lo) / ((s.hi - s.lo) / 8.0))
                         AS INT))) END AS bin,
             COUNT(*)::BIGINT AS ref_cnt
      FROM lref l JOIN stats s USING (col) GROUP BY 1, 2
    ), cb AS (
      SELECT l.col,
             CASE WHEN s.hi = s.lo THEN 0
                  ELSE LEAST(7, GREATEST(0,
                    CAST(FLOOR((l.v - s.lo) / ((s.hi - s.lo) / 8.0))
                         AS INT))) END AS bin,
             COUNT(*)::BIGINT AS cur_cnt
      FROM lcur l JOIN stats s USING (col) GROUP BY 1, 2
    ), both_b AS (
      SELECT COALESCE(rb.col, cb.col) AS col,
             COALESCE(rb.bin, cb.bin) AS bin,
             COALESCE(ref_cnt, 0) AS ref_cnt,
             COALESCE(cur_cnt, 0) AS cur_cnt
      FROM rb FULL OUTER JOIN cb ON rb.col = cb.col AND rb.bin = cb.bin
    ), totals AS (
      SELECT col, SUM(ref_cnt)::BIGINT AS n_ref,
             SUM(cur_cnt)::BIGINT AS n_cur
      FROM both_b GROUP BY col
    ), terms AS (
      SELECT b.col, t.n_ref, t.n_cur,
             ((cur_cnt::DOUBLE + 0.5) / (n_cur::DOUBLE + 4.0)
              - (ref_cnt::DOUBLE + 0.5) / (n_ref::DOUBLE + 4.0))
             * (ln((cur_cnt::DOUBLE + 0.5) / (n_cur::DOUBLE + 4.0))
                - ln((ref_cnt::DOUBLE + 0.5) / (n_ref::DOUBLE + 4.0)))
               AS psi_term,
             ((ref_cnt::DOUBLE + 0.5) / (n_ref::DOUBLE + 4.0))
             * (ln((ref_cnt::DOUBLE + 0.5) / (n_ref::DOUBLE + 4.0))
                - ln((cur_cnt::DOUBLE + 0.5) / (n_cur::DOUBLE + 4.0)))
               AS kl_term
      FROM both_b b JOIN totals t USING (col)
    )
    SELECT col AS "column", n_ref, n_cur,
           round(SUM(psi_term), 6) AS psi_r6,
           round(SUM(kl_term), 6) AS kl_r6
    FROM terms GROUP BY 1, 2, 3
    """,
)
def q_embedding_drift_report(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor (round 11): the composition of
    two oracle-exact operators — project 64-dim embeddings onto 4
    deterministic Rademacher lanes
    (:func:`lindel_spark.similarity.random_project`, JL distances
    survive so distribution change survives too) and score the lanes
    with the PSI audit
    (:func:`lindel_spark.profile.distribution_drift`) — the
    production screen for "did the embedding model or upstream data
    shift", without ever binning 64 raw dimensions. Both halves
    replayed in SQL end to end."""
    from lindel_spark.profile import distribution_drift
    from lindel_spark.similarity import random_project

    emb = spark.read.parquet(os.path.join(sf_dir,
                                          "embeddings.parquet"))
    proj = random_project(emb, "embedding", in_dim=64, out_dim=4,
                          seed="edrift")
    lanes = proj.select(
        "vec_id", *[F.col("projected")[j].alias(f"p{j}")
                    for j in range(4)])
    ref = lanes.filter(F.col("vec_id") % 2 == 0)
    cur = lanes.filter(F.col("vec_id") % 2 == 1)
    out = distribution_drift(ref, cur, [f"p{j}" for j in range(4)],
                             bins=8)
    return out.select("column", "n_ref", "n_cur",
                      F.round("psi", 6).alias("psi_r6"),
                      F.round("kl", 6).alias("kl_r6"))


@query(
    "features_target_encoded",
    """
    WITH per_cat AS (
      SELECT o_custkey, SUM(o_totalprice::DOUBLE) AS sum_y,
             COUNT(o_totalprice)::BIGINT AS n_y
      FROM orders GROUP BY o_custkey
    ), gstats AS (
      SELECT SUM(o_totalprice::DOUBLE) / COUNT(o_totalprice) AS prior
      FROM orders
    )
    SELECT o.o_orderkey,
           round((COALESCE(c.sum_y, 0.0)
                  - (CASE WHEN o.o_totalprice IS NOT NULL
                          THEN o.o_totalprice::DOUBLE ELSE 0.0 END)
                  + 20.0 * g.prior)
                 / (COALESCE(c.n_y, 0)
                    - (CASE WHEN o.o_totalprice IS NOT NULL
                            THEN 1 ELSE 0 END) + 20.0), 6)
             AS o_custkey_te_r6
    FROM orders o
    LEFT JOIN per_cat c USING (o_custkey)
    CROSS JOIN gstats g
    """,
)
def q_features_target_encoded(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding (round 11,
    :func:`lindel_spark.features.target_encode`): each order's
    customer encoded by that customer's mean order value EXCLUDING
    the order itself, shrunk toward the global mean with a 20-row
    pseudo-count — the leak-safe high-cardinality categorical
    feature. Closed-form algebra, identical expression order both
    engines, 6dp."""
    from lindel_spark.features import target_encode

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    out = target_encode(orders, "o_custkey", "o_totalprice",
                        smoothing=20.0)
    return out.select("o_orderkey",
                      F.round("o_custkey_te", 6)
                      .alias("o_custkey_te_r6"))


@query(
    "profile_gini_spend",
    """
    WITH spend AS (
      SELECT SUM(o_totalprice::DOUBLE) AS v FROM orders
      GROUP BY o_custkey
    ), ranked AS (
      SELECT v, row_number() OVER (ORDER BY v) AS r,
             COUNT(*) OVER () AS n, SUM(v) OVER () AS tot
      FROM spend
    )
    SELECT MAX(n)::BIGINT AS n, round(MAX(tot), 4) AS total_r4,
           round(2.0 * SUM(r * v) / (MAX(n) * MAX(tot))
                 - (MAX(n) + 1.0) / MAX(n), 6) AS gini_r6
    FROM ranked
    """,
)
def q_profile_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of customer spend (round 11,
    :func:`lindel_spark.profile.gini_coefficient`): one inequality
    scalar over per-customer order totals — the single-number form of
    the Pareto report. Rank-form algebra is tie-invariant (Σ r·x over
    a tie run is fixed), so the distributed global_rank's arbitrary
    tie placement cannot move the value; 6dp."""
    from lindel_spark.profile import gini_coefficient

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("double")).alias("spend"))
    g = gini_coefficient(spend, "spend")
    return g.select("n", F.round("total", 4).alias("total_r4"),
                    F.round("gini", 6).alias("gini_r6"))


@query(
    "profile_mutual_information",
    """
    WITH joint AS (
      SELECT o_orderstatus AS a, o_orderpriority AS b,
             COUNT(*)::DOUBLE AS c
      FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
      GROUP BY 1, 2
    ), m AS (
      SELECT a, b, c,
             SUM(c) OVER (PARTITION BY a) AS ca,
             SUM(c) OVER (PARTITION BY b) AS cb,
             SUM(c) OVER () AS n
      FROM joint
    )
    SELECT MAX(n)::BIGINT AS n,
           round(ln(MAX(n)) - SUM(c * ln(ca)) / MAX(n), 6) AS h_a_r6,
           round(ln(MAX(n)) - SUM(c * ln(cb)) / MAX(n), 6) AS h_b_r6,
           round(SUM(c * ln(c / (ca * cb))) / MAX(n) + ln(MAX(n)), 6)
             AS mi_r6,
           round((SUM(c * ln(c / (ca * cb))) / MAX(n) + ln(MAX(n)))
                 / sqrt((ln(MAX(n)) - SUM(c * ln(ca)) / MAX(n))
                        * (ln(MAX(n)) - SUM(c * ln(cb)) / MAX(n))), 6)
             AS nmi_r6
    FROM m
    """,
)
def q_profile_mutual_information(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Mutual information between order status and priority (round
    11, :func:`lindel_spark.profile.mutual_information`): the
    feature-redundancy / label-leak screen — NMI ≈ 1 says one column
    is the other in disguise. Every ln sees integer-count ratios;
    identical expression order both engines; 6dp."""
    from lindel_spark.profile import mutual_information

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    mi = mutual_information(orders, "o_orderstatus", "o_orderpriority")
    return mi.select(
        "n", F.round("h_a", 6).alias("h_a_r6"),
        F.round("h_b", 6).alias("h_b_r6"),
        F.round("mi", 6).alias("mi_r6"),
        F.round("nmi", 6).alias("nmi_r6"))


@query(
    "profile_fd_violations",
    """
    SELECT c_mktsegment,
           COUNT(*)::BIGINT AS n_rows,
           COUNT(DISTINCT c_nationkey)::BIGINT AS n_dependent,
           MIN(c_nationkey::VARCHAR) AS example_lo,
           MAX(c_nationkey::VARCHAR) AS example_hi
    FROM customer
    GROUP BY c_mktsegment
    HAVING COUNT(DISTINCT c_nationkey) > 1
    """,
)
def q_profile_fd_violations(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Functional-dependency audit (round 11,
    :func:`lindel_spark.profile.fd_violations`): every market segment
    that does NOT determine a single nation, with the conflicting
    value range as evidence — the "should be unique per key"
    consistency check referential integrity can't express. One
    map-side-combined groupBy; group summaries shuffle, rows never
    do."""
    from lindel_spark.profile import fd_violations

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    return fd_violations(cust, ["c_mktsegment"], "c_nationkey")


@query(
    "profile_agreement_kappa",
    """
    WITH labeled AS (
      SELECT CASE WHEN value > 50.0 THEN 'hi' ELSE 'lo' END AS a,
             CASE WHEN value + (user_id % 20) - 10.0 > 50.0
                  THEN 'hi' ELSE 'lo' END AS b
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ), joint AS (
      SELECT a, b, COUNT(*)::DOUBLE AS c FROM labeled GROUP BY a, b
    ), obs AS (
      SELECT SUM(c)::BIGINT AS n,
             SUM(CASE WHEN a = b THEN c ELSE 0 END) / SUM(c) AS po
      FROM joint
    ), ma AS (SELECT a AS k, SUM(c) AS ca FROM joint GROUP BY a),
    mb AS (SELECT b AS k, SUM(c) AS cb FROM joint GROUP BY b),
    chance AS (
      SELECT SUM(ca * cb) AS rc FROM ma JOIN mb USING (k)
    )
    SELECT n, round(po, 6) AS po_r6,
           round(rc / (n::DOUBLE * n::DOUBLE), 6) AS pe_r6,
           round((po - rc / (n::DOUBLE * n::DOUBLE))
                 / (1.0 - rc / (n::DOUBLE * n::DOUBLE)), 6) AS kappa_r6
    FROM obs CROSS JOIN chance
    """,
)
def q_profile_agreement_kappa(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Cohen's kappa between a gold threshold label and a noisy
    re-rating of the same events (round 11,
    :func:`lindel_spark.profile.agreement_kappa`): chance-corrected
    agreement — the annotator-QA score raw percent-agreement
    over-credits on imbalanced labels. pe comes from the marginal
    join, never the joint diagonal; 6dp."""
    from lindel_spark.profile import agreement_kappa

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    labeled = (ev.filter(F.col("value").isNotNull()
                         & F.col("user_id").isNotNull())
               .select(
        F.when(F.col("value") > 50.0, "hi").otherwise("lo").alias("a"),
        F.when(F.col("value")
               + (F.col("user_id") % 20).cast("double")
               - F.lit(10.0) > 50.0, "hi").otherwise("lo").alias("b")))
    k = agreement_kappa(labeled, "a", "b")
    return k.select("n", F.round("po", 6).alias("po_r6"),
                    F.round("pe", 6).alias("pe_r6"),
                    F.round("kappa", 6).alias("kappa_r6"))


@query(
    "events_seasonal_decompose",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             SUM(value::DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ), b AS (
      SELECT event_type, hour, v,
             CAST((ROW_NUMBER() OVER w - 1) % 24 AS INT) AS phase,
             CASE WHEN COUNT(*) OVER wma = 24
                  THEN AVG(v) OVER wma END AS trend
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour),
             wma AS (PARTITION BY event_type ORDER BY hour
                     ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
    ), ph AS (
      SELECT event_type, phase, AVG(v - trend) AS s_raw
      FROM b WHERE trend IS NOT NULL GROUP BY 1, 2
    ), ctr AS (
      SELECT event_type, AVG(s_raw) AS s_mean FROM ph GROUP BY 1
    ), seas AS (
      SELECT ph.event_type, ph.phase, ph.s_raw - ctr.s_mean AS seasonal
      FROM ph JOIN ctr USING (event_type)
    )
    SELECT b.event_type, b.hour, b.phase,
           round(b.v, 6) AS value_r6,
           round(b.trend, 6) AS trend_r6,
           round(seas.seasonal, 6) AS seasonal_r6,
           round(b.v - b.trend - seas.seasonal, 4) AS resid_r4
    FROM b LEFT JOIN seas
      ON seas.event_type = b.event_type AND seas.phase = b.phase
    """,
)
def q_events_seasonal_decompose(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (round 12,
    :func:`lindel_spark.timeseries.seasonal_decompose`) of the hourly
    per-type value series at period 24: value = 24-row centered
    moving-average trend + per-hour-of-cycle seasonal (detrended
    phase means, re-centered) + residual — the statsmodels recipe as
    key-partitioned windows and one (key, phase) aggregate; the
    deseasonalized residual is what the CUSUM/z-score anomaly tier
    wants to score. 6dp means, 4dp residual (boundary clearance)."""
    from lindel_spark.sources import load_events
    from lindel_spark.timeseries import seasonal_decompose

    ev = load_events(spark, sf_dir)
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.sum(F.col("value").cast("double")).alias("v")))
    out = seasonal_decompose(hourly, ["event_type"], "hour", "v",
                             period=24, tiebreak="hour")
    return out.select(
        "event_type", "hour", "phase",
        F.round("value", 6).alias("value_r6"),
        F.round("trend", 6).alias("trend_r6"),
        F.round("seasonal", 6).alias("seasonal_r6"),
        # resid is the triple difference v − trend − seasonal: at
        # sf0.1 one hour landed within an ulp of a 6dp rounding
        # boundary (…0625 vs …0624999…) and the engines rounded
        # apart — 4dp keeps the compare value-level with 100× the
        # boundary clearance (the welch df_r2 precedent)
        F.round("resid", 4).alias("resid_r4"))


def _hw_oracle(m: int = 24, W: int = 48, a: float = 0.3,
               b: float = 0.1, g: float = 0.2,
               horizon: int | None = None) -> str:
    """Generate the unrolled Holt–Winters steps as a CHAIN of
    MATERIALIZED CTEs — one per recursion step, each a projection
    over the previous step's materialized columns, the same
    named-step DAG the Spark operator builds with withColumn, so
    every l_t/b_t/s_t is computed by the identical double expression
    in both engines. MATERIALIZED is load-bearing twice over: DuckDB
    inlines both plain CTEs and lateral column aliases by
    SUBSTITUTION, so without it the step chain re-expands
    exponentially (measured: W=8 0.2 s, W=12 3.4 s, W=16 51 s — the
    same blowup class as the r12 kcore-oracle lesson; materializing
    every step is linear). Generated, like _grid_oracle, because
    hand-writing 3·(W−m) steps invites transcription bugs."""
    first = "+".join(f"xs[{i + 1}]" for i in range(m))
    second = "+".join(f"xs[{i + 1}]" for i in range(m, 2 * m))
    init_season = ",\n             ".join(
        f"xs[{i + 1}] - li AS s{i}" for i in range(m))
    ctes = [f"""st{m - 1} AS MATERIALIZED (
      SELECT event_type, last_ts, n_obs, xs,
             (({first}))/{float(m)!r} AS li,
             ((({second})) - (({first})))/{float(m * m)!r} AS bi,
             {init_season}
      FROM lastw
    )"""]
    lp, bp = "li", "bi"
    for t in range(m, W):
        ctes.append(f"""st{t} AS MATERIALIZED (
      SELECT *,
             {a!r}*(xs[{t + 1}] - s{t - m}) + {1.0 - a!r}*({lp} + {bp})
               AS l{t},
             {b!r}*({a!r}*(xs[{t + 1}] - s{t - m})
                    + {1.0 - a!r}*({lp} + {bp}) - {lp})
               + {1.0 - b!r}*{bp} AS b{t},
             {g!r}*(xs[{t + 1}] - ({a!r}*(xs[{t + 1}] - s{t - m})
                    + {1.0 - a!r}*({lp} + {bp}))) + {1.0 - g!r}*s{t - m}
               AS s{t}
      FROM st{t - 1}
    )""")
        lp, bp = f"l{t}", f"b{t}"
    chain = ",\n    ".join(ctes)
    if horizon is None:
        final = f"""
    SELECT event_type, last_ts, n_obs,
           round({lp}, 6) AS level_r6,
           round({bp}, 6) AS trend_r6,
           round({lp} + {bp} + s{W - m}, 6) AS forecast_r6
    FROM st{W - 1}
    """
    else:
        # long format: one SELECT per step h, frozen-state
        # extrapolation lp + h*bp + season(phase of t+h) — the SAME
        # per-step double expression the Spark array build evaluates
        final = "\n    UNION ALL\n".join(
            f"""    SELECT event_type, last_ts, n_obs, {h} AS step,
           round({lp} + {float(h)!r}*{bp}
                 + s{W - m + ((h - 1) % m)}, 6) AS forecast_r6
    FROM st{W - 1}"""
            for h in range(1, horizon + 1))
    return f"""
    WITH hourly AS MATERIALIZED (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             SUM(value::DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT event_type, hour, v,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY hour DESC) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM hourly
    ), lastw AS MATERIALIZED (
      SELECT event_type, MAX(n)::BIGINT AS n_obs,
             list(v ORDER BY hour) AS xs, MAX(hour) AS last_ts
      FROM ranked WHERE rn <= {W} GROUP BY event_type
      HAVING COUNT(*) = {W} AND MAX(n) >= {W}
    ),
    {chain}
    {final}
    """


@query("events_holt_winters", _hw_oracle())
def q_events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt–Winters one-step-ahead forecast (round 13,
    :func:`lindel_spark.timeseries.holt_winters_forecast`): per
    event type, forecast the NEXT hourly value sum from the last 48
    hours at period 24 — the predictive leg completing gap-fill →
    decompose → forecast. The fixed-window unrolled recursion (the
    ewma FIR precedent) is what makes the sequential triple-smoothing
    replayable: DuckDB evaluates the machine-generated identical
    step list via lateral column aliases; 6dp."""
    from lindel_spark.sources import load_events
    from lindel_spark.timeseries import holt_winters_forecast

    ev = load_events(spark, sf_dir)
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.sum(F.col("value").cast("double")).alias("v")))
    out = holt_winters_forecast(hourly, ["event_type"], "hour", "v",
                                "hour", period=24, window=48)
    return out.select(
        "event_type", "last_ts", "n_obs",
        F.round("level", 6).alias("level_r6"),
        F.round("trend", 6).alias("trend_r6"),
        F.round("forecast", 6).alias("forecast_r6"))


@query("events_holt_winters_h", _hw_oracle(horizon=36))
def q_events_holt_winters_h(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """H-step-ahead Holt–Winters horizon (round 14,
    :func:`lindel_spark.timeseries.holt_winters_horizon`): 36 hourly
    steps ahead per event type from the same 48-hour window at
    period 24 — 1.5 seasonal cycles, so the wrap of the frozen last
    season (steps 25-36 reuse phase indices 0-11) is exercised, the
    capacity-planning question the one-step face can't answer.
    Frozen-state extrapolation is pure algebra over the fold's final
    level/trend/season columns; DuckDB replays each step as the
    identical double expression; 6dp."""
    from lindel_spark.sources import load_events
    from lindel_spark.timeseries import holt_winters_horizon

    ev = load_events(spark, sf_dir)
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.sum(F.col("value").cast("double")).alias("v")))
    out = holt_winters_horizon(hourly, ["event_type"], "hour", "v",
                               "hour", period=24, window=48,
                               horizon=36)
    return out.select(
        "event_type", "last_ts", "n_obs", "step",
        F.round("forecast", 6).alias("forecast_r6"))


@query(
    "events_acf",
    """
    WITH seq AS (
      SELECT event_type, value::DOUBLE AS x,
             LEAD(value::DOUBLE, 1) OVER w AS y1,
             LEAD(value::DOUBLE, 2) OVER w AS y2,
             LEAD(value::DOUBLE, 8) OVER w AS y8
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), long AS (
      SELECT event_type, 1 AS lag, x, y1 AS y FROM seq
      UNION ALL
      SELECT event_type, 2, x, y2 FROM seq
      UNION ALL
      SELECT event_type, 8, x, y8 FROM seq
    ), g AS (
      SELECT event_type, lag, COUNT(*)::BIGINT AS n_pairs,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx,
             SUM(y*y) AS syy, SUM(x*y) AS sxy
      FROM long WHERE x IS NOT NULL AND y IS NOT NULL
      GROUP BY event_type, lag
    )
    SELECT event_type, lag::BIGINT AS lag, n_pairs,
           round(CASE WHEN (n_pairs * sxx - sx * sx) > 0
                       AND (n_pairs * syy - sy * sy) > 0
                 THEN (n_pairs * sxy - sx * sy)
                      / sqrt((n_pairs * sxx - sx * sx)
                             * (n_pairs * syy - sy * sy))
                 ELSE NULL END, 6) AS acf_r6
    FROM g
    """,
)
def q_events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation per event type (round 11,
    :func:`lindel_spark.timeseries.acf`): exact Pearson between x_t
    and x_{t+k} for lags 1/2/8 over the (ts, event_id)-ordered
    series — the seasonality/persistence screen. One window pass
    computes every lag; raw-sums correlation so both engines evaluate
    the identical tree; 6dp."""
    from lindel_spark.timeseries import acf

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = acf(ev, ["event_type"], "ts", "value", "event_id",
              lags=[1, 2, 8])
    return out.select("event_type", F.col("lag").cast("long").alias("lag"),
                      "n_pairs", F.round("acf", 6).alias("acf_r6"))


@query(
    "sketch_hll_parts",
    """
    WITH h AS (
      SELECT l_returnflag,
             ('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))::BIGINT
               AS h
      FROM lineitem WHERE l_partkey IS NOT NULL
    ), br AS (
      SELECT l_returnflag, h >> 51 AS bucket,
             CASE WHEN (h & ((CAST(1 AS BIGINT) << 51) - 1)) = 0
                  THEN 52
                  ELSE CAST(round(log2(
                         (h & ((CAST(1 AS BIGINT) << 51) - 1))
                         & -(h & ((CAST(1 AS BIGINT) << 51) - 1))))
                       AS BIGINT) + 1
             END AS rho
      FROM h
    ), reg AS (
      SELECT l_returnflag, bucket, MAX(rho) AS rho
      FROM br GROUP BY l_returnflag, bucket
    ), agg AS (
      SELECT l_returnflag, COUNT(*)::DOUBLE AS present,
             SUM(power(2.0, -(rho::DOUBLE))) AS sp
      FROM reg GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round(CASE WHEN ((0.7213 / (1.0 + 1.079 / 512.0))
                            * 512.0 * 512.0)
                           / (512.0 - present + sp) <= 2.5 * 512.0
                       AND (512.0 - present) > 0
                 THEN 512.0 * ln(512.0 / (512.0 - present))
                 ELSE ((0.7213 / (1.0 + 1.079 / 512.0))
                       * 512.0 * 512.0) / (512.0 - present + sp)
                 END, 4) AS est_r4
    FROM agg
    """,
)
def q_sketch_hll_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct parts per return flag from a deterministic
    HyperLogLog sketch (round 11,
    :func:`lindel_spark.sketch.hll_sketch`): 512 registers whose
    content is a pure function of each value's md5, so — unlike
    engine-opaque HLL state — DuckDB replays every register AND the
    alpha-corrected estimate value-for-value. The fixed-size,
    cheap-merge counterpart to the KMV sketch."""
    from lindel_spark import sketch as SK

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    sk = SK.hll_sketch(li, ["l_returnflag"], "l_partkey", p=9)
    est = SK.hll_estimate(sk, p=9)
    return est.select("l_returnflag", F.round("est", 4).alias("est_r4"))


@query(
    "text_ngram_novelty",
    """
    WITH norm AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '') AS toks
      FROM documents
    ),
    tgt AS (SELECT doc_id, toks FROM norm WHERE doc_id % 2 = 1),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> concat(toks[i], ' ', toks[i + 1], ' ',
                           toks[i + 2])))) AS gram
      FROM tgt WHERE len(toks) >= 3
    ),
    ref AS (
      SELECT DISTINCT
             unnest(list_transform(
               range(1, len(toks) - 1),
               i -> concat(toks[i], ' ', toks[i + 1], ' ',
                           toks[i + 2]))) AS gram
      FROM norm WHERE doc_id % 2 = 0 AND len(toks) >= 3
    ),
    per AS (
      SELECT g.doc_id, COUNT(*)::BIGINT AS n_grams,
             SUM(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_novel
      FROM grams g LEFT JOIN ref r USING (gram)
      GROUP BY g.doc_id
    )
    SELECT t.doc_id,
           COALESCE(p.n_grams, 0)::BIGINT AS n_grams,
           COALESCE(p.n_novel, 0)::BIGINT AS n_novel,
           round(CASE WHEN p.n_grams > 0
                 THEN p.n_novel::DOUBLE / p.n_grams::DOUBLE
                 ELSE NULL END, 6) AS novelty_r6
    FROM tgt t LEFT JOIN per p USING (doc_id)
    """,
)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram novelty of odd documents against the even-document
    reference corpus (round 11,
    :func:`lindel_spark.text.ngram_novelty`): the fraction of each
    doc's distinct word trigrams unseen in the reference — the
    memorization-risk screen that catches re-stitched phrasing the
    doc-level decontamination verdict misses. Gram-keyed joins only;
    6dp."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tgt = docs.filter(F.col("doc_id") % 2 == 1)
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    out = LT.ngram_novelty(tgt, ref, n=3)
    return out.select("doc_id", "n_grams", "n_novel",
                      F.round("novelty", 6).alias("novelty_r6"))


@query(
    "embedding_covariance",
    """
    WITH xe AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) - 1 AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    )
    SELECT a.i::INT AS i, b.i::INT AS j,
           round(SUM(a.x * b.x) / COUNT(*)
                 - (SUM(a.x) / COUNT(*)) * (SUM(b.x) / COUNT(*)), 6)
             AS cov_r6
    FROM xe a JOIN xe b USING (vec_id)
    WHERE b.i >= a.i AND a.i < 8 AND b.i < 8
    GROUP BY a.i, b.i
    """,
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact covariance of the embedding space (round 11,
    :func:`lindel_spark.similarity.covariance_matrix`), upper
    triangle of the first 8 dims for a value-bounded replay — the
    d×d spectral input computed as one map-side-combined Gram
    aggregate; exact sum algebra, 6dp."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cov = LS.covariance_matrix(emb, "embedding")
    return (cov.filter((F.col("i") < 8) & (F.col("j") < 8))
            .select("i", "j", F.round("cov", 6).alias("cov_r6")))


_PCA_ITERS = 8


def _pca_oracle_sql(iters: int) -> str:
    """Generated DuckDB replay of :func:`power_iteration_pca`'s
    FIXED-ITERATION power method (the BPE-oracle precedent for
    adaptive/iterative loops: the oracle unrolls the exact same
    deterministic schedule — v0 = 1/sqrt(d), k matrix-free C·v
    steps, normalize each step, one final sign convention)."""
    ctes = ["""
    xe AS MATERIALIZED (
      SELECT vec_id,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), nn AS MATERIALIZED (SELECT COUNT(DISTINCT vec_id)::DOUBLE AS n FROM xe),
    mu AS MATERIALIZED (
      SELECT pos, SUM(x) / MAX(nn.n) AS mu FROM xe, nn GROUP BY pos
    ),
    v0 AS MATERIALIZED (
      SELECT pos, 1.0 / sqrt(COUNT(*) OVER ()) AS val
      FROM (SELECT DISTINCT pos FROM xe)
    )"""]
    for k in range(1, iters + 1):
        p = k - 1
        ctes.append(f"""
    d{k} AS MATERIALIZED (
      SELECT xe.vec_id, SUM(xe.x * p.val) AS dt
      FROM xe JOIN v{p} p USING (pos) GROUP BY xe.vec_id
    ), s{k} AS MATERIALIZED (
      SELECT xe.pos, SUM(xe.x * d{k}.dt) AS s
      FROM xe JOIN d{k} USING (vec_id) GROUP BY xe.pos
    ), md{k} AS MATERIALIZED (
      SELECT SUM(m.mu * p.val) AS md FROM mu m JOIN v{p} p USING (pos)
    ), w{k} AS MATERIALIZED (
      SELECT s.pos, s.s / nn.n - m.mu * md{k}.md AS w
      FROM s{k} s JOIN mu m USING (pos), md{k}, nn
    ), nr{k} AS MATERIALIZED (SELECT sqrt(SUM(w * w)) AS nr FROM w{k}),
    v{k} AS MATERIALIZED (SELECT pos, w / nr{k}.nr AS val FROM w{k}, nr{k})""")
    last = f"v{iters}"
    return f"""
    WITH {','.join(ctes)},
    sgn AS (
      SELECT CASE WHEN val < 0 THEN -1.0 ELSE 1.0 END AS s
      FROM {last} ORDER BY abs(val) DESC, pos ASC LIMIT 1
    )
    SELECT pos::INT AS pos, round(val * sgn.s, 6) AS loading_r6
    FROM {last}, sgn
    """


@query("embedding_pca_component", _pca_oracle_sql(_PCA_ITERS))
def q_embedding_pca_component(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Top principal component of the embedding space by distributed
    matrix-free power iteration (round 11,
    :func:`lindel_spark.similarity.power_iteration_pca`): a FIXED
    8-step schedule — deterministic by construction (v0 = 1/sqrt(d),
    per-step normalize, final largest-|loading|-positive sign) — so
    the oracle replays the identical iteration unrolled in SQL (the
    BPE-training-loop precedent), value-for-value at 6dp. Convergence
    to the true eigenvector is the PYTEST's job (constructed
    large-eigengap corpus vs NumPy eigh); the registry pins the
    distributed algebra."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    comp = LS.power_iteration_pca(emb, "embedding", iters=_PCA_ITERS)
    return comp.select("pos", F.round("loading", 6).alias("loading_r6"))


def _textrank_oracle(iterations: int = 5, d: float = 0.85,
                     top_n: int = 20) -> str:
    """DuckDB replay of :func:`lindel_spark.text.textrank_keywords`
    (window=2, min_token_len=3) over documents: same co-occurrence
    edge construction, then the shared unrolled PageRank CTEs."""
    head = """
    WITH norm AS (
      SELECT list_filter(
               list_filter(
                 string_split(
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                   ' '),
                 t -> t <> ''),
               t -> length(t) >= 3) AS toks
      FROM documents
    ), o1 AS (
      SELECT unnest(list_transform(range(1, len(toks)),
        i -> struct_pack(a := toks[i], b := toks[i + 1]))) AS u
      FROM norm WHERE len(toks) >= 2
    ), o2 AS (
      SELECT unnest(list_transform(range(1, len(toks) - 1),
        i -> struct_pack(a := toks[i], b := toks[i + 2]))) AS u
      FROM norm WHERE len(toks) >= 2
    ), fp AS (
      SELECT u.a AS a, u.b AS b FROM o1 WHERE u.a <> u.b
      UNION ALL
      SELECT u.a, u.b FROM o2 WHERE u.a <> u.b AND u.b IS NOT NULL
    ), trans AS (
      SELECT src, dst, COUNT(*)::DOUBLE AS w
      FROM (SELECT a AS src, b AS dst FROM fp
            UNION ALL SELECT b, a FROM fp)
      GROUP BY src, dst
    ), nodes AS (
      SELECT src AS node FROM trans UNION SELECT dst FROM trans
    ), nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    outw AS (SELECT src, sum(w) AS wout FROM trans GROUP BY src),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)
    """
    tail = f"""
    SELECT pos::BIGINT AS pos, token, round(score, 6) AS score_r6
    FROM (SELECT row_number() OVER (ORDER BY rank DESC, node) AS pos,
                 node AS token, rank AS score
          FROM r{iterations})
    WHERE pos <= {top_n}
    """
    return head + _pr_iter_sql(iterations, d) + tail


@query("text_textrank_keywords", _textrank_oracle(5, 0.85, 20))
def q_text_textrank_keywords(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TextRank keyword extraction over the document corpus (round
    11, :func:`lindel_spark.text.textrank_keywords`): window-2
    co-occurrence graph (map-only zip_with construction, no per-doc
    self-join) ranked by 5 fixed PageRank iterations — the oracle
    builds the same graph in SQL and replays the shared unrolled
    iteration CTEs; rank-desc/token-asc deterministic top-20, 6dp."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = LT.textrank_keywords(docs, "text", window=2, iterations=5,
                               damping=0.85, top_n=20)
    return out.select(F.col("pos").cast("long").alias("pos"), "token",
                      F.round("score", 6).alias("score_r6"))


@query(
    "profile_benford_prices",
    """
    WITH m AS (
      SELECT abs(o_totalprice::DOUBLE) AS v
      FROM orders
      WHERE o_totalprice IS NOT NULL
    ), d AS (
      SELECT CAST(substr(v::VARCHAR, 1, 1) AS INT) AS digit
      FROM m WHERE v >= 1 AND isfinite(v)
    ), cnts AS (
      SELECT digit, COUNT(*)::BIGINT AS cnt FROM d GROUP BY digit
    ), exp AS (
      SELECT t.d AS digit, log10(1.0 + 1.0 / t.d) AS exp_share
      FROM (SELECT unnest(range(1, 10)) AS d) t
    ), j AS (
      SELECT e.digit, COALESCE(c.cnt, 0)::BIGINT AS cnt, e.exp_share,
             SUM(COALESCE(c.cnt, 0)) OVER () AS n
      FROM exp e LEFT JOIN cnts c USING (digit)
    )
    SELECT digit, cnt,
           round(cnt::DOUBLE / n::DOUBLE, 6) AS obs_share_r6,
           round(exp_share, 6) AS exp_share_r6,
           round((cnt::DOUBLE - n::DOUBLE * exp_share)
                 * (cnt::DOUBLE - n::DOUBLE * exp_share)
                 / (n::DOUBLE * exp_share), 6) AS chi2_term_r6
    FROM j
    """,
)
def q_profile_benford_prices(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals (round 11,
    :func:`lindel_spark.profile.benford_report`): observed vs
    ``log10(1+1/d)`` shares + per-digit chi-square terms — the
    synthetic-data / fabricated-amounts screen. First digit comes
    from the truncated integer's string form (engine-identical, no
    ``floor(log10)`` edge risk); 6dp."""
    from lindel_spark.profile import benford_report

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    out = benford_report(orders, "o_totalprice")
    return out.select(
        "digit", "cnt",
        F.round("obs_share", 6).alias("obs_share_r6"),
        F.round("exp_share", 6).alias("exp_share_r6"),
        F.round("chi2_term", 6).alias("chi2_term_r6"))


@query(
    "profile_chi_square",
    """
    WITH joint AS (
      SELECT o_orderstatus AS a, o_orderpriority AS b,
             COUNT(*)::BIGINT AS c
      FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
      GROUP BY 1, 2
    ), ma AS (SELECT a, SUM(c) AS ca FROM joint GROUP BY a),
    mb AS (SELECT b, SUM(c) AS cb FROM joint GROUP BY b),
    nn AS (SELECT SUM(c)::DOUBLE AS n, SUM(c)::BIGINT AS nl FROM joint),
    cells AS (
      SELECT ma.a, mb.b, ma.ca, mb.cb, COALESCE(j.c, 0)::DOUBLE AS o
      FROM ma CROSS JOIN mb LEFT JOIN joint j
        ON j.a = ma.a AND j.b = mb.b
    )
    SELECT nn.nl AS n,
           ((SELECT COUNT(*) FROM ma) - 1)::BIGINT
             * ((SELECT COUNT(*) FROM mb) - 1)::BIGINT AS dof,
           round(SUM((o - ca::DOUBLE * cb::DOUBLE / nn.n)
                     * (o - ca::DOUBLE * cb::DOUBLE / nn.n)
                     / (ca::DOUBLE * cb::DOUBLE / nn.n)), 6)
             AS chi2_r6,
           round(sqrt(SUM((o - ca::DOUBLE * cb::DOUBLE / nn.n)
                          * (o - ca::DOUBLE * cb::DOUBLE / nn.n)
                          / (ca::DOUBLE * cb::DOUBLE / nn.n))
                      / (nn.n * LEAST((SELECT COUNT(*) FROM ma) - 1,
                                      (SELECT COUNT(*) FROM mb) - 1))),
                 6) AS cramers_v_r6
    FROM cells, nn
    GROUP BY nn.nl, nn.n
    """,
)
def q_profile_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between order status and priority
    (round 11, :func:`lindel_spark.profile.chi_square_independence`):
    the significance-scaled companion to the MI screen over the same
    column pair — expected counts over the FULL marginal cross so
    zero-joint cells still contribute; Cramér's V normalizes; 6dp."""
    from lindel_spark.profile import chi_square_independence

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    out = chi_square_independence(orders, "o_orderstatus",
                                  "o_orderpriority")
    return out.select("n", "dof", F.round("chi2", 6).alias("chi2_r6"),
                      F.round("cramers_v", 6).alias("cramers_v_r6"))


#: shared score/label derivation for the evaluation-metric queries: a
#: noisy monotone transform of the event value as the "model score",
#: the clean threshold as the binary label (the agreement_kappa
#: fixture family) — identical expressions in both engines.
_EVAL_PAIR_SQL = """
      SELECT LEAST(1.0, GREATEST(0.0,
               (value + (user_id % 20) - 10.0) / 100.0)) AS s,
             CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
"""


def _eval_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (ev.filter(F.col("value").isNotNull()
                      & F.col("user_id").isNotNull())
            .select(
        F.least(F.lit(1.0), F.greatest(
            F.lit(0.0),
            (F.col("value") + (F.col("user_id") % 20).cast("double")
             - F.lit(10.0)) / F.lit(100.0))).alias("s"),
        F.when(F.col("value") > 50.0, 1).otherwise(0).alias("y")))


@query(
    "eval_roc_auc",
    f"""
    WITH pairs AS ({_EVAL_PAIR_SQL}),
    counts AS (
      SELECT s, SUM(y)::BIGINT AS pos,
             SUM(1 - y)::BIGINT AS neg
      FROM pairs GROUP BY s
    ), t AS (
      SELECT pos, neg, pos + neg AS cnt,
             SUM(pos + neg) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM counts
    )
    SELECT SUM(pos)::BIGINT AS n_pos, SUM(neg)::BIGINT AS n_neg,
           round((SUM(pos::DOUBLE * ((cum - cnt)::DOUBLE
                                     + (cnt::DOUBLE + 1.0) / 2.0))
                  - SUM(pos)::DOUBLE * (SUM(pos)::DOUBLE + 1.0) / 2.0)
                 / (SUM(pos)::DOUBLE * SUM(neg)::DOUBLE), 6) AS auc_r6
    FROM t
    """,
)
def q_eval_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC-AUC of the noisy score against the
    clean threshold label (round 11,
    :func:`lindel_spark.evaluation.roc_auc`): Mann–Whitney midrank
    identity — no threshold sweep; the distributed prefix sum over
    the distinct-score table replayed by the oracle's cumulative
    window; 6dp."""
    from lindel_spark.evaluation import roc_auc

    out = roc_auc(_eval_pairs(spark, sf_dir), "s", "y")
    return out.select("n_pos", "n_neg",
                      F.round("auc", 6).alias("auc_r6"))


@query(
    "eval_avg_precision",
    f"""
    WITH pairs AS ({_EVAL_PAIR_SQL}),
    counts AS (
      SELECT s, SUM(y)::BIGINT AS pos, SUM(1 - y)::BIGINT AS neg
      FROM pairs GROUP BY s
    ), t AS (
      SELECT pos, neg,
             SUM(pos) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_pos_d,
             SUM(pos + neg) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_cnt_d
      FROM counts
    )
    SELECT SUM(pos)::BIGINT AS n_pos, SUM(neg)::BIGINT AS n_neg,
           round(SUM(CASE WHEN pos > 0 THEN
                  (pos::DOUBLE / (SELECT SUM(pos) FROM counts))
                  * (cum_pos_d::DOUBLE / cum_cnt_d::DOUBLE)
                  ELSE 0.0 END), 6) AS ap_r6
    FROM t
    """,
)
def q_eval_avg_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision / PR-AUC (round 12,
    :func:`lindel_spark.evaluation.average_precision`): step-wise
    ``Σ ΔR·P`` over distinct thresholds descending — the
    imbalance-robust companion to ``eval_roc_auc`` on the same
    scored frame; the oracle's descending cumulative window replays
    the distributed prefix-sum complement exactly; 6dp."""
    from lindel_spark.evaluation import average_precision

    out = average_precision(_eval_pairs(spark, sf_dir), "s", "y")
    return out.select("n_pos", "n_neg",
                      F.round("ap", 6).alias("ap_r6"))


@query(
    "eval_calibration",
    f"""
    WITH pairs AS ({_EVAL_PAIR_SQL})
    SELECT LEAST(9, CAST(floor(s * 10) AS INT)) AS bin,
           COUNT(*)::BIGINT AS n,
           round(AVG(s), 6) AS avg_score_r6,
           round(AVG(y::DOUBLE), 6) AS frac_pos_r6
    FROM pairs GROUP BY 1
    """,
)
def q_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the noisy score (round 11,
    :func:`lindel_spark.evaluation.calibration_bins`): 10 equal-width
    probability bins with observed positive rate — the calibration
    curve + ECE inputs; n_bins rows of state; 6dp."""
    from lindel_spark.evaluation import calibration_bins

    out = calibration_bins(_eval_pairs(spark, sf_dir), "s", "y",
                           n_bins=10)
    return out.select("bin", "n",
                      F.round("avg_score", 6).alias("avg_score_r6"),
                      F.round("frac_pos", 6).alias("frac_pos_r6"))


@query(
    "eval_brier",
    f"""
    WITH pairs AS ({_EVAL_PAIR_SQL})
    SELECT COUNT(*)::BIGINT AS n,
           round(AVG((s - y::DOUBLE) * (s - y::DOUBLE)), 6) AS brier_r6,
           round(AVG(y::DOUBLE), 6) AS base_rate_r6
    FROM pairs
    """,
)
def q_eval_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the noisy probability forecast (round 11,
    :func:`lindel_spark.evaluation.brier_score`) with the base rate
    it must beat (constant-forecast score = p(1−p)); 6dp."""
    from lindel_spark.evaluation import brier_score

    out = brier_score(_eval_pairs(spark, sf_dir), "s", "y")
    return out.select("n", F.round("brier", 6).alias("brier_r6"),
                      F.round("base_rate", 6).alias("base_rate_r6"))


@query(
    "events_cusum",
    """
    WITH c AS (
      SELECT event_type, ts, event_id,
             SUM(value - 55.0) OVER w AS chi,
             SUM(-(value - 45.0)) OVER w AS clo
      FROM events WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), s AS (
      SELECT event_type,
             chi - LEAST(0.0, MIN(chi) OVER w2) AS hi,
             clo - LEAST(0.0, MIN(clo) OVER w2) AS lo
      FROM c
      WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, COUNT(*)::BIGINT AS n,
           SUM(CASE WHEN round(hi, 6) > 400.0 THEN 1 ELSE 0 END)::BIGINT
             AS n_alarm_hi,
           SUM(CASE WHEN round(lo, 6) > 400.0 THEN 1 ELSE 0 END)::BIGINT
             AS n_alarm_lo,
           round(MAX(hi), 6) AS max_hi_r6,
           round(MAX(lo), 6) AS max_lo_r6
    FROM s GROUP BY event_type
    """,
)
def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift alarms per event type (round 11,
    :func:`lindel_spark.timeseries.cusum_changepoints`): one-sided
    cumulative sums around target 50 ± slack 5, alarm at 400 — the
    telescoped closed window form (cum − running min), sequential
    window order identical in both engines so even the float sums
    replay; per-type alarm counts + max excursions; 6dp."""
    from lindel_spark.timeseries import cusum_changepoints

    ev = (spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
          .filter(F.col("value").isNotNull()))
    out = cusum_changepoints(ev, ["event_type"], "ts", "value",
                             "event_id", target=50.0, slack=5.0,
                             threshold=400.0)
    # alarm counts re-derived from 6dp-ROUNDED sums (not the
    # operator's exact flags): a cumulative sum can land within an
    # ulp of the threshold, where engine-internal accumulation-order
    # noise (DuckDB's windowed SUM uses tree aggregation) would flip
    # a strict comparison — observed once at sf0.1 (signup, exactly
    # 400.0). Rounding first makes the knife-edge deterministic in
    # both engines; the operator's own alarm columns stay exact.
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.round(F.col("cusum_hi"), 6) > 400.0, 1)
              .otherwise(0)).cast("long").alias("n_alarm_hi"),
        F.sum(F.when(F.round(F.col("cusum_lo"), 6) > 400.0, 1)
              .otherwise(0)).cast("long").alias("n_alarm_lo"),
        F.round(F.max("cusum_hi"), 6).alias("max_hi_r6"),
        F.round(F.max("cusum_lo"), 6).alias("max_lo_r6"))


@query(
    "features_corr_matrix",
    """
    WITH p AS (
      SELECT l_quantity::DOUBLE AS q, l_extendedprice::DOUBLE AS e,
             l_discount::DOUBLE AS d, l_tax::DOUBLE AS t
      FROM lineitem
    ), pairs AS (
      SELECT 'l_quantity' AS col_a, 'l_quantity' AS col_b,
             COUNT(q)::BIGINT AS n,
             COUNT(q)*SUM(q*q) - SUM(q)*SUM(q) AS vx,
             COUNT(q)*SUM(q*q) - SUM(q)*SUM(q) AS vy,
             COUNT(q)*SUM(q*q) - SUM(q)*SUM(q) AS cv
      FROM p
      UNION ALL SELECT 'l_quantity', 'l_extendedprice', COUNT(*),
             COUNT(*)*SUM(q*q) - SUM(q)*SUM(q),
             COUNT(*)*SUM(e*e) - SUM(e)*SUM(e),
             COUNT(*)*SUM(q*e) - SUM(q)*SUM(e) FROM p
      UNION ALL SELECT 'l_quantity', 'l_discount', COUNT(*),
             COUNT(*)*SUM(q*q) - SUM(q)*SUM(q),
             COUNT(*)*SUM(d*d) - SUM(d)*SUM(d),
             COUNT(*)*SUM(q*d) - SUM(q)*SUM(d) FROM p
      UNION ALL SELECT 'l_quantity', 'l_tax', COUNT(*),
             COUNT(*)*SUM(q*q) - SUM(q)*SUM(q),
             COUNT(*)*SUM(t*t) - SUM(t)*SUM(t),
             COUNT(*)*SUM(q*t) - SUM(q)*SUM(t) FROM p
      UNION ALL SELECT 'l_extendedprice', 'l_extendedprice', COUNT(*),
             COUNT(*)*SUM(e*e) - SUM(e)*SUM(e),
             COUNT(*)*SUM(e*e) - SUM(e)*SUM(e),
             COUNT(*)*SUM(e*e) - SUM(e)*SUM(e) FROM p
      UNION ALL SELECT 'l_extendedprice', 'l_discount', COUNT(*),
             COUNT(*)*SUM(e*e) - SUM(e)*SUM(e),
             COUNT(*)*SUM(d*d) - SUM(d)*SUM(d),
             COUNT(*)*SUM(e*d) - SUM(e)*SUM(d) FROM p
      UNION ALL SELECT 'l_extendedprice', 'l_tax', COUNT(*),
             COUNT(*)*SUM(e*e) - SUM(e)*SUM(e),
             COUNT(*)*SUM(t*t) - SUM(t)*SUM(t),
             COUNT(*)*SUM(e*t) - SUM(e)*SUM(t) FROM p
      UNION ALL SELECT 'l_discount', 'l_discount', COUNT(*),
             COUNT(*)*SUM(d*d) - SUM(d)*SUM(d),
             COUNT(*)*SUM(d*d) - SUM(d)*SUM(d),
             COUNT(*)*SUM(d*d) - SUM(d)*SUM(d) FROM p
      UNION ALL SELECT 'l_discount', 'l_tax', COUNT(*),
             COUNT(*)*SUM(d*d) - SUM(d)*SUM(d),
             COUNT(*)*SUM(t*t) - SUM(t)*SUM(t),
             COUNT(*)*SUM(d*t) - SUM(d)*SUM(t) FROM p
      UNION ALL SELECT 'l_tax', 'l_tax', COUNT(*),
             COUNT(*)*SUM(t*t) - SUM(t)*SUM(t),
             COUNT(*)*SUM(t*t) - SUM(t)*SUM(t),
             COUNT(*)*SUM(t*t) - SUM(t)*SUM(t) FROM p
    )
    SELECT col_a, col_b, n,
           round(CASE WHEN vx > 0 AND vy > 0
                 THEN cv / sqrt(vx * vy) ELSE NULL END, 6) AS corr_r6
    FROM pairs
    """,
)
def q_features_corr_matrix(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem numeric
    columns (round 11, :func:`lindel_spark.features.corr_matrix`):
    every pair from ONE aggregation pass (five raw sums per pair,
    closed normal-equation form, pairwise-complete n); the
    redundant-feature pruning input; 6dp."""
    from lindel_spark.features import corr_matrix

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    out = corr_matrix(li, ["l_quantity", "l_extendedprice",
                           "l_discount", "l_tax"])
    return out.select("col_a", "col_b", "n",
                      F.round("corr", 6).alias("corr_r6"))


@query(
    "linkage_jaro_pairs",
    """
    WITH c AS (
      SELECT c_custkey::BIGINT AS id, c_name AS name,
             c_nationkey AS nat, c_mktsegment AS seg, c_acctbal AS bal,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS balb
      FROM customer
    ), scored AS (
      SELECT a.id AS id_a, b.id AS id_b,
             round(0.6 * jaro_winkler_similarity(a.name, b.name)
                   + 0.4 * GREATEST(0.0,
                             1.0 - ABS(a.bal - b.bal) / 500.0),
                   9) AS score
      FROM c a JOIN c b
        ON a.nat = b.nat AND a.seg = b.seg AND a.balb = b.balb
       AND a.id < b.id
    )
    SELECT id_a, id_b, score FROM scored WHERE score >= 0.93
    """,
)
def q_linkage_jaro_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage with the Jaro–Winkler name comparator (round
    11, :func:`lindel_spark.linkage.jaro_winkler`): same blocking as
    ``linkage_customer_pairs`` but the name term forgives
    transpositions and rewards shared prefixes — scored against
    DuckDB's built-in ``jaro_winkler_similarity``, which the
    pandas-batch kernel matches bit-for-bit (3k-case fuzz pinned in
    tests/test_linkage_jw.py)."""
    from lindel_spark import linkage as LK

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    cust = cust.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_name", "c_nationkey", "c_mktsegment", "c_acctbal",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("balb"))
    pairs = LK.record_linkage(
        cust, "c_custkey",
        block_cols=["c_nationkey", "c_mktsegment", "balb"],
        fields=[LK.LinkField("c_name", "jaro_winkler", weight=0.6),
                LK.LinkField("c_acctbal", "numeric", weight=0.4,
                             scale=500.0)],
        threshold=0.93)
    return pairs.select(F.col("id_a").cast("long").alias("id_a"),
                        F.col("id_b").cast("long").alias("id_b"),
                        "score")


@query(
    "parts_band_join",
    """
    SELECT a.p_partkey::BIGINT AS id_a, b.p_partkey::BIGINT AS id_b,
           a.p_retailprice::DOUBLE AS price_a,
           b.p_retailprice::DOUBLE AS price_b
    FROM part a JOIN part b
      ON abs(a.p_retailprice - b.p_retailprice) <= 5.0
    WHERE a.p_partkey % 40 = 0 AND b.p_partkey % 40 = 20
    """,
)
def q_parts_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D numeric band join (round 11,
    :func:`lindel_spark.joins.band_join`): price-proximity pairs
    (|Δprice| ≤ 5) between two part samples via the floor(v/eps)
    cell trick + 3-cell probe — a hash equi-join where the bare
    inequality would plan as a quadratic BroadcastNestedLoopJoin.
    Oracle runs the plain inequality join."""
    from lindel_spark.joins import band_join

    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    a = part.filter(F.col("p_partkey") % 40 == 0).select(
        F.col("p_partkey").cast("long").alias("id_a"),
        F.col("p_retailprice").cast("double").alias("price_a"))
    b = part.filter(F.col("p_partkey") % 40 == 20).select(
        F.col("p_partkey").cast("long").alias("id_b"),
        F.col("p_retailprice").cast("double").alias("price_b"))
    out = band_join(a, b, "price_a", "price_b", eps=5.0)
    return out.select("id_a", "id_b", "price_a", "price_b")


@query(
    "events_interarrival",
    """
    WITH g AS (
      SELECT event_type,
             (epoch_us(ts) - epoch_us(LAG(ts) OVER
               (PARTITION BY event_type ORDER BY ts, event_id)))::DOUBLE
               / 1e6 AS gap
      FROM events
    ), a AS (
      SELECT event_type, COUNT(*)::BIGINT AS n_gaps,
             SUM(gap) AS s, SUM(gap * gap) AS ss, MAX(gap) AS mx
      FROM g WHERE gap IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n_gaps,
           round(s / n_gaps, 6) AS mean_gap_r6,
           round(sqrt(GREATEST(ss / n_gaps
                               - (s / n_gaps) * (s / n_gaps), 0.0)), 6)
             AS std_gap_r6,
           round(sqrt(GREATEST(ss / n_gaps
                               - (s / n_gaps) * (s / n_gaps), 0.0))
                 / (s / n_gaps), 6) AS cv_r6,
           round(mx, 6) AS max_gap_r6
    FROM a
    """,
)
def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness profile per event type (round 11,
    :func:`lindel_spark.timeseries.interarrival_stats`): CV ≈ 1 is
    Poisson-like, ≫ 1 is bursts+silences, ≈ 0 is synthetic metronome
    traffic; closed population-std algebra; 6dp."""
    from lindel_spark.timeseries import interarrival_stats

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = interarrival_stats(ev, ["event_type"], "ts", "event_id")
    return out.select(
        "event_type", "n_gaps",
        F.round("mean_gap_s", 6).alias("mean_gap_r6"),
        F.round("std_gap_s", 6).alias("std_gap_r6"),
        F.round("cv", 6).alias("cv_r6"),
        F.round("max_gap_s", 6).alias("max_gap_r6"))


@query(
    "events_gap_report",
    """
    WITH s AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev
      FROM events WHERE user_id % 97 = 0
    )
    SELECT user_id::BIGINT AS user_id,
           epoch_us(prev)::BIGINT AS gap_start_us,
           epoch_us(ts)::BIGINT AS gap_end_us,
           round((epoch_us(ts) - epoch_us(prev))::DOUBLE / 1e6, 6)
             AS gap_seconds_r6
    FROM s
    WHERE prev IS NOT NULL
      AND (epoch_us(ts) - epoch_us(prev))::DOUBLE / 1e6 > 43200.0
    """,
)
def q_events_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-data gap report (round 11,
    :func:`lindel_spark.timeseries.gap_report`): every >12 h silence
    in a sampled user's event stream — the ingestion-outage /
    completeness-SLA report (the inverse of sessionization); exact
    timestamps, 6dp seconds."""
    from lindel_spark.timeseries import gap_report

    ev = (spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
          .filter(F.col("user_id") % 97 == 0))
    out = gap_report(ev, ["user_id"], "ts", "event_id",
                     max_gap="12 hours")
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros(F.col("gap_start").cast("timestamp"))
        .alias("gap_start_us"),
        F.unix_micros(F.col("gap_end").cast("timestamp"))
        .alias("gap_end_us"),
        F.round("gap_seconds", 6).alias("gap_seconds_r6"))


@query(
    "events_rolling_zscore",
    """
    WITH s AS (
      SELECT event_id, value::DOUBLE AS x,
             COUNT(value) OVER w AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
               AS s,
             CAST(SUM(CAST(value AS DECIMAL(18,6))
                      * CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
               AS ss
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id::BIGINT AS event_id,
           round(CASE WHEN n >= 5
                       AND sqrt(GREATEST(ss / n - (s / n) * (s / n),
                                         0.0)) > 0
                 THEN (x - s / n)
                      / sqrt(GREATEST(ss / n - (s / n) * (s / n), 0.0))
                 ELSE NULL END, 4) AS zscore_r4
    FROM s
    """,
)
def q_events_rolling_zscore(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Rolling-window point-anomaly score (round 11,
    :func:`lindel_spark.timeseries.rolling_zscore`): each event's
    z-score against the PRECEDING 20 events of its type (self
    excluded so a spike can't mask itself); cold-start and
    zero-variance emit NULL; the point-anomaly sibling of the CUSUM
    drift alarm; 4dp (see the in-body note)."""
    from lindel_spark.timeseries import rolling_zscore

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = rolling_zscore(ev, ["event_type"], "ts", "value",
                         "event_id", lookback=20, min_points=5)
    # window sums run in DECIMAL on both engines (exact under any
    # accumulation order — DuckDB's segment-tree window sums vs
    # Spark's sequential frame made near-zero-variance windows
    # explode differently at sf1), so every score is bit-identical;
    # 4dp kept for the huge-z near-degenerate windows where the
    # final double algebra still rounds.
    return out.select(F.col("event_id").cast("long").alias("event_id"),
                      F.round("zscore", 4).alias("zscore_r4"))


@query(
    "text_pmi_collocations",
    """
    WITH norm AS (
      SELECT list_filter(
               list_filter(
                 string_split(
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                   ' '),
                 t -> t <> ''),
               t -> length(t) >= 3) AS toks
      FROM documents
    ), pairs AS (
      SELECT u.l AS l, u.r AS r FROM (
        SELECT unnest(list_transform(range(1, len(toks)),
          i -> struct_pack(l := toks[i], r := toks[i + 1]))) AS u
        FROM norm WHERE len(toks) >= 2)
    ), pc AS (
      SELECT l, r, COUNT(*)::BIGINT AS n_pair FROM pairs GROUP BY l, r
    ), ml AS (SELECT l, SUM(n_pair) AS cl FROM pc GROUP BY l),
    mr AS (SELECT r, SUM(n_pair) AS cr FROM pc GROUP BY r),
    nn AS (SELECT SUM(n_pair)::DOUBLE AS n FROM pc),
    scored AS (
      SELECT pc.l, pc.r, pc.n_pair,
             ln(nn.n * pc.n_pair::DOUBLE
                / (ml.cl::DOUBLE * mr.cr::DOUBLE)) AS pmi
      FROM pc JOIN ml USING (l) JOIN mr USING (r), nn
      WHERE pc.n_pair >= 5
    )
    SELECT pos::BIGINT AS pos, l AS left_tok, r AS right_tok, n_pair,
           round(pmi, 6) AS pmi_r6
    FROM (SELECT *, row_number() OVER (ORDER BY pmi DESC, l, r) AS pos
          FROM scored)
    WHERE pos <= 30
    """,
)
def q_text_pmi_collocations(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Top-30 PMI collocations over adjacent token pairs (round 11,
    :func:`lindel_spark.text.pmi_collocations`): the multi-word-
    expression detector raw pair frequency gets wrong; min-count 5
    floors hapax pairs; pmi over integer counts is bit-identical in
    both engines so even the ranking replays; 6dp."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = LT.pmi_collocations(docs, "text", min_count=5, top_n=30)
    return out.select(F.col("pos").cast("long").alias("pos"),
                      F.col("left").alias("left_tok"),
                      F.col("right").alias("right_tok"), "n_pair",
                      F.round("pmi", 6).alias("pmi_r6"))


@query(
    "zorder_store_vacuum_cycle",
    """
    SELECT COUNT(*)::BIGINT AS n_rows,
           SUM(l_orderkey)::BIGINT AS sum_ok,
           1::BIGINT AS bases_kept,
           true AS history_gone
    FROM lineitem
    """,
)
def q_zorder_store_vacuum_cycle(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Retention-vacuum lifecycle (round 11,
    :func:`lindel_spark.write.zorder_store_vacuum`): init (v0) +
    append + forced maintenance (v1 commits, v0 retained for time
    travel) + ``vacuum(keep_versions=1)`` — exactly one base/manifest
    generation must remain on disk, the v0 time-travel read must fail
    loudly, and the current read must still equal the raw table
    (asserted in-frame; the oracle recomputes the aggregate and the
    expected retention facts)."""
    import tempfile

    from lindel_spark import fs as _fs
    from lindel_spark import write as LWR

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    store = os.path.join(tempfile.mkdtemp(prefix="lindel_zvac_"), "s")
    cols = [F.col("l_orderkey").cast("int"),
            F.col("l_partkey").cast("int")]
    LWR.zorder_store_init(li.filter("l_orderkey % 5 != 0"), cols,
                          store, stat_cols=["l_orderkey"],
                          elem="int32", num_files=8)
    LWR.zorder_store_append(li.filter("l_orderkey % 5 = 0"), store)
    st = LWR.zorder_store_maintain(spark, store, cols,
                                   tail_ratio=0.0001, elem="int32",
                                   num_files=8)
    assert st["rewritten"], "tail must force the rewrite"
    rep = LWR.zorder_store_vacuum(spark, store, keep_versions=1)
    bases_kept = len([d for d in rep["kept"]
                      if d.startswith("base-v")])
    assert "base-v0" in rep["deleted"], rep
    try:
        LWR.zorder_store_read(spark, store, version=0)
        history_gone = False
    except FileNotFoundError:
        history_gone = True
    out = LWR.zorder_store_read(spark, store)
    return out.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("l_orderkey").cast("long").alias("sum_ok"),
        F.lit(bases_kept).cast("long").alias("bases_kept"),
        F.lit(history_gone).alias("history_gone"))


@query(
    "events_ks_test",
    """
    WITH a AS (
      SELECT value::DOUBLE AS v FROM events
      WHERE event_type = 'click' AND value IS NOT NULL
    ), b AS (
      SELECT value::DOUBLE AS v FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL
    ), ca AS (SELECT v, COUNT(*)::BIGINT AS c FROM a GROUP BY v),
    cb AS (SELECT v, COUNT(*)::BIGINT AS c FROM b GROUP BY v),
    m AS (
      SELECT COALESCE(ca.v, cb.v) AS v,
             COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb
      FROM ca FULL JOIN cb ON ca.v = cb.v
    ), nn AS (
      SELECT SUM(ca)::BIGINT AS n_a, SUM(cb)::BIGINT AS n_b FROM m
    ), cum AS (
      SELECT v,
             SUM(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
             SUM(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb
      FROM m
    ), d AS (
      SELECT v, abs(cca::DOUBLE / nn.n_a - ccb::DOUBLE / nn.n_b) AS dd
      FROM cum, nn
    )
    SELECT nn.n_a, nn.n_b,
           round(MAX(dd), 6) AS ks_d_r6,
           round(MIN(CASE WHEN dd = (SELECT MAX(dd) FROM d)
                          THEN v END), 6) AS at_value_r6
    FROM d, nn GROUP BY nn.n_a, nn.n_b
    """,
)
def q_events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between click and
    purchase event values (round 11,
    :func:`lindel_spark.profile.ks_test`): the bin-free drift test
    (PSI needs a binning, KS doesn't) — pooled empirical CDFs via the
    repo's distributed prefix sum, exact integer algebra to the final
    divisions, deterministic argmax; 6dp."""
    from lindel_spark.profile import ks_test

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    a = ev.filter(F.col("event_type") == "click")
    b = ev.filter(F.col("event_type") == "purchase")
    out = ks_test(a, b, "value")
    return out.select("n_a", "n_b",
                      F.round("ks_d", 6).alias("ks_d_r6"),
                      F.round("at_value", 6).alias("at_value_r6"))


@query(
    "text_url_canonical",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 2 = 0 THEN
             'http://shop.example.com/cat/'
               || CAST(o_custkey % 50 AS VARCHAR) || '/item/'
               || CAST(o_orderkey AS VARCHAR)
               || '?a=' || o_orderstatus
               || '&ref=' || CAST(o_orderkey % 7 AS VARCHAR)
           ELSE
             'https://shop.example.com/cat/'
               || CAST(o_custkey % 50 AS VARCHAR) || '/item/'
               || CAST(o_orderkey AS VARCHAR)
               || '?a=' || o_orderstatus
               || '&ref=' || CAST(o_orderkey % 7 AS VARCHAR)
           END AS canon_url
    FROM orders
    """,
)
def q_text_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (round 11,
    :func:`lindel_spark.text.canonicalize_url`): messy crawl-style
    URLs seeded from order keys — mixed-case scheme/host, default
    ports, tracking params, unsorted query, trailing slash, fragment
    — must collapse to the clean form the oracle CONSTRUCTS directly
    from the same keys (it never parses: an independent derivation,
    not a replay)."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    messy = F.when(
        F.col("o_orderkey") % 2 == 0,
        F.concat(F.lit("HTTP://Shop.Example.COM:80/cat/"),
                 (F.col("o_custkey") % 50).cast("string"),
                 F.lit("/item/"),
                 F.col("o_orderkey").cast("string"),
                 F.lit("/?utm_source=mail&ref="),
                 (F.col("o_orderkey") % 7).cast("string"),
                 F.lit("&a="), F.col("o_orderstatus"),
                 F.lit("#sec"))
    ).otherwise(
        F.concat(F.lit("HTTPS://Shop.Example.COM:443/cat/"),
                 (F.col("o_custkey") % 50).cast("string"),
                 F.lit("/item/"),
                 F.col("o_orderkey").cast("string"),
                 F.lit("?ref="),
                 (F.col("o_orderkey") % 7).cast("string"),
                 F.lit("&fbclid=xyz&a="), F.col("o_orderstatus")))
    return orders.select(
        "o_orderkey", LT.canonicalize_url(messy).alias("canon_url"))


def _lpa_oracle(rounds: int = 2) -> str:
    """DuckDB replay of
    :func:`lindel_spark.graph.label_propagation_communities` over the
    part co-purchase graph, rounds unrolled (the pagerank idiom);
    the argmax tie-break (count desc, label asc) mirrors the
    engine's ``max(struct(cnt, −label))`` aggregate exactly."""
    head = """
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey::BIGINT AS s,
                      b.l_partkey::BIGINT AS d
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), sym AS MATERIALIZED (
      SELECT s, d FROM e0 UNION SELECT d, s FROM e0
    ), l0 AS (
      SELECT DISTINCT s AS node, s AS label FROM sym
    )"""
    its = []
    for i in range(1, rounds + 1):
        its.append(f"""
    , v{i} AS MATERIALIZED (
      SELECT sym.s AS node, l.label, COUNT(*)::BIGINT AS c
      FROM sym JOIN l{i - 1} l ON l.node = sym.d
      GROUP BY 1, 2
    ), l{i} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label ASC) AS rn
        FROM v{i}) WHERE rn = 1
    )""")
    return head + "".join(its) + f"""
    SELECT node, label FROM l{rounds}
    """


def _modularity_oracle(rounds: int = 2) -> str:
    """Modularity tail composed onto the unrolled LPA replay: exact
    count algebra over the canonical (undirected) edge set ``e0`` —
    m_in per label (both endpoints inside), degree sums, then
    q_c = m_in/m − (d_c/2m)²."""
    lpa = _lpa_oracle(rounds)
    body = lpa[:lpa.rfind("SELECT node, label")]
    return body + f"""
    , comm AS (SELECT node, label FROM l{rounds})
    , lab_e AS (
      SELECT e0.s, e0.d, ca.label AS la, cb.label AS lb
      FROM e0 JOIN comm ca ON ca.node = e0.s
              JOIN comm cb ON cb.node = e0.d
    )
    , m_in AS (
      SELECT la AS label, COUNT(*)::BIGINT AS m_in FROM lab_e
      WHERE la = lb GROUP BY 1
    )
    , deg AS (
      SELECT node, COUNT(*)::BIGINT AS d FROM (
        SELECT s AS node FROM e0 UNION ALL SELECT d FROM e0
      ) GROUP BY 1
    )
    , dc AS (
      SELECT comm.label, COUNT(*)::BIGINT AS n_nodes,
             SUM(COALESCE(deg.d, 0))::BIGINT AS d_c
      FROM comm LEFT JOIN deg USING (node) GROUP BY 1
    )
    , mm AS (SELECT COUNT(*)::DOUBLE AS m FROM e0)
    SELECT dc.label, dc.n_nodes,
           COALESCE(m_in.m_in, 0)::BIGINT AS m_in, dc.d_c,
           round(COALESCE(m_in.m_in, 0)::DOUBLE / mm.m
                 - (dc.d_c::DOUBLE / (2.0 * mm.m))
                 * (dc.d_c::DOUBLE / (2.0 * mm.m)), 6) + 0.0 AS q_c_r6
    FROM dc LEFT JOIN m_in USING (label) CROSS JOIN mm
    """


@query("graph_modularity", _modularity_oracle(2))
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity of the 2-round LPA communities (round 12,
    :func:`lindel_spark.graph.modularity`): per-community
    ``q_c = m_in/m − (d_c/2m)²`` whose sum is Newman's Q — the
    clustering-quality score closing the graph-health tier
    (degree_profile → kcore → did-LPA-find-structure). Exact count
    algebra over the same canonical edge set; the oracle composes
    the modularity tail onto the unrolled LPA replay."""
    from lindel_spark.graph import label_propagation_communities, \
        modularity

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok")
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    comm = label_propagation_communities(edges, rounds=2)
    out = modularity(edges, comm)
    # + 0.0 normalizes the signed zero a tiny-negative q_c rounds to
    # (singleton communities): DuckDB's round keeps -0.0, Spark's
    # doesn't — IEEE -0.0 + 0.0 = +0.0 on both
    return out.select("label", "n_nodes", "m_in", "d_c",
                      (F.round("q_c", 6) + F.lit(0.0)).alias("q_c_r6"))


@query("graph_lpa_communities", _lpa_oracle(2))
def q_graph_lpa_communities(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Label-propagation communities over the part co-purchase graph
    (round 11,
    :func:`lindel_spark.graph.label_propagation_communities`): two
    deterministic synchronous rounds (most-frequent neighbor label,
    ties to the smallest — an aggregate-only argmax, no window), the
    densely-attached complement to connected components; the oracle
    unrolls the identical rounds."""
    from lindel_spark.graph import label_propagation_communities

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok")
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    return label_propagation_communities(edges, rounds=2)


@query(
    "sampling_importance_weights",
    f"""
    WITH base AS (
      SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents
    ), feats AS (
      SELECT doc_id, lang,
             unnest(list_concat(toks,
               CASE WHEN len(toks) >= 2 THEN
                 list_transform(range(1, len(toks)),
                                i -> toks[i] || ' ' || toks[i + 1])
               ELSE [] END)) AS f
      FROM base
    ), fb AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5('|' || f), 1, 15))::BIGINT % 8192
               AS bucket
      FROM feats
    ), tc AS (
      SELECT bucket, COUNT(*)::BIGINT AS ct FROM fb
      WHERE lang = 'en' GROUP BY 1
    ), rc AS (
      SELECT bucket, COUNT(*)::BIGINT AS cr FROM fb GROUP BY 1
    ), tt AS (SELECT SUM(ct)::DOUBLE AS t FROM tc),
    tr AS (SELECT SUM(cr)::DOUBLE AS t FROM rc),
    dfm AS (
      SELECT doc_id, bucket, COUNT(*)::BIGINT AS m FROM fb GROUP BY 1, 2
    ), sc AS (
      SELECT doc_id, SUM(m)::BIGINT AS n_feats,
             SUM(m::DOUBLE * (ln(COALESCE(tc.ct, 0) + 1.0)
                              - ln(COALESCE(rc.cr, 0) + 1.0))) AS s
      FROM dfm LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)
      GROUP BY 1
    )
    SELECT doc_id, n_feats,
           round(s - n_feats::DOUBLE
                 * (ln(tt.t + 8192.0) - ln(tr.t + 8192.0)), 6)
             AS logweight_r6
    FROM sc CROSS JOIN tt CROSS JOIN tr
    """,
)
def q_sampling_importance_weights(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """DSIR-style importance log-weights (round 12,
    :func:`lindel_spark.sampling.importance_weights`): every document
    scored by how much more likely its hashed unigram+bigram features
    are under the TARGET slice (here lang='en') than under the whole
    pool — Laplace-smoothed bucket models, md5 buckets (the kfold
    hash idiom), log-count algebra; feed the weights to the existing
    weighted samplers to resample toward the target (Xie et al. 2023
    recipe). The oracle replays features, buckets, counts and logs
    value-for-value; 6dp."""
    from lindel_spark.sampling import importance_weights

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    target = docs.filter(F.col("lang") == "en")
    out = importance_weights(target, docs)
    return out.select("doc_id", "n_feats",
                      F.round("logweight", 6).alias("logweight_r6"))


@query(
    "sampling_kfold",
    """
    SELECT CAST(('0x' || substr(md5('' || '|'
             || CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 5
             AS fold,
           COUNT(*)::BIGINT AS n_rows,
           COUNT(DISTINCT o_custkey)::BIGINT AS n_keys,
           SUM(o_orderkey)::BIGINT AS sum_ok
    FROM orders
    GROUP BY 1
    """,
)
def q_sampling_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment (round 11,
    :func:`lindel_spark.sampling.kfold`): orders folded by CUSTOMER
    key (every customer's orders share a fold — no user-level
    leakage across CV folds), per-fold sizes and key counts replayed
    from the same md5 algebra."""
    from lindel_spark.sampling import kfold

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    out = kfold(orders, "o_custkey", k=5)
    return out.groupBy(F.col("fold").cast("long").alias("fold")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("o_custkey").cast("long").alias("n_keys"),
        F.sum("o_orderkey").cast("long").alias("sum_ok"))


@query(
    "events_temporal_split",
    """
    WITH r AS (
      SELECT event_type,
             row_number() OVER (ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER () AS n
      FROM events
    )
    SELECT CASE WHEN rn > n - CAST(floor(0.2 * n) AS BIGINT)
                  THEN 'test'
                WHEN rn > n - CAST(floor(0.2 * n) AS BIGINT) - 500
                  THEN 'embargo'
                ELSE 'train' END AS split,
           COUNT(*)::BIGINT AS n_rows,
           COUNT(DISTINCT event_type)::BIGINT AS n_types
    FROM r GROUP BY 1
    """,
)
def q_events_temporal_split(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Temporal train/test split with a 500-row embargo (round 11,
    :func:`lindel_spark.sampling.temporal_split`): the newest 20% of
    events by (ts, event_id) rank become test, the 500 rows before
    the boundary embargo out — the time-series-CV leakage guard;
    exact rank-cut algebra, deterministic under boundary-timestamp
    ties."""
    from lindel_spark.sampling import temporal_split

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = temporal_split(ev, "ts", "event_id", test_fraction=0.2,
                         embargo_rows=500)
    return out.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("event_type").cast("long").alias("n_types"))


@query(
    "multimodal_image_neardup",
    """
    WITH seeded AS (
      SELECT doc_id::BIGINT AS id,
             CASE WHEN doc_id % 30 = 0
                  THEN 'shared-img-' || CAST((doc_id // 30) % 4
                                             AS VARCHAR)
                  ELSE text END AS payload
      FROM documents WHERE doc_id % 10 = 0
    ), c1 AS (
      SELECT id, sha256(payload) AS b1 FROM seeded
    ), c2 AS (SELECT *, sha256(b1) AS b2 FROM c1),
    c3 AS (SELECT *, sha256(b2) AS b3 FROM c2),
    c4 AS (SELECT *, sha256(b3) AS b4 FROM c3),
    c5 AS (SELECT *, sha256(b4) AS b5 FROM c4),
    c6 AS (SELECT id, b1||b2||b3||b4||b5||sha256(b5) AS hx FROM c5),
    px AS (
      SELECT id, i, ('0x'||substr(hx, 2*i+1, 2))::INT AS v
      FROM c6, generate_series(0, 191) g(i)
    ), gray AS (
      SELECT id, i // 3 AS p, AVG(v) AS g FROM px GROUP BY id, i // 3
    ), mh AS (SELECT id, AVG(g) AS m FROM gray GROUP BY id),
    hsh AS (
      SELECT gray.id,
             SUM(CASE WHEN round(gray.g - mh.m, 9) > 0 THEN
                   CASE WHEN gray.p = 63
                        THEN (-9223372036854775807 - 1)
                        ELSE (CAST(1 AS BIGINT) << CAST(gray.p AS INT))
                   END ELSE 0 END)::BIGINT AS ahash
      FROM gray JOIN mh USING (id) GROUP BY gray.id
    )
    SELECT a.id AS id_a, b.id AS id_b,
           bit_count(xor(a.ahash, b.ahash))::BIGINT AS hamming
    FROM hsh a JOIN hsh b ON a.id < b.id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 4
    """,
)
def q_multimodal_image_neardup(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup pairs (round 11,
    :func:`lindel_spark.multimodal.image_near_dup_pairs`): aHash
    fingerprints under the deterministic fake decoder; a sampled doc
    slice seeded with four SHARED payloads (every 30th doc) so real
    duplicate clusters exist — pixels replay from the sha chain, so
    the oracle computes every 64-bit HASH and the brute-force hamming
    pairs independently in SQL + the generic banded hamming join — exact by pigeonhole, band-keyed, never
    all-pairs on the Spark side."""
    docs = (spark.read.parquet(os.path.join(sf_dir,
                                            "documents.parquet"))
            .filter(F.col("doc_id") % 10 == 0))
    payload = F.when(
        F.col("doc_id") % 30 == 0,
        F.concat(F.lit("shared-img-"),
                 ((F.col("doc_id") / 30).cast("long") % 4)
                 .cast("string"))
    ).otherwise(F.col("text"))
    blobs = docs.select("doc_id",
                        F.encode(payload, "UTF-8").alias("content"))
    return MM.image_near_dup_pairs(
        blobs, decoder=MM.fake_decode_image, bands=8, max_hamming=4)


@query(
    "asof_join_tolerance",
    """
    WITH c AS (
      SELECT event_id::BIGINT AS event_id, user_id::BIGINT AS user_id,
             epoch_us(ts)::BIGINT AS tus
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id::BIGINT AS user_id, epoch_us(ts)::BIGINT AS tus,
             MAX(value) AS pval
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), m AS (
      SELECT c.event_id, c.user_id, c.tus, p.pval, p.tus AS mts
      FROM c ASOF LEFT JOIN p
        ON c.user_id = p.user_id AND c.tus >= p.tus
    )
    SELECT event_id, user_id, tus,
           CASE WHEN mts IS NOT NULL
                 AND (tus - mts) <= 86400000000 THEN pval END
             AS value_r
    FROM m
    """,
)
def q_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join with a 24 h staleness bound (round 11,
    :func:`lindel_spark.joins.asof_join` ``tolerance=``): a prior
    purchase older than a day is treated as NO match — the standard
    max-staleness guard; the oracle applies the same bound on
    DuckDB's native ASOF match."""
    from lindel_spark.joins import asof_join

    ev = _events(spark, sf_dir).withColumn("tus", F.unix_micros("ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"), "tus")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .groupBy(F.col("user_id").cast("long")
                          .alias("user_id"), "tus")
                 .agg(F.max("value").alias("value")))
    return asof_join(clicks, purchases, on="user_id", left_ts="tus",
                     right_ts="tus", value_cols=["value"],
                     tolerance=86400000000.0)


_MWU_PAIR_SQL = """
      SELECT value::DOUBLE AS v, (user_id % 2)::INT AS y
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
"""


def _mwu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (ev.filter(F.col("value").isNotNull()
                      & F.col("user_id").isNotNull())
            .select(F.col("value").cast("double").alias("v"),
                    (F.col("user_id") % 2).cast("int").alias("y")))


def _bootstrap_oracle(B: int = 64, alpha: float = 0.05) -> str:
    """DuckDB replay of
    :func:`lindel_spark.profile.poisson_bootstrap_ci` over the
    per-type event values: the same md5-uniform → Poisson(1)
    inverse-CDF CASE ladder (thresholds emitted from the SAME Python
    floats the Spark expression uses), same order-statistic element
    picks."""
    import math

    from lindel_spark.profile import _poisson1_cdf

    lo_i = max(1, math.ceil(B * alpha / 2.0))
    hi_i = min(B, math.ceil(B * (1.0 - alpha / 2.0)))
    ladder = " ".join(
        f"WHEN u <= {t!r} THEN {k}"
        for k, t in enumerate(_poisson1_cdf()))
    return f"""
    WITH rows AS (
      SELECT event_type, value::DOUBLE AS x, event_id::VARCHAR AS id
      FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
    ), rep AS (
      SELECT event_type, x, id, b.b
      FROM rows CROSS JOIN (
        SELECT unnest(generate_series(1, {B})) AS b) b
    ), drawn AS (
      SELECT event_type, x, b,
             (('0x' || substr(md5(id || '|' || b::VARCHAR
                                  || '|' || 'lindel'), 1, 15))::BIGINT
              + 0.5) / 1152921504606846976.0 AS u
      FROM rep
    ), weighted AS (
      SELECT event_type, x, b,
             CASE {ladder} ELSE 12 END AS w
      FROM drawn
    ), means AS (
      SELECT event_type, b,
             SUM(w * x) / SUM(w)::DOUBLE AS m
      FROM weighted GROUP BY 1, 2
    ), ms AS (
      SELECT event_type, COUNT(*)::BIGINT AS n_replicas,
             list(m ORDER BY m) AS lm
      FROM means WHERE m IS NOT NULL GROUP BY 1
    ), stats AS (
      SELECT event_type, COUNT(*)::BIGINT AS n,
             AVG(x) AS point_mean
      FROM rows GROUP BY 1
    )
    SELECT s.event_type, s.n, round(s.point_mean, 6) AS point_mean_r6,
           ms.n_replicas,
           round(lm[{lo_i}], 6) AS ci_lo_r6,
           round(lm[{hi_i}], 6) AS ci_hi_r6
    FROM stats s JOIN ms USING (event_type)
    """


@query("events_bootstrap_ci", _bootstrap_oracle(64, 0.05))
def q_events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Poisson-bootstrap 95% CI for the mean event value per
    type (round 13, :func:`lindel_spark.profile.poisson_bootstrap_ci`,
    B = 64): the distributed bootstrap — per-row Poisson(1) weights
    from md5(id, replica, salt), replica means, order-statistic
    bounds — with every draw bit-replayable (the seeded_laplace
    idiom; NOT fresh randomness, rotate the salt per study). One
    explode ×64 + one map-side-combined aggregate; 6dp."""
    from lindel_spark.profile import poisson_bootstrap_ci
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    out = poisson_bootstrap_ci(ev, "value", "event_id",
                               keys=["event_type"], n_replicas=64,
                               alpha=0.05)
    return out.select(
        "event_type", "n",
        F.round("point_mean", 6).alias("point_mean_r6"),
        "n_replicas",
        F.round("ci_lo", 6).alias("ci_lo_r6"),
        F.round("ci_hi", 6).alias("ci_hi_r6"))


@query(
    "parts_bh_fdr",
    """
    WITH tests AS (
      SELECT p_partkey,
             ((p_partkey * 37) % 1000) / 999.0
               * (((p_partkey * 37) % 1000) / 999.0) AS p
      FROM part
    ), c AS (
      SELECT p, COUNT(*)::BIGINT AS cnt FROM tests GROUP BY p
    ), cum AS (
      SELECT p, SUM(cnt) OVER (ORDER BY p
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rk
      FROM c
    ), n AS (
      SELECT COUNT(*)::BIGINT AS n FROM tests
    ), cand AS (
      SELECT p, p * n::DOUBLE / rk::DOUBLE AS cand FROM cum, n
    ), q AS (
      SELECT p, LEAST(1.0, MIN(cand) OVER (ORDER BY p DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS qv
      FROM cand
    )
    SELECT COUNT(*)::BIGINT AS n_tests,
           SUM(CASE WHEN qv <= 0.01 THEN 1 ELSE 0 END)::BIGINT
             AS n_q_le_01,
           SUM(CASE WHEN qv <= 0.05 THEN 1 ELSE 0 END)::BIGINT
             AS n_q_le_05,
           SUM(CASE WHEN qv <= 0.10 THEN 1 ELSE 0 END)::BIGINT
             AS n_q_le_10,
           round(MIN(qv), 6) AS min_q_r6
    FROM tests JOIN q USING (p)
    """,
)
def q_parts_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR adjustment (round 13,
    :func:`lindel_spark.profile.bh_adjust`) over one deterministic
    pseudo-p per part (squared scaled hash — uniform² skews toward 0
    so the step-up actually rejects a tail, ~q ≈ rank/n under this
    construction): suffix-min via the DISTRIBUTED descending prefix
    min, tie blocks share their max-rank candidate. Output is
    rejection counts at α ∈ {.01, .05, .10} + min q (counts compare
    exactly because both engines compute bit-identical q)."""
    from lindel_spark.profile import bh_adjust

    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    u = ((F.col("p_partkey") * 37) % 1000).cast("double") / 999.0
    tests = part.select("p_partkey", (u * u).alias("p"))
    adj = bh_adjust(tests, "p")
    return adj.agg(
        F.count(F.lit(1)).cast("long").alias("n_tests"),
        F.sum(F.when(F.col("q_value") <= 0.01, 1).otherwise(0))
        .cast("long").alias("n_q_le_01"),
        F.sum(F.when(F.col("q_value") <= 0.05, 1).otherwise(0))
        .cast("long").alias("n_q_le_05"),
        F.sum(F.when(F.col("q_value") <= 0.10, 1).otherwise(0))
        .cast("long").alias("n_q_le_10"),
        F.round(F.min("q_value"), 6).alias("min_q_r6"))


@query(
    "events_mwu_pvalue",
    f"""
    WITH pairs AS ({_MWU_PAIR_SQL}),
    c AS (
      SELECT v, SUM(y)::BIGINT AS c1, SUM(1 - y)::BIGINT AS c0,
             COUNT(*)::BIGINT AS cnt
      FROM pairs GROUP BY v
    ), cum AS (
      SELECT c1, c0, cnt,
             SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumc
      FROM c
    ), agg AS (
      SELECT SUM(c1)::BIGINT AS n1, SUM(c0)::BIGINT AS n0,
             SUM(c1 * (2 * cumc - cnt + 1))::BIGINT AS r1_2,
             SUM(cnt * cnt * cnt - cnt)::BIGINT AS tie3
      FROM cum
    ), zc AS (
      SELECT n1, n0,
             (r1_2 / 2.0 - n1 * (n1 + 1) / 2.0 - n1 * n0 / 2.0)
             / sqrt(n1 * n0 / 12.0
                    * ((n1 + n0 + 1)
                       - tie3::DOUBLE
                       / ((n1 + n0)::DOUBLE * (n1 + n0 - 1)))) AS z
      FROM agg
    ), p AS (
      SELECT n1, n0, z,
             1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t,
             abs(z) / sqrt(2.0) AS x
      FROM zc
    )
    SELECT n1, n0, round(z, 6) AS z_r6,
           round(2.0 * 0.5 * (1.0 - (1.0 - (t * (0.254829592
                 + t * (-0.284496736 + t * (1.421413741
                 + t * (-1.453152027 + t * 1.061405429)))))
                 * exp(-(x * x)))), 6) AS p_two_r6
    FROM p
    """,
)
def q_events_mwu_pvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided p-value for the Mann–Whitney z (round 13,
    :func:`lindel_spark.profile.normal_sf` composed on
    :func:`lindel_spark.profile.mann_whitney_u`): ``p = 2·P(Z >
    |z|)`` through the Abramowitz–Stegun 7.1.26 erf polynomial —
    |error| < 1.5e-7, DOCUMENTED approximation, identical constants
    on both engines so the p replays bit-for-bit where a library CDF
    would not; 6dp."""
    from lindel_spark.profile import mann_whitney_u, normal_sf

    out = mann_whitney_u(_mwu_pairs(spark, sf_dir), "v", "y")
    return out.select(
        "n1", "n0", F.round("z", 6).alias("z_r6"),
        F.round(2.0 * normal_sf(F.abs(F.col("z"))), 6)
        .alias("p_two_r6"))


@query(
    "events_brown_forsythe",
    """
    WITH pairs AS (
      SELECT value::DOUBLE AS v, event_type AS g FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), c AS (
      SELECT g, v, COUNT(*)::BIGINT AS cnt FROM pairs GROUP BY g, v
    ), cum AS (
      SELECT g, v, cnt,
             SUM(cnt) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumc
      FROM c
    ), ng AS (
      SELECT g, SUM(cnt)::BIGINT AS n_g FROM c GROUP BY g
    ), med AS (
      SELECT cum.g, cum.v AS med
      FROM cum JOIN ng ON cum.g = ng.g
      WHERE cum.cumc - cum.cnt < ceil(ng.n_g / 2.0)
        AND ceil(ng.n_g / 2.0) <= cum.cumc
    ), z AS (
      SELECT abs(pairs.v - med.med) AS z, pairs.g
      FROM pairs JOIN med ON pairs.g = med.g
    ), per AS (
      SELECT g, COUNT(*)::BIGINT AS ngz, SUM(z) AS sg,
             SUM(z * z) AS qg
      FROM z GROUP BY g
    ), agg AS (
      SELECT COUNT(*)::BIGINT AS k, SUM(ngz)::BIGINT AS n,
             SUM(sg ORDER BY g) AS s_tot,
             SUM(qg - sg * sg / ngz ORDER BY g) AS ssw,
             SUM(sg * sg / ngz ORDER BY g) AS sb_raw
      FROM per
    )
    SELECT k, n, (k - 1)::BIGINT AS df1, (n - k)::BIGINT AS df2,
           round(((sb_raw - s_tot * s_tot / n) / (k - 1.0))
                 / (ssw / (n - k)), 6) AS w_r6
    FROM agg
    """,
)
def q_events_brown_forsythe(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Brown–Forsythe spread-homogeneity test across event types
    (round 13, :func:`lindel_spark.profile.brown_forsythe`): ANOVA F
    on |x − group LOWER median| — the assumption check for
    ``events_anova_f`` and the dispersion-shift detector the mean
    tests can't see. Median is an element pick (engine-exact); the
    deviations feed the same group-order-folded moment algebra; 6dp."""
    from lindel_spark.profile import brown_forsythe
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    out = brown_forsythe(ev, "value", "event_type")
    return out.select("k", "n", "df1", "df2",
                      F.round("w_stat", 6).alias("w_r6"))


@query(
    "events_cohens_d",
    f"""
    WITH pairs AS ({_MWU_PAIR_SQL}),
    one AS (
      SELECT SUM(y)::BIGINT AS n1, SUM(1 - y)::BIGINT AS n0,
             SUM(v * y) AS s1, SUM(v * (1 - y)) AS s0,
             SUM(v * v * y) AS q1, SUM(v * v * (1 - y)) AS q0
      FROM pairs
    )
    SELECT n1, n0,
           round(((s1 / n1) - (s0 / n0))
                 / sqrt(((q1 - s1 * s1 / n1) + (q0 - s0 * s0 / n0))
                        / (n1 + n0 - 2.0)), 6) AS d_r6,
           round(((s1 / n1) - (s0 / n0))
                 / sqrt(((q1 - s1 * s1 / n1) + (q0 - s0 * s0 / n0))
                        / (n1 + n0 - 2.0))
                 * (1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0)), 6) AS g_r6
    FROM one
    """,
)
def q_events_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d / Hedges' g between even- and odd-user event values
    (round 13, :func:`lindel_spark.profile.cohens_d`): the parametric
    effect size pairing ``events_welch_ttest``'s significance — same
    (Σx, Σx², n) moment algebra, pooled SD, small-sample J
    correction; 6dp."""
    from lindel_spark.profile import cohens_d

    out = cohens_d(_mwu_pairs(spark, sf_dir), "v", "y")
    return out.select("n1", "n0", F.round("d", 6).alias("d_r6"),
                      F.round("g", 6).alias("g_r6"))


@query(
    "events_anova_f",
    """
    WITH pairs AS (
      SELECT value::DOUBLE AS v, event_type AS g FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), per AS (
      SELECT g, COUNT(*)::BIGINT AS ng, SUM(v) AS sg,
             SUM(v * v) AS qg
      FROM pairs GROUP BY g
    ), agg AS (
      SELECT COUNT(*)::BIGINT AS k, SUM(ng)::BIGINT AS n,
             SUM(sg ORDER BY g) AS s_tot,
             SUM(qg - sg * sg / ng ORDER BY g) AS ssw,
             SUM(sg * sg / ng ORDER BY g) AS sb_raw
      FROM per
    )
    SELECT k, n, (k - 1)::BIGINT AS df1, (n - k)::BIGINT AS df2,
           round(((sb_raw - s_tot * s_tot / n) / (k - 1.0))
                 / (ssw / (n - k)), 6) AS f_r6
    FROM agg
    """,
)
def q_events_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the five event types (round 13,
    :func:`lindel_spark.profile.anova_oneway`): the parametric
    k-sample mean test pairing ``events_kruskal_wallis`` — explicit
    (n, Σx, Σx²) moment algebra, order-sensitive group sums folded in
    GROUP ORDER on both engines; 6dp."""
    from lindel_spark.profile import anova_oneway
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    out = anova_oneway(ev, "value", "event_type")
    return out.select("k", "n", "df1", "df2",
                      F.round("f_stat", 6).alias("f_r6"))


@query(
    "events_wilcoxon_paired",
    """
    WITH per AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               ::BIGINT AS x,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               ::BIGINT AS y
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), d AS (
      SELECT (x - y)::DOUBLE AS d FROM per WHERE x - y != 0
    ), c AS (
      SELECT abs(d) AS ad,
             SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS cpos,
             COUNT(*)::BIGINT AS cnt
      FROM d GROUP BY abs(d)
    ), cum AS (
      SELECT ad, cpos, cnt,
             SUM(cnt) OVER (ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumc
      FROM c
    ), agg AS (
      SELECT COALESCE(SUM(cnt), 0)::BIGINT AS n,
             SUM(cpos * (2 * cumc - cnt + 1))::BIGINT AS wp2,
             SUM(cnt * cnt * cnt - cnt)::BIGINT AS tie3
      FROM cum
    )
    SELECT n, round(wp2 / 2.0, 4) AS w_plus_r4,
           round((wp2 / 2.0 - n * (n + 1.0) / 4.0)
                 / sqrt(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
                        - tie3::DOUBLE / 48.0), 6) AS z_r6
    FROM agg
    """,
)
def q_events_wilcoxon_paired(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Wilcoxon signed-rank on paired per-user engagement (round 13,
    :func:`lindel_spark.profile.wilcoxon_signed_rank`): click count vs
    view count per user — the matched-pairs test ("did A beat B on
    the same units") the independent-sample U test can't answer.
    Differences are EXACT integers (counts, not double averages), so
    the |d| ranking is engine-identical by construction; DECIMAL rank
    sums, tie-corrected z; 6dp."""
    from lindel_spark.profile import wilcoxon_signed_rank
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    per = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long").alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long").alias("y"))
    out = wilcoxon_signed_rank(per, "x", "y")
    return out.select("n", F.round("w_plus", 4).alias("w_plus_r4"),
                      F.round("z", 6).alias("z_r6"))


@query(
    "events_mcnemar_paired",
    """
    WITH per AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS a,
             MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               AS b
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    )
    SELECT COUNT(*)::BIGINT AS n,
           SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)::BIGINT
             AS n10,
           SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)::BIGINT
             AS n01,
           round((SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                  - SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END))
                 ::DOUBLE
                 * (SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                    - SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0
                          END))
                 / (SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                    + SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0
                          END)), 6) AS chi2_r6
    FROM per
    """,
)
def q_events_mcnemar_paired(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """McNemar's paired-binary test (round 13,
    :func:`lindel_spark.profile.mcnemar_test`): per user, "ever
    purchased" vs "ever signed up" — do the two conversion flags
    disagree asymmetrically on the same users? Only discordant pairs
    carry signal; exact integers to the final division; 6dp."""
    from lindel_spark.profile import mcnemar_test
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    per = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1)
              .otherwise(0)).alias("a"),
        F.max(F.when(F.col("event_type") == "signup", 1)
              .otherwise(0)).alias("b"))
    out = mcnemar_test(per, "a", "b")
    return out.select("n", "n10", "n01",
                      F.round("chi2", 6).alias("chi2_r6"))


@query(
    "events_kruskal_wallis",
    """
    WITH pairs AS (
      SELECT value::DOUBLE AS v, event_type AS g FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), vg AS (
      SELECT v, g, COUNT(*)::BIGINT AS cg FROM pairs GROUP BY 1, 2
    ), vc AS (
      SELECT v, SUM(cg)::BIGINT AS cnt FROM vg GROUP BY v
    ), cum AS (
      SELECT v, cnt, SUM(cnt) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
      FROM vc
    ), tot AS (
      SELECT SUM(cnt)::BIGINT AS n,
             SUM(cnt * cnt * cnt - cnt)::BIGINT AS tie3
      FROM cum
    ), perg AS (
      SELECT g, SUM(cg)::BIGINT AS ng,
             SUM(cg * (2 * cumc - cnt + 1))::BIGINT AS rg2
      FROM vg JOIN cum USING (v) GROUP BY g
    ), s AS (
      SELECT COUNT(*)::BIGINT AS k,
             SUM((rg2 / 2.0) * (rg2 / 2.0) / ng ORDER BY g) AS s
      FROM perg
    )
    SELECT k, n,
           round((12.0 / (n * (n + 1.0)) * s - 3.0 * (n + 1.0))
                 / (1.0 - tie3::DOUBLE
                    / (n::DOUBLE * n * n - n)), 6) AS h_r6
    FROM s, tot
    """,
)
def q_events_kruskal_wallis(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Kruskal–Wallis H across the five event types (round 13,
    :func:`lindel_spark.profile.kruskal_wallis`): the k-sample
    nonparametric ANOVA — do ANY event types differ in value
    location? — completing the two-sample stats tier. Midranks via
    the distributed prefix sum, DECIMAL rank sums, and the
    order-sensitive Σ R_g²/n_g folded in GROUP ORDER on both engines
    (sorted-array fold ↔ SUM(… ORDER BY g)); 6dp."""
    from lindel_spark.profile import kruskal_wallis
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    out = kruskal_wallis(ev, "value", "event_type")
    return out.select("k", "n", F.round("h", 6).alias("h_r6"))


@query(
    "events_mann_whitney",
    f"""
    WITH pairs AS ({_MWU_PAIR_SQL}),
    c AS (
      SELECT v, SUM(y)::BIGINT AS c1, SUM(1 - y)::BIGINT AS c0,
             COUNT(*)::BIGINT AS cnt
      FROM pairs GROUP BY v
    ), cum AS (
      SELECT c1, c0, cnt,
             SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumc
      FROM c
    ), agg AS (
      SELECT SUM(c1)::BIGINT AS n1, SUM(c0)::BIGINT AS n0,
             SUM(c1 * (2 * cumc - cnt + 1))::BIGINT AS r1_2,
             SUM(cnt * cnt * cnt - cnt)::BIGINT AS tie3
      FROM cum
    )
    SELECT n1, n0,
           round(r1_2 / 2.0 - n1 * (n1 + 1) / 2.0, 4) AS u1_r4,
           round((r1_2 / 2.0 - n1 * (n1 + 1) / 2.0
                  - n1 * n0 / 2.0)
                 / sqrt(n1 * n0 / 12.0
                        * ((n1 + n0 + 1)
                           - tie3::DOUBLE
                           / ((n1 + n0)::DOUBLE
                              * (n1 + n0 - 1)))), 6) AS z_r6
    FROM agg
    """,
)
def q_events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann–Whitney U between even- and odd-user event
    values (round 12, :func:`lindel_spark.profile.mann_whitney_u`):
    the nonparametric location-shift test — midranks via the
    distributed prefix sum, exact integer rank algebra (2×midrank
    stays BIGINT) to the final divisions, textbook tie-corrected σ;
    the oracle replays the identical algebra through one window."""
    from lindel_spark.profile import mann_whitney_u

    out = mann_whitney_u(_mwu_pairs(spark, sf_dir), "v", "y")
    return out.select("n1", "n0",
                      F.round("u1", 4).alias("u1_r4"),
                      F.round("z", 6).alias("z_r6"))


@query(
    "events_welch_ttest",
    f"""
    WITH pairs AS ({_MWU_PAIR_SQL}),
    agg AS (
      SELECT SUM(y)::BIGINT AS n1, SUM(1 - y)::BIGINT AS n0,
             SUM(v * y) AS s1, SUM(v * (1 - y)) AS s0,
             SUM(v * v * y) AS q1, SUM(v * v * (1 - y)) AS q0
      FROM pairs
    ), m AS (
      SELECT n1, n0, s1 / n1 AS m1, s0 / n0 AS m0,
             ((q1 - s1 * s1 / n1) / (n1 - 1)) / n1 AS e1,
             ((q0 - s0 * s0 / n0) / (n0 - 1)) / n0 AS e0
      FROM agg
    )
    SELECT n1, n0, round(m1, 6) AS mean1_r6, round(m0, 6) AS mean0_r6,
           round((m1 - m0) / sqrt(e1 + e0), 6) AS t_r6,
           round((e1 + e0) * (e1 + e0)
                 / (e1 * e1 / (n1 - 1) + e0 * e0 / (n0 - 1)), 2)
             AS df_r2
    FROM m
    """,
)
def q_events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on the same even/odd-user
    split (round 12, :func:`lindel_spark.profile.welch_ttest`): the
    parametric companion to ``events_mann_whitney`` — explicit
    (Σx, Σx², n) moment algebra (NOT the engine's var_samp, so both
    engines run the identical formula), Welch–Satterthwaite df; one
    map-side-combined scalar aggregate, no shuffle."""
    from lindel_spark.profile import welch_ttest

    out = welch_ttest(_mwu_pairs(spark, sf_dir), "v", "y")
    return out.select("n1", "n0",
                      F.round("mean1", 6).alias("mean1_r6"),
                      F.round("mean0", 6).alias("mean0_r6"),
                      F.round("t_stat", 6).alias("t_r6"),
                      F.round("df_welch", 2).alias("df_r2"))


@query(
    "events_spearman",
    """
    WITH pairs AS (
      SELECT value::DOUBLE AS x,
             (value + (user_id % 20) * 2.0)::DOUBLE AS y
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ), rx AS (
      SELECT x, (2 * SUM(cnt) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - cnt + 1)::BIGINT AS r2x
      FROM (SELECT x, COUNT(*)::BIGINT AS cnt FROM pairs GROUP BY x)
    ), ry AS (
      SELECT y, (2 * SUM(cnt) OVER (ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - cnt + 1)::BIGINT AS r2y
      FROM (SELECT y, COUNT(*)::BIGINT AS cnt FROM pairs GROUP BY y)
    ), r AS (
      SELECT r2x, r2y FROM pairs
      JOIN rx USING (x) JOIN ry USING (y)
    ), m AS (
      SELECT COUNT(*)::BIGINT AS n,
             SUM(r2x)::DOUBLE AS sx, SUM(r2y)::DOUBLE AS sy,
             SUM(r2x::DOUBLE * r2x) AS qx,
             SUM(r2y::DOUBLE * r2y) AS qy,
             SUM(r2x::DOUBLE * r2y) AS sxy
      FROM r
    )
    SELECT n, round((n * sxy - sx * sy)
                    / sqrt((n * qx - sx * sx)
                           * (n * qy - sy * sy)), 6) AS rho_r6
    FROM m
    """,
)
def q_events_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the raw event value and its
    user-noised companion (round 12,
    :func:`lindel_spark.profile.spearman_corr`): midrank-tied Pearson
    over ranks — the monotone-association screen beside
    ``features_corr_matrix``'s linear Pearson; 2×midranks stay exact
    BIGINT on both engines until the closing division; 6dp."""
    from lindel_spark.profile import spearman_corr

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    pairs = (ev.filter(F.col("value").isNotNull()
                       & F.col("user_id").isNotNull())
             .select(F.col("value").cast("double").alias("x"),
                     (F.col("value")
                      + (F.col("user_id") % 20).cast("double") * 2.0)
                     .alias("y")))
    out = spearman_corr(pairs, "x", "y")
    return out.select("n", F.round("rho", 6).alias("rho_r6"))


def _hits_cte(iterations: int) -> str:
    """DuckDB replay of :func:`lindel_spark.graph.hits` over the
    event-type transition graph (distinct src→dst pairs), the
    L1-normalized iterations unrolled — same fixed-round contract as
    the pagerank oracle. ``h0 = 1`` per node, matching the Spark
    initializer."""
    head = """
    WITH e0 AS (
      SELECT user_id::BIGINT AS user_id, epoch_us(ts)::BIGINT AS tus,
             event_id::BIGINT AS event_id, event_type
      FROM events
    ), e AS MATERIALIZED (
      SELECT DISTINCT prev AS u, event_type AS v
      FROM (SELECT event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY tus, event_id) AS prev
            FROM e0)
      WHERE prev IS NOT NULL
    ), nodes AS MATERIALIZED (
      SELECT u AS node FROM e UNION SELECT v FROM e
    ), h0 AS MATERIALIZED (SELECT node, 1.0 AS hub FROM nodes)
    """
    its = []
    for i in range(1, iterations + 1):
        its.append(f"""
    , ar{i} AS MATERIALIZED (
      SELECT e.v AS node, SUM(h.hub) AS s
      FROM e JOIN h{i - 1} h ON h.node = e.u GROUP BY e.v
    ), a{i} AS MATERIALIZED (
      SELECT n.node,
             coalesce(ar.s, 0) / (SELECT SUM(s) FROM ar{i})
               AS authority
      FROM nodes n LEFT JOIN ar{i} ar ON n.node = ar.node
    ), hr{i} AS MATERIALIZED (
      SELECT e.u AS node, SUM(a.authority) AS s
      FROM e JOIN a{i} a ON a.node = e.v GROUP BY e.u
    ), h{i} AS MATERIALIZED (
      SELECT n.node,
             coalesce(hr.s, 0) / (SELECT SUM(s) FROM hr{i}) AS hub
      FROM nodes n LEFT JOIN hr{i} hr ON n.node = hr.node
    )""")
    return head + "".join(its)


@query(
    "graph_hits_transitions",
    _hits_cte(4) + """
    SELECT h4.node, round(h4.hub, 6) AS hub_r6,
           round(a4.authority, 6) AS auth_r6
    FROM h4 JOIN a4 ON h4.node = a4.node
    """,
)
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs and authorities (round 12,
    :func:`lindel_spark.graph.hits`) over the event-type transition
    graph: which behaviors FEED many destinations (hubs) vs which
    behaviors many streams LAND on (authorities) — the directed
    companion to ``graph_pagerank_transitions`` on the same fixture.
    Four fixed L1-normalized iterations, unrolled in the oracle."""
    from pyspark.sql import Window

    from lindel_spark.graph import hits

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros("ts").alias("tus"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    edges = (ev.withColumn("prev", F.lag("event_type").over(w))
             .filter(F.col("prev").isNotNull())
             .select(F.col("prev").alias("src"),
                     F.col("event_type").alias("dst"))
             .distinct())
    out = hits(edges, iterations=4)
    return out.select("node", F.round("hub", 6).alias("hub_r6"),
                      F.round("authority", 6).alias("auth_r6"))


@query(
    "graph_link_prediction",
    """
    WITH pp AS (
      SELECT DISTINCT a.l_partkey::BIGINT AS a, b.l_partkey::BIGINT AS b
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    ), adj AS (
      SELECT a AS z, b AS n FROM pp
      UNION ALL SELECT b AS z, a AS n FROM pp
    ), deg AS (SELECT z, COUNT(*)::BIGINT AS deg FROM adj GROUP BY z),
    mid AS (
      SELECT adj.z, adj.n, deg.deg FROM adj JOIN deg USING (z)
      WHERE deg.deg <= 64
    ), w AS (
      SELECT l.n AS u, r.n AS v, l.deg AS degz
      FROM mid l JOIN mid r ON l.z = r.z WHERE l.n < r.n
    ), s AS (
      SELECT u, v, COUNT(*)::BIGINT AS cn, SUM(1.0 / ln(degz)) AS aa
      FROM w GROUP BY u, v
    ), cand AS (
      SELECT s.* FROM s LEFT JOIN pp ON pp.a = s.u AND pp.b = s.v
      WHERE pp.a IS NULL
    ), j AS (
      SELECT cand.cn, cand.aa,
             cand.cn::DOUBLE / (du.deg + dv.deg - cand.cn) AS jac
      FROM cand
      JOIN deg du ON du.z = cand.u
      JOIN deg dv ON dv.z = cand.v
    )
    SELECT cn, COUNT(*)::BIGINT AS n_pairs,
           round(AVG(jac), 6) AS avg_jaccard_r6,
           round(AVG(aa), 6) AS avg_aa_r6
    FROM j GROUP BY cn
    """,
)
def q_graph_link_prediction(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Neighborhood link prediction (round 12,
    :func:`lindel_spark.graph.link_prediction`) over the co-purchase
    graph with the hub cap at middle-degree 64 (the knob
    ``graph_degree_profile`` exists to size): per common-neighbor
    class, how many non-adjacent pairs and their mean Jaccard /
    Adamic–Adar — compact enough to value-compare at sf1 while every
    pair's exact scores feed the averages. MEANS not sums so the 6dp
    compare is immune to large-N summation-order noise."""
    from lindel_spark.graph import link_prediction

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok")
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    lp = link_prediction(edges, max_middle_degree=64)
    return (lp.groupBy("cn")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.round(F.avg("jaccard"), 6).alias("avg_jaccard_r6"),
                 F.round(F.avg("adamic_adar"), 6).alias("avg_aa_r6")))


@query(
    "profile_t_closeness",
    """
    WITH base AS (
      SELECT o_orderstatus AS qs,
             EXTRACT(year FROM o_orderdate)::BIGINT AS qy,
             o_orderpriority AS s
      FROM orders WHERE o_orderpriority IS NOT NULL
    ), g AS (
      SELECT s, COUNT(*)::DOUBLE
               / (SELECT COUNT(*) FROM base) AS q
      FROM base GROUP BY s
    ), cls AS (
      SELECT qs, qy, s, COUNT(*)::BIGINT AS c FROM base GROUP BY 1, 2, 3
    ), sizes AS (
      SELECT qs, qy, COUNT(*)::BIGINT AS group_n FROM base GROUP BY 1, 2
    ), per AS (
      SELECT cls.qs, cls.qy, MAX(sizes.group_n) AS group_n,
             SUM(abs(cls.c::DOUBLE / sizes.group_n - g.q)) AS sabs,
             SUM(g.q) AS sq
      FROM cls JOIN g USING (s) JOIN sizes USING (qs, qy)
      GROUP BY cls.qs, cls.qy
    )
    SELECT qs AS o_orderstatus, qy AS order_year, group_n,
           round(0.5 * (sabs + 1.0 - sq), 6) AS tvd_r6,
           0.5 * (sabs + 1.0 - sq) <= 0.05 AS close
    FROM per
    """,
)
def q_profile_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (round 12,
    :func:`lindel_spark.profile.t_closeness_report`): per
    (orderstatus, order-year) class, the total variation distance
    between the class's order-priority distribution and the global
    one, gated at t = 0.05 — the posterior-shift screen that
    completes the k-anonymity → l-diversity release trio. Absent
    values fold in closed form, so the class×vocabulary cross never
    materializes; 6dp."""
    from lindel_spark.profile import t_closeness_report

    od = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    base = od.select(
        F.col("o_orderstatus"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        "o_orderpriority")
    out = t_closeness_report(
        base, ["o_orderstatus", "order_year"], "o_orderpriority",
        t=0.05)
    return out.select("o_orderstatus", "order_year", "group_n",
                      F.round("tvd", 6).alias("tvd_r6"), "close")


@query(
    "features_woe_iv",
    """
    WITH base AS (
      SELECT o_orderpriority AS category,
             CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y
      FROM orders
      WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
    ), cat AS (
      SELECT category, SUM(y)::BIGINT AS pos,
             SUM(1 - y)::BIGINT AS neg
      FROM base GROUP BY category
    ), tot AS (
      SELECT SUM(pos)::DOUBLE AS pt, SUM(neg)::DOUBLE AS nt,
             COUNT(*)::DOUBLE AS k
      FROM cat
    )
    SELECT category, pos, neg, (pos + neg)::BIGINT AS n,
           round(ln(((pos + 0.5) / (pt + 0.5 * k))
                    / ((neg + 0.5) / (nt + 0.5 * k))), 6) AS woe_r6,
           round(((pos + 0.5) / (pt + 0.5 * k)
                  - (neg + 0.5) / (nt + 0.5 * k))
                 * ln(((pos + 0.5) / (pt + 0.5 * k))
                      / ((neg + 0.5) / (nt + 0.5 * k))), 6)
             AS iv_term_r6
    FROM cat, tot
    """,
)
def q_features_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence + information value of order priority
    against the high-ticket label (round 12,
    :func:`lindel_spark.features.woe_iv`): log-odds-scaled category
    screen with Laplace 0.5 mass per side — the scorecard companion
    to ``features_target_encoded``; smoothed masses sum to exactly 1
    on both engines; 6dp."""
    from lindel_spark.features import woe_iv

    od = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    base = od.select(
        "o_orderpriority",
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0)
        .alias("y")).filter(F.col("o_orderpriority").isNotNull()
                            & F.col("y").isNotNull())
    out = woe_iv(base, "o_orderpriority", "y", smoothing=0.5)
    return out.select("category", "pos", "neg", "n",
                      F.round("woe", 6).alias("woe_r6"),
                      F.round("iv_term", 6).alias("iv_term_r6"))


@query(
    "events_ewma",
    """
    WITH e AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day_s,
             epoch_us(ts)::BIGINT AS tus, event_id::BIGINT AS eid,
             value::DOUBLE AS v
      FROM events
    ), lagged AS (
      SELECT event_type, day_s,
             v AS x0,
             lag(v, 1) OVER w AS x1, lag(v, 2) OVER w AS x2,
             lag(v, 3) OVER w AS x3, lag(v, 4) OVER w AS x4,
             lag(v, 5) OVER w AS x5, lag(v, 6) OVER w AS x6,
             lag(v, 7) OVER w AS x7
      FROM e
      WINDOW w AS (PARTITION BY event_type ORDER BY tus, eid)
    ), s AS (
      SELECT event_type, day_s,
             (CASE WHEN x0 IS NOT NULL THEN 1.0 * x0 ELSE 0 END
              + CASE WHEN x1 IS NOT NULL THEN 0.7 * x1 ELSE 0 END
              + CASE WHEN x2 IS NOT NULL THEN 0.49 * x2 ELSE 0 END
              + CASE WHEN x3 IS NOT NULL THEN 0.343 * x3 ELSE 0 END
              + CASE WHEN x4 IS NOT NULL THEN 0.2401 * x4 ELSE 0 END
              + CASE WHEN x5 IS NOT NULL THEN 0.16807 * x5 ELSE 0 END
              + CASE WHEN x6 IS NOT NULL THEN 0.117649 * x6 ELSE 0 END
              + CASE WHEN x7 IS NOT NULL THEN 0.0823543 * x7 ELSE 0 END)
             /
             (CASE WHEN x0 IS NOT NULL THEN 1.0 ELSE 0 END
              + CASE WHEN x1 IS NOT NULL THEN 0.7 ELSE 0 END
              + CASE WHEN x2 IS NOT NULL THEN 0.49 ELSE 0 END
              + CASE WHEN x3 IS NOT NULL THEN 0.343 ELSE 0 END
              + CASE WHEN x4 IS NOT NULL THEN 0.2401 ELSE 0 END
              + CASE WHEN x5 IS NOT NULL THEN 0.16807 ELSE 0 END
              + CASE WHEN x6 IS NOT NULL THEN 0.117649 ELSE 0 END
              + CASE WHEN x7 IS NOT NULL THEN 0.0823543 ELSE 0 END)
               AS ew
      FROM lagged WHERE x0 IS NOT NULL OR x1 IS NOT NULL OR x2 IS NOT NULL
        OR x3 IS NOT NULL OR x4 IS NOT NULL OR x5 IS NOT NULL
        OR x6 IS NOT NULL OR x7 IS NOT NULL
    )
    SELECT event_type, day_s, COUNT(*)::BIGINT AS n,
           round(AVG(ew), 6) AS avg_ewma_r6
    FROM s GROUP BY 1, 2
    """,
)
def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-window EWMA smoothing (round 12,
    :func:`lindel_spark.timeseries.ewma`, α = 0.3, span = 8) of the
    event value per type, summarized as per-day means of the smoothed
    series — the FIR filter whose fixed unrolled weighted sum
    replays identically (the recursive EWMA is sequential; the
    truncated form is the distributable one). NULL values drop from
    numerator AND normalizer; 6dp on per-day means."""
    from lindel_spark.timeseries import ewma

    ev = (_events(spark, sf_dir)
          .withColumn("tus", F.unix_micros("ts"))
          .withColumn("eid", F.col("event_id").cast("long")))
    out = ewma(ev, ["event_type"], "tus", "value", "eid",
               alpha=0.3, span=8)
    return (out.filter(F.col("ewma").isNotNull())
            .groupBy("event_type",
                     F.date_format("ts", "yyyy-MM-dd").alias("day_s"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.avg("ewma"), 6).alias("avg_ewma_r6")))


@query(
    "text_dirichlet_ql",
    """
    WITH norm AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '') AS toks
      FROM documents
    ),
    postings AS (
      SELECT doc_id, term, COUNT(*)::BIGINT AS tf, ANY_VALUE(dl) AS dl
      FROM (SELECT doc_id, len(toks)::BIGINT AS dl, unnest(toks) AS term
            FROM norm)
      GROUP BY doc_id, term
    ),
    stats AS (
      SELECT SUM(tf)::DOUBLE AS total_tokens FROM postings
    ),
    qterms AS (
      SELECT DISTINCT doc_id AS query_id, unnest(toks[1:5]) AS term
      FROM norm WHERE doc_id % 97 = 0
    ),
    cfs AS (
      SELECT term, SUM(tf)::BIGINT AS cf FROM postings
      WHERE term IN (SELECT term FROM qterms) GROUP BY term
    ),
    nq AS (
      SELECT q.query_id, COUNT(*)::BIGINT AS n_q,
             SUM(ln(c.cf::DOUBLE / s.total_tokens)) AS lp
      FROM qterms q JOIN cfs c USING (term) CROSS JOIN stats s
      GROUP BY q.query_id
    ),
    part AS (
      SELECT q.query_id, p.doc_id,
             SUM(ln(1.0 + p.tf::DOUBLE * s.total_tokens
                    / (2000.0 * c.cf::DOUBLE))) AS mp,
             ANY_VALUE(p.dl) AS dl
      FROM postings p
      JOIN cfs c USING (term)
      JOIN qterms q USING (term)
      CROSS JOIN stats s
      GROUP BY q.query_id, p.doc_id
    ),
    scored AS (
      SELECT part.query_id, part.doc_id,
             part.mp + nq.lp
               + nq.n_q * ln(2000.0 / (part.dl + 2000.0)) AS score
      FROM part JOIN nq USING (query_id)
    )
    SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
           doc_id::BIGINT AS doc_id, round(score, 4) AS score_r4
    FROM (SELECT query_id, doc_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY round(score, 4) DESC,
                                             doc_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def q_text_dirichlet_ql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query likelihood top-5 (round 12,
    :func:`lindel_spark.retrieval.dirichlet_ql_topk`, μ = 2000) on
    the bm25 fixture (first five tokens of every 97th doc as
    pseudo-queries): the language-modeling ranking via the sparse
    ``Σ ln(1+tf·T/(μ·cf)) + n_q·ln(μ/(dl+μ))`` decomposition — only
    matched postings plus a per-doc constant; 4dp rank rounding on
    both engines (the bm25_topk cross-engine contract)."""
    from lindel_spark import retrieval as LR

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    toks = LT.tokens(LT.normalize_text(F.col("text")))
    queries_df = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("query"))
    res = LR.dirichlet_ql_topk(docs, queries_df, k=5, mu=2000.0,
                               rank_round=4)
    return res.select("query_id",
                      F.col("rank").cast("long").alias("rank"),
                      "doc_id", F.round("score", 4).alias("score_r4"))


@query(
    "text_readability",
    """
    WITH t AS (
      SELECT doc_id::BIGINT AS doc_id,
             GREATEST(len(list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               x -> x <> '')), 1)::DOUBLE AS words,
             GREATEST(len(list_filter(
               list_transform(
                 regexp_extract_all(text, '[^.!?]+[.!?]?'),
                 s -> trim(s)), s -> s <> '')), 1)::DOUBLE AS sents,
             len(regexp_extract_all(lower(text), '[aeiouy]+'))::DOUBLE
               AS syll
      FROM documents
    )
    SELECT doc_id, words::BIGINT AS n_words, sents::BIGINT AS n_sents,
           syll::BIGINT AS n_syllables,
           round(206.835 - 1.015 * words / sents
                 - 84.6 * syll / words, 4) AS flesch_r4
    FROM t
    """,
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document (round 12,
    :func:`lindel_spark.text.flesch_reading_ease`): vowel-group
    syllable heuristic × sentence segments × whitespace tokens, all
    map-only column algebra — the readability axis of the quality
    gate; both engines run the identical three regex counts; 4dp."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    c = F.col("text")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.greatest(LT.token_count(c), F.lit(1)).alias("n_words"),
        F.greatest(F.size(LT.sentences(c)).cast("long"), F.lit(1))
        .alias("n_sents"),
        LT.syllable_count(c).alias("n_syllables"),
        F.round(LT.flesch_reading_ease(c), 4).alias("flesch_r4"))


@query(
    "eval_conformal",
    f"""
    WITH pairs AS ({_EVAL_PAIR_SQL}),
    cal AS (
      SELECT s FROM (
        SELECT s, row_number() OVER (ORDER BY s, y) AS rn FROM pairs
      ) WHERE rn % 2 = 1
    ), tst AS (
      SELECT s FROM (
        SELECT s, row_number() OVER (ORDER BY s, y) AS rn FROM pairs
      ) WHERE rn % 2 = 0
    ), nn AS (SELECT COUNT(*)::BIGINT AS n_cal FROM cal),
    kk AS (SELECT n_cal,
                  CAST(ceil((n_cal + 1) * 0.9) AS BIGINT) AS k
           FROM nn),
    cum AS (
      SELECT s, SUM(c) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM (SELECT s, COUNT(*)::BIGINT AS c FROM cal GROUP BY s)
    ), qh AS (
      SELECT MIN(s) AS qhat FROM cum, kk WHERE cum.cc >= kk.k
    )
    SELECT kk.n_cal, kk.k,
           COUNT(*)::BIGINT AS n_test,
           round(CASE WHEN kk.k > kk.n_cal THEN NULL
                      ELSE qh.qhat END, 6) AS qhat_r6,
           round(AVG(CASE WHEN kk.k > kk.n_cal THEN 1.0
                          WHEN tst.s <= qh.qhat THEN 1.0
                          ELSE 0.0 END), 6) AS coverage_r6
    FROM tst, kk, qh GROUP BY kk.n_cal, kk.k, qh.qhat
    """,
)
def q_eval_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal threshold + test coverage at α = 0.1 (round
    12, :func:`lindel_spark.evaluation.conformal_split`) on the
    scored-events fixture split into odd/even global ranks (a
    deterministic exchangeable split both engines replay): the exact
    ⌈(n+1)(1−α)⌉ order statistic from calibration, empirical
    coverage on test — the finite-sample-guaranteed drift alarm;
    6dp."""
    from lindel_spark.evaluation import conformal_split
    from lindel_spark.util import global_rank

    pairs = _eval_pairs(spark, sf_dir)
    ranked = global_rank(pairs, ["s", "y"])
    cal = ranked.filter(F.col("rank") % 2 == 1)
    tst = ranked.filter(F.col("rank") % 2 == 0)
    out = conformal_split(cal, tst, "s", alpha=0.1)
    return out.select("n_cal", "k", "n_test",
                      F.round("qhat", 6).alias("qhat_r6"),
                      F.round("coverage", 6).alias("coverage_r6"))


@query(
    "text_rake_phrases",
    """
    WITH norm AS (
      SELECT list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '') AS toks
      FROM documents
    ), marked AS (
      SELECT list_transform(toks,
               t -> CASE WHEN t IN ('the','and','is','of','to','a',
                                    'in','that')
                    THEN '|' ELSE t END) AS m
      FROM norm
    ), ph AS (
      SELECT trim(p) AS phrase
      FROM (SELECT unnest(string_split(array_to_string(m, ' '), '|'))
              AS p FROM marked)
      WHERE trim(p) <> ''
    ), pw_all AS (
      SELECT len(string_split(phrase, ' '))::BIGINT AS plen,
             unnest(string_split(phrase, ' ')) AS w
      FROM ph
    ), wstat AS (
      SELECT w, COUNT(*)::BIGINT AS freq, SUM(plen)::BIGINT AS deg
      FROM pw_all GROUP BY w
    ), occ AS (
      SELECT phrase, COUNT(*)::BIGINT AS n_occurrences
      FROM ph GROUP BY phrase
    ), pw_d AS (
      SELECT phrase, unnest(string_split(phrase, ' ')) AS w FROM occ
    ), scores AS (
      SELECT pw_d.phrase, SUM(deg::DOUBLE / freq) AS score
      FROM pw_d JOIN wstat USING (w) GROUP BY pw_d.phrase
    )
    SELECT occ.phrase, len(string_split(occ.phrase, ' '))::BIGINT
             AS n_words,
           occ.n_occurrences, round(scores.score, 6) AS score_r6
    FROM occ JOIN scores USING (phrase)
    WHERE occ.n_occurrences >= 3
      AND len(string_split(occ.phrase, ' ')) >= 2
    """,
)
def q_text_rake_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrases (round 12,
    :func:`lindel_spark.text.rake_phrases`): stopword-delimited
    candidate phrases scored by summed word degree/frequency — the
    multi-word companion to ``text_textrank_keywords`` with no graph
    and no iterations; multi-word phrases seen ≥ 3 times; 6dp."""
    from lindel_spark.text import rake_phrases

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = rake_phrases(docs)
    return (out.filter((F.col("n_occurrences") >= 3)
                       & (F.col("n_words") >= 2))
            .select("phrase", "n_words", "n_occurrences",
                    F.round("score", 6).alias("score_r6")))


@query(
    "text_tfidf_cosine_pairs",
    """
    WITH norm AS (
      SELECT doc_id,
             list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '') AS toks
      FROM documents
    ), postings AS (
      SELECT doc_id, term, COUNT(*)::BIGINT AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM norm)
      GROUP BY doc_id, term
    ), nn AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
    dfs AS (
      SELECT term, COUNT(*)::BIGINT AS df FROM postings GROUP BY term
    ), kept AS (
      SELECT p.doc_id, p.term,
             p.tf::DOUBLE * ln(nn.n_docs / d.df) AS w
      FROM postings p JOIN dfs d USING (term) CROSS JOIN nn
      WHERE d.df <= 100
    ), norms AS (
      SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM kept GROUP BY doc_id
    ), dots AS (
      SELECT x.doc_id AS a, y.doc_id AS b, SUM(x.w * y.w) AS dot
      FROM kept x JOIN kept y USING (term)
      WHERE x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
    )
    SELECT a::BIGINT AS a, b::BIGINT AS b,
           round(dot / (na.nrm * nb.nrm), 6) AS cosine_r6
    FROM dots
    JOIN norms na ON na.doc_id = dots.a
    JOIN norms nb ON nb.doc_id = dots.b
    WHERE na.nrm > 0 AND nb.nrm > 0
      AND round(dot / (na.nrm * nb.nrm), 6) >= 0.5
    """,
)
def q_text_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse all-pairs TF-IDF cosine join at 0.5 (round 12,
    :func:`lindel_spark.retrieval.tfidf_cosine_pairs`, max_df = 100):
    the LEXICAL similarity join beside the embedding and raw-set
    ones — idf weighting favors rare-term agreement; high-df terms
    cut before pairing (quadratic pair volume, ~zero idf weight);
    threshold on the 6dp-rounded cosine on both engines."""
    from lindel_spark.retrieval import tfidf_cosine_pairs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = tfidf_cosine_pairs(docs, threshold=0.5, max_df=100,
                             round_to=6)
    return out.select("a", "b",
                      F.round("cosine", 6).alias("cosine_r6"))


@query(
    "eval_auc_by_type",
    f"""
    WITH pairs AS (
      SELECT event_type,
             LEAST(1.0, GREATEST(0.0,
               (value + (user_id % 20) - 10.0) / 100.0)) AS s,
             CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ), counts AS (
      SELECT event_type, s, SUM(y)::BIGINT AS pos,
             SUM(1 - y)::BIGINT AS neg
      FROM pairs GROUP BY event_type, s
    ), cum AS (
      SELECT event_type, pos, neg,
             SUM(pos + neg) OVER (PARTITION BY event_type ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumc
      FROM counts
    ), agg AS (
      SELECT event_type, SUM(pos)::BIGINT AS n_pos,
             SUM(neg)::BIGINT AS n_neg,
             SUM(pos * (2 * cumc - (pos + neg) + 1))::BIGINT AS r1_2
      FROM cum GROUP BY event_type
    )
    SELECT event_type, n_pos, n_neg,
           round((r1_2 / 2.0 - n_pos * (n_pos + 1) / 2.0)
                 / (n_pos::DOUBLE * n_neg), 6) AS auc_r6
    FROM agg
    """,
)
def q_eval_auc_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type exact ROC-AUC (round 12,
    :func:`lindel_spark.evaluation.roc_auc_by`): the segment/fairness
    screen on the scored-events fixture — same midrank identity as
    ``eval_roc_auc`` but midranks from a window PARTITIONED by the
    group (per-group distinct-score state: the scale-correct plan
    for grouped metrics); 6dp."""
    from lindel_spark.evaluation import roc_auc_by

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    pairs = (ev.filter(F.col("value").isNotNull()
                       & F.col("user_id").isNotNull())
             .select("event_type",
                     F.least(F.lit(1.0), F.greatest(
                         F.lit(0.0),
                         (F.col("value")
                          + (F.col("user_id") % 20).cast("double")
                          - F.lit(10.0)) / F.lit(100.0))).alias("s"),
                     F.when(F.col("value") > 50.0, 1).otherwise(0)
                     .alias("y")))
    out = roc_auc_by(pairs, "s", "y", "event_type")
    return out.select("event_type", "n_pos", "n_neg",
                      F.round("auc", 6).alias("auc_r6"))


@query(
    "text_script_profile",
    """
    WITH b AS (
      SELECT doc_id::BIGINT AS doc_id,
             regexp_replace(text, '\\s+', '', 'g') AS body
      FROM documents
    )
    SELECT doc_id,
           round(len(regexp_extract_all(body, '[A-Za-z]'))::DOUBLE
                 / GREATEST(len(body), 1), 6) AS latin_frac_r6,
           round(len(regexp_extract_all(body,
                 '[\\x{0400}-\\x{04FF}]'))::DOUBLE
                 / GREATEST(len(body), 1), 6) AS cyrillic_frac_r6,
           round(len(regexp_extract_all(body,
                 '[\\x{4E00}-\\x{9FFF}]'))::DOUBLE
                 / GREATEST(len(body), 1), 6) AS cjk_frac_r6,
           round(len(regexp_extract_all(body, '[0-9]'))::DOUBLE
                 / GREATEST(len(body), 1), 6) AS digit_frac_r6
    FROM b
    """,
)
def q_text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-script routing profile (round 12,
    :func:`lindel_spark.text.script_profile`): latin/cyrillic/CJK/
    digit fractions per document — the zero-shot router in front of
    the trained language ID (script is free where language needs a
    model). Map-only on both engines; 6dp."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    p = LT.script_profile(F.col("text"))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(p["latin_frac"], 6).alias("latin_frac_r6"),
        F.round(p["cyrillic_frac"], 6).alias("cyrillic_frac_r6"),
        F.round(p["cjk_frac"], 6).alias("cjk_frac_r6"),
        F.round(p["digit_frac"], 6).alias("digit_frac_r6"))


@query(
    "events_proportion_test",
    """
    WITH base AS (
      SELECT CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS x,
             (user_id % 2)::INT AS g
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ), agg AS (
      SELECT SUM(g)::BIGINT AS n1, SUM(1 - g)::BIGINT AS n0,
             SUM(x * g)::BIGINT AS s1,
             SUM(x * (1 - g))::BIGINT AS s0
      FROM base
    )
    SELECT n1, n0,
           round(s1::DOUBLE / n1, 6) AS p1_r6,
           round(s0::DOUBLE / n0, 6) AS p0_r6,
           round((s1::DOUBLE / n1 - s0::DOUBLE / n0)
                 / sqrt(((s1 + s0)::DOUBLE / (n1 + n0))
                        * (1.0 - (s1 + s0)::DOUBLE / (n1 + n0))
                        * (1.0 / n1 + 1.0 / n0)), 6) AS z_r6
    FROM agg
    """,
)
def q_events_proportion_test(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Pooled two-proportion z-test (round 12,
    :func:`lindel_spark.profile.two_proportion_ztest`) of the
    high-value rate between even and odd users — the conversion-rate
    member of the stats trio (means: Welch; ranks: Mann–Whitney);
    exact counts to the final divisions; 6dp."""
    from lindel_spark.profile import two_proportion_ztest

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    base = (ev.filter(F.col("value").isNotNull()
                      & F.col("user_id").isNotNull())
            .select(F.when(F.col("value") > 50.0, 1).otherwise(0)
                    .alias("x"),
                    (F.col("user_id") % 2).cast("int").alias("g")))
    out = two_proportion_ztest(base, "x", "g")
    return out.select("n1", "n0",
                      F.round("p1", 6).alias("p1_r6"),
                      F.round("p0", 6).alias("p0_r6"),
                      F.round("z", 6).alias("z_r6"))


@query(
    "events_kaplan_meier",
    """
    WITH spans AS (
      SELECT user_id,
             floor((epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
                   / 86400000000.0) AS t,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS e
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), counts AS (
      SELECT t, SUM(e)::BIGINT AS d, SUM(1 - e)::BIGINT AS c
      FROM spans GROUP BY t
    ), cum AS (
      SELECT t, d, c,
             SUM(d + c) OVER w AS call,
             (SELECT COUNT(*) FROM spans) - (SUM(d + c) OVER w
                                             - (d + c)) AS n_risk
      FROM counts
      WINDOW w AS (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), s AS (
      SELECT t, d, c, n_risk,
             SUM(CASE WHEN d < n_risk
                      THEN ln(1.0 - d::DOUBLE / n_risk)
                      ELSE 0.0 END) OVER w2 AS lnsum,
             SUM(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER w2
               AS dead
      FROM cum
      WINDOW w2 AS (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT t, n_risk::BIGINT AS n_risk, d AS n_events,
           c AS n_censored,
           round(CASE WHEN dead > 0 THEN 0.0 ELSE exp(lnsum) END, 6)
             AS survival_r6
    FROM s WHERE d > 0
    """,
)
def q_events_kaplan_meier(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Kaplan–Meier retention curve (round 12,
    :func:`lindel_spark.timeseries.kaplan_meier`) over user activity
    spans in whole days, a user's span "dying" if it ever converted
    (purchase) and censored otherwise: survival via
    ``exp(Σ ln(1−d/n))`` so the product rides the distributed prefix
    sum; exact risk-set integers; 6dp."""
    from lindel_spark.timeseries import kaplan_meier

    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    spans = (ev.groupBy("user_id")
             .agg(F.floor((F.unix_micros(F.max("ts"))
                           - F.unix_micros(F.min("ts")))
                          / F.lit(86400000000.0)).alias("t"),
                  F.max(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("e")))
    out = kaplan_meier(spans, "t", "e")
    return out.select("t", "n_risk", "n_events", "n_censored",
                      F.round("survival", 6).alias("survival_r6"))


@query(
    "text_heaps_fit",
    """
    WITH norm AS (
      SELECT doc_id::BIGINT AS doc_id,
             list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '') AS toks
      FROM documents
    ), ranked AS (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS r
      FROM (SELECT DISTINCT doc_id FROM norm)
    ), first AS (
      SELECT term, MIN(r) AS fr
      FROM (SELECT n.doc_id, unnest(n.toks) AS term FROM norm n)
      JOIN ranked USING (doc_id)
      GROUP BY term
    ), growth AS (
      SELECT fr, COUNT(*)::BIGINT AS newv FROM first GROUP BY fr
    ), pts AS (
      SELECT ln(fr::DOUBLE) AS x,
             ln(SUM(newv) OVER (ORDER BY fr
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                ::DOUBLE) AS y
      FROM growth
    ), ols AS (
      SELECT COUNT(*)::DOUBLE AS m, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM pts
    )
    SELECT (SELECT COUNT(*) FROM ranked)::BIGINT AS n_docs,
           (SELECT COUNT(*) FROM first)::BIGINT AS vocab,
           round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6)
             AS beta_r6,
           round((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx)
                 / m, 6) AS ln_k_r6
    FROM ols
    """,
)
def q_text_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (round 12,
    :func:`lindel_spark.text.heaps_fit`): V(n) = K·n^β over the
    corpus in doc-id order — β outside ~0.4–0.6 flags template
    floods (β→0) or token-noise (β→1); the growth-side companion to
    the Zipf screen. First-appearance ranks + distributed prefix
    sums + closed-form OLS; 6dp."""
    from lindel_spark.text import heaps_fit

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = heaps_fit(docs)
    return out.select("n_docs", "vocab",
                      F.round("beta", 6).alias("beta_r6"),
                      F.round("ln_k", 6).alias("ln_k_r6"))


@query(
    "parts_weighted_quantiles",
    """
    WITH counts AS (
      SELECT l_extendedprice::DOUBLE AS v,
             SUM(l_quantity::DOUBLE) AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      GROUP BY v
    ), cum AS (
      SELECT v, SUM(w) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      FROM counts
    ), tot AS (SELECT MAX(cw) AS W FROM cum),
    qs(q) AS (VALUES (0.25), (0.5), (0.75), (0.9), (0.99))
    SELECT q, MIN(v) AS value, round(MIN(cw), 4) AS cum_weight_r4
    FROM cum, tot, qs
    WHERE cw >= q * W
    GROUP BY q
    """,
)
def q_parts_weighted_quantiles(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Exact quantity-weighted price quantiles (round 12,
    :func:`lindel_spark.profile.weighted_quantiles`): smallest price
    whose cumulative shipped quantity reaches q·W — the weight axis
    no unweighted quantile form carries (token-budget medians,
    revenue percentiles); distributed prefix sum + one broadcast
    q-list join, all quantiles in one aggregate."""
    from lindel_spark.profile import weighted_quantiles

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    out = weighted_quantiles(li, "l_extendedprice", "l_quantity",
                             [0.25, 0.5, 0.75, 0.9, 0.99])
    return out.select("q", "value",
                      F.round("cum_weight", 4).alias("cum_weight_r4"))


@query(
    "parts_best_split",
    """
    WITH base AS (
      SELECT l_extendedprice::DOUBLE AS v,
             CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS y
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
    ), counts AS (
      SELECT v, SUM(y)::BIGINT AS p, SUM(1 - y)::BIGINT AS n
      FROM base GROUP BY v
    ), cum AS (
      SELECT v,
             SUM(p) OVER w AS cp, SUM(n) OVER w AS cn
      FROM counts
      WINDOW w AS (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), tot AS (
      SELECT MAX(cp)::BIGINT AS P, MAX(cn)::BIGINT AS N FROM cum
    ), cand AS (
      SELECT v AS threshold,
             (1.0 - (P::DOUBLE / (P + N)) * (P::DOUBLE / (P + N))
                  - (N::DOUBLE / (P + N)) * (N::DOUBLE / (P + N)))
             - ((cp + cn)::DOUBLE / (P + N))
               * (1.0 - (cp::DOUBLE / (cp + cn)) * (cp::DOUBLE / (cp + cn))
                      - (cn::DOUBLE / (cp + cn)) * (cn::DOUBLE / (cp + cn)))
             - ((P + N - cp - cn)::DOUBLE / (P + N))
               * (1.0 - ((P - cp)::DOUBLE / (P + N - cp - cn))
                        * ((P - cp)::DOUBLE / (P + N - cp - cn))
                      - ((N - cn)::DOUBLE / (P + N - cp - cn))
                        * ((N - cn)::DOUBLE / (P + N - cp - cn)))
               AS gain,
             (cp + cn)::BIGINT AS n_left,
             (P + N - cp - cn)::BIGINT AS n_right,
             cp::BIGINT AS pos_left, (P - cp)::BIGINT AS pos_right
      FROM cum, tot
      WHERE (P + N - cp - cn) > 0
    )
    SELECT MIN(threshold) AS threshold,
           round(MAX(round(gain, 12)), 6) AS gain_r6,
           MIN_BY(n_left, threshold) AS n_left,
           MIN_BY(n_right, threshold) AS n_right,
           MIN_BY(pos_left, threshold) AS pos_left,
           MIN_BY(pos_right, threshold) AS pos_right
    FROM cand
    WHERE round(gain, 12) = (SELECT MAX(round(gain, 12)) FROM cand)
    """,
)
def q_parts_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D decision stump (round 12,
    :func:`lindel_spark.features.best_split`): the price threshold
    with the largest Gini impurity decrease against the
    high-discount label — every candidate split's impurity is
    closed-form algebra over the distributed prefix sum; argmax with
    the deterministic (max gain @ 12dp, smallest threshold)
    tie-break both engines replay; 6dp."""
    from lindel_spark.features import best_split

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    base = li.select(
        F.col("l_extendedprice").cast("double").alias("v"),
        F.when(F.col("l_discount") > 0.05, 1).otherwise(0).alias("y"))
    out = best_split(base, "v", "y", criterion="gini")
    return out.select("threshold",
                      F.round("gain", 6).alias("gain_r6"),
                      "n_left", "n_right", "pos_left", "pos_right")


@query(
    "supplier_dbscan",
    """
    WITH RECURSIVE pts AS (
      SELECT s_suppkey::BIGINT AS id,
             ((s_suppkey % 17) * 10)::DOUBLE AS x,
             (((s_suppkey // 17) % 13) * 10)::DOUBLE AS y
      FROM supplier
    ), pairs AS (
      SELECT a.id AS a, b.id AS b
      FROM pts a JOIN pts b
        ON a.id <> b.id
       AND sqrt((a.x - b.x) * (a.x - b.x)
                + (a.y - b.y) * (a.y - b.y)) <= 0.5
    ), counts AS (
      SELECT a, COUNT(*) + 1 AS n FROM pairs GROUP BY a
    ), flags AS (
      SELECT pts.id, COALESCE(counts.n, 1) >= 3 AS is_core
      FROM pts LEFT JOIN counts ON pts.id = counts.a
    ), core_edges AS (
      SELECT p.a AS src, p.b AS dst
      FROM pairs p
      JOIN flags fa ON p.a = fa.id AND fa.is_core
      JOIN flags fb ON p.b = fb.id AND fb.is_core
      WHERE p.a < p.b
    ), ed AS (
      SELECT src AS u, dst AS v FROM core_edges
      UNION ALL SELECT dst, src FROM core_edges
    ), reach(node, lbl) AS (
      SELECT id, id FROM flags WHERE is_core
      UNION
      SELECT e.v, r.lbl FROM ed e JOIN reach r ON r.node = e.u
    ), comp AS (
      SELECT node, MIN(lbl) AS cluster FROM reach GROUP BY node
    ), core_out AS (
      SELECT f.id, 'core' AS role, c.cluster
      FROM flags f JOIN comp c ON f.id = c.node WHERE f.is_core
    ), border AS (
      SELECT p.a AS id, 'border' AS role, MIN(co.cluster) AS cluster
      FROM pairs p
      JOIN flags fa ON p.a = fa.id AND NOT fa.is_core
      JOIN core_out co ON p.b = co.id
      GROUP BY p.a
    ), noise AS (
      SELECT f.id, 'noise' AS role, NULL::BIGINT AS cluster
      FROM flags f
      WHERE NOT f.is_core
        AND f.id NOT IN (SELECT id FROM border)
    )
    SELECT * FROM core_out
    UNION ALL SELECT * FROM border
    UNION ALL SELECT * FROM noise
    """,
)
def q_supplier_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grid DBSCAN (round 12,
    :func:`lindel_spark.clustering.dbscan_2d`, ε = 0.5, min_pts = 3)
    over suppliers placed on a 17×13 modulo lattice (sites 10 apart,
    so ε only connects co-located suppliers — component size is
    bounded at every scale, which keeps the oracle's recursive
    transitive closure finite): Morton-cell 3×3 neighborhood pairs +
    star connected components on the Spark side vs the naive
    distance join + recursive min-label fixpoint in DuckDB —
    identical roles and min-id clusters."""
    from lindel_spark.clustering import dbscan_2d

    sup = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    pts = sup.select(
        F.col("s_suppkey").cast("long").alias("id"),
        ((F.col("s_suppkey") % 17) * 10).cast("double").alias("x"),
        (((F.col("s_suppkey") / 17).cast("long") % 13) * 10)
        .cast("double").alias("y"))
    out = dbscan_2d(pts, "id", "x", "y", eps=0.5, min_pts=3)
    return out.select("id", "role",
                      F.col("cluster").cast("long").alias("cluster"))


@query(
    "parts_rank_rbo",
    """
    WITH byrev AS (
      SELECT l_partkey AS item,
             row_number() OVER (ORDER BY SUM(l_extendedprice) DESC,
                                l_partkey) AS rank
      FROM lineitem GROUP BY l_partkey
    ), bycnt AS (
      SELECT l_partkey AS item,
             row_number() OVER (ORDER BY COUNT(*) DESC, l_partkey)
               AS rank
      FROM lineitem GROUP BY l_partkey
    ), bth AS (
      SELECT GREATEST(a.rank, b.rank) AS m
      FROM byrev a JOIN bycnt b USING (item)
      WHERE GREATEST(a.rank, b.rank) <= 50
    ), entry AS (
      SELECT m, COUNT(*)::BIGINT AS c FROM bth GROUP BY m
    ), depths AS (
      SELECT d, pow(0.9, d - 1) / d AS wd
      FROM generate_series(1, 50) AS t(d)
    ), per_d AS (
      SELECT depths.d, depths.wd,
             COALESCE(SUM(entry.c), 0) AS ov
      FROM depths LEFT JOIN entry ON entry.m <= depths.d
      GROUP BY depths.d, depths.wd
    )
    SELECT 50::BIGINT AS depth,
           MAX(CASE WHEN d = 50 THEN ov END)::BIGINT
             AS overlap_at_depth,
           round(0.1 * SUM(wd * ov), 6) AS rbo_r6
    FROM per_d
    """,
)
def q_parts_rank_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap at p = 0.9, depth 50 (round 12,
    :func:`lindel_spark.retrieval.rank_biased_overlap`) between the
    revenue-ranked and frequency-ranked part top lists — the
    top-weighted agreement score for comparing ranking runs
    (Spearman weights all ranks equally; users read from the top).
    Per-depth overlap is one cumulative over max(rank_a, rank_b);
    6dp."""
    from pyspark.sql import Window

    from lindel_spark.retrieval import rank_biased_overlap

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    byrev = (li.groupBy("l_partkey")
             .agg(F.sum("l_extendedprice").alias("rev"))
             .select(F.col("l_partkey").alias("item"),
                     F.row_number().over(
                         Window.orderBy(F.col("rev").desc(),
                                        F.col("l_partkey")))
                     .alias("rank")))
    bycnt = (li.groupBy("l_partkey")
             .agg(F.count(F.lit(1)).alias("cnt"))
             .select(F.col("l_partkey").alias("item"),
                     F.row_number().over(
                         Window.orderBy(F.col("cnt").desc(),
                                        F.col("l_partkey")))
                     .alias("rank")))
    out = rank_biased_overlap(byrev, bycnt, p=0.9, depth=50)
    return out.select("depth", "overlap_at_depth",
                      F.round("rbo", 6).alias("rbo_r6"))


@query(
    "text_phrase_search",
    """
    WITH norm AS (
      SELECT doc_id::BIGINT AS doc_id,
             list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '') AS toks
      FROM documents
    ), pos AS (
      SELECT doc_id, unnest(toks) AS term,
             unnest(generate_series(0, len(toks) - 1)) AS p
      FROM norm
    ), h AS (
      SELECT a.doc_id, a.p AS anchor
      FROM pos a JOIN pos b
        ON a.doc_id = b.doc_id AND b.p = a.p + 1
      WHERE a.term = 'hash' AND b.term = 'join'
    )
    SELECT doc_id, COUNT(*)::BIGINT AS n_matches
    FROM h GROUP BY doc_id
    """,
)
def q_text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search for "hash join" (round 12,
    :func:`lindel_spark.retrieval.phrase_search`): exact contiguous
    bigram matches per document via positional postings — the
    capability a bag-of-words index can't answer; postings filtered
    to the phrase terms inside the scan stage."""
    from lindel_spark.retrieval import phrase_search

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return phrase_search(docs, "hash join")


@query(
    "knn_lof_outliers",
    """
    WITH e AS (
      SELECT vec_id::BIGINT AS id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < 1200
    ), scored AS (
      SELECT a.id AS p, b.id AS o,
             GREATEST(0.0, 1.0 - list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v)))) AS d
      FROM e a JOIN e b ON a.id != b.id
    ), n AS (
      SELECT p, o, d FROM (
        SELECT p, o, d,
               row_number() OVER (PARTITION BY p ORDER BY d, o) AS r
        FROM scored)
      WHERE r <= 5
    ), kd AS (
      SELECT p, MAX(d) AS kdist FROM n GROUP BY p
    ), reach AS (
      SELECT n.p, n.o, GREATEST(kdo.kdist, n.d) AS rd
      FROM n JOIN kd kdo ON n.o = kdo.p
    ), lrd AS (
      SELECT p, CASE WHEN SUM(rd) > 0
                     THEN COUNT(*)::DOUBLE / SUM(rd) END AS lrd
      FROM reach GROUP BY p
    ), avg_o AS (
      SELECT n.p, AVG(lo.lrd) AS alo
      FROM n JOIN lrd lo ON n.o = lo.p GROUP BY n.p
    )
    SELECT kd.p AS id, round(kd.kdist, 6) AS kdist_r6,
           round(lrd.lrd, 6) AS lrd_r6,
           round(avg_o.alo / lrd.lrd, 6) AS lof_r6
    FROM kd JOIN lrd USING (p) JOIN avg_o USING (p)
    """,
)
def q_knn_lof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local outlier factor at k = 5 (round 12,
    :func:`lindel_spark.similarity.lof`) over the first 1200
    embeddings (the cap bounds the ORACLE's naive all-pairs replay —
    the operator itself is the distributed knn_join plan): cosine
    reach-distances, lrd density ratios, LOF ≈ 1 inlier / ≫ 1
    outlier; the same sequential-fold cosine both engines compute
    bit-for-bit; 6dp."""
    from lindel_spark.similarity import lof

    emb = (spark.read.parquet(os.path.join(sf_dir,
                                           "embeddings.parquet"))
           .filter(F.col("vec_id") < 1200))
    out = lof(emb, k=5)
    return out.select("id",
                      F.round("kdist", 6).alias("kdist_r6"),
                      F.round("lrd", 6).alias("lrd_r6"),
                      F.round("lof", 6).alias("lof_r6"))


@query(
    "dedup_containment",
    """
    WITH d AS (
      SELECT doc_id::BIGINT AS id,
             list_filter(
               string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
               t -> t <> '') AS t
      FROM documents
    ), g0 AS (
      SELECT id,
             list_distinct(list_transform(
               range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gs
      FROM d WHERE len(t) >= 3
    ), g AS (
      SELECT id, unnest(gs) AS gr FROM g0
    ), dfs AS (
      SELECT gr, COUNT(*)::BIGINT AS gdf FROM g GROUP BY gr
    ), kept AS (
      SELECT g.id, g.gr FROM g JOIN dfs USING (gr) WHERE gdf <= 500
    ), sizes AS (
      SELECT id, COUNT(*)::BIGINT AS sz FROM kept GROUP BY id
    ), ov AS (
      SELECT a.id AS src, b.id AS dst, COUNT(*)::BIGINT AS overlap
      FROM kept a JOIN kept b ON a.gr = b.gr AND a.id <> b.id
      GROUP BY 1, 2
    )
    SELECT src, dst, overlap,
           round(overlap::DOUBLE / sz, 6) AS containment_r6
    FROM ov JOIN sizes ON sizes.id = ov.src
    WHERE overlap::DOUBLE / sz >= 0.6
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment join (round 12,
    :func:`lindel_spark.dedup.containment_join`, k = 3, t = 0.6,
    gram-df cap 500): the sub-document/quote detector symmetric
    Jaccard misses by construction — |src∩dst|/|src| over distinct
    word trigram sets, high-df boilerplate shingles cut before
    pairing; both directions emitted; 6dp display, full-precision
    threshold on both engines."""
    from lindel_spark.dedup import containment_join

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = containment_join(docs, threshold=0.6, shingle_k=3,
                           max_gram_df=500)
    return out.select("src", "dst", "overlap",
                      F.round("containment", 6)
                      .alias("containment_r6"))


@query(
    "profile_dp_counts",
    """
    WITH counts AS (
      SELECT event_type, COUNT(*)::BIGINT AS n FROM events GROUP BY 1
    ), drawn AS (
      SELECT event_type, n,
             (('0x' || substr(md5(coalesce(event_type,
                                           chr(0) || 'null')
                                  || '|' || 'lindel'),
                              1, 15))::BIGINT + 0.5)
               / 1152921504606846976.0 AS u
      FROM counts
    )
    SELECT event_type, n,
           round(n + (-(1.0 / 1.0) * sign(u - 0.5)
                      * ln(1.0 - 2.0 * abs(u - 0.5))), 6)
             AS noisy_n_r6
    FROM drawn
    """,
)
def q_profile_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism count release with seeded draws (round 12,
    :func:`lindel_spark.profile.seeded_laplace_counts`, ε = 1):
    md5(key, salt) → uniform → inverse-CDF Laplace — the calibrated
    noise SHAPE of the ε-DP count mechanism with bit-replayable
    draws (documented loudly as NOT true DP: fresh randomness is the
    salt rotation's job); pure column algebra, zero extra shuffles;
    6dp."""
    from lindel_spark.profile import seeded_laplace_counts

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = seeded_laplace_counts(ev, "event_type", epsilon=1.0,
                                salt="lindel")
    return out.select("event_type", "n",
                      F.round("noisy_n", 6).alias("noisy_n_r6"))


@query(
    "events_attribution",
    """
    WITH e AS (
      SELECT user_id::BIGINT AS user_id, epoch_us(ts)::BIGINT AS tus,
             event_id::BIGINT AS event_id, event_type,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
               AS conv
      FROM events WHERE user_id IS NOT NULL
    ), ep AS (
      SELECT *, COALESCE(SUM(conv) OVER (
               PARTITION BY user_id ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS epoch
      FROM e
    ), touches AS (
      SELECT user_id, event_type, epoch,
             COUNT(*) OVER (PARTITION BY user_id, epoch) AS cnt
      FROM ep WHERE conv = 0
    ), convs AS (
      SELECT DISTINCT user_id, epoch FROM ep WHERE conv = 1
    ), closed AS (
      SELECT t.* FROM touches t
      JOIN convs c ON t.user_id = c.user_id AND t.epoch = c.epoch
    )
    SELECT event_type AS touch_type,
           round(SUM(1.0 / cnt), 6) AS credit_r6,
           COUNT(*)::BIGINT AS n_touches,
           COUNT(DISTINCT (user_id, epoch))::BIGINT AS n_conversions
    FROM closed GROUP BY 1
    """,
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution (round 12,
    :func:`lindel_spark.timeseries.attribution`): each purchase's
    unit of credit split 1/n across the user's touches since their
    previous purchase — epoch grouping IS the touch→conversion
    assignment (no join on the touch side, one window pass + two
    keyed aggregates); credit conserves to the attributed-conversion
    count; 6dp."""
    from lindel_spark.timeseries import attribution

    ev = (_events(spark, sf_dir)
          .filter(F.col("user_id").isNotNull())
          .withColumn("tus", F.unix_micros("ts"))
          .withColumn("eid", F.col("event_id").cast("long")))
    out = attribution(ev, "user_id", "tus", "event_type", "eid",
                      conversion="purchase", model="linear")
    return out.select("touch_type",
                      F.round("credit", 6).alias("credit_r6"),
                      "n_touches", "n_conversions")


@query(
    "parts_huber_mean",
    """
    WITH base AS (
      SELECT l_extendedprice::DOUBLE AS x FROM lineitem
      WHERE l_extendedprice IS NOT NULL
    ), cnt AS (
      SELECT x, COUNT(*)::BIGINT AS c FROM base GROUP BY x
    ), cum AS (
      SELECT x, SUM(c) OVER (ORDER BY x
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      FROM cnt
    ), med AS (
      SELECT MIN(x) AS m0 FROM cum,
             (SELECT MAX(cw) AS W FROM cum) t
      WHERE cw >= 0.5 * t.W
    ), ad AS (
      SELECT abs(x - (SELECT m0 FROM med)) AS a FROM base
    ), acnt AS (
      SELECT a, COUNT(*)::BIGINT AS c FROM ad GROUP BY a
    ), acum AS (
      SELECT a, SUM(c) OVER (ORDER BY a
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      FROM acnt
    ), mad AS (
      SELECT MIN(a) AS s FROM acum,
             (SELECT MAX(cw) AS W FROM acum) t
      WHERE cw >= 0.5 * t.W
    ), r1 AS (
      SELECT SUM(CASE WHEN abs(x - med.m0) <= 1.5 * mad.s THEN 1.0
                      ELSE 1.5 * mad.s / abs(x - med.m0) END * x)
           / SUM(CASE WHEN abs(x - med.m0) <= 1.5 * mad.s THEN 1.0
                      ELSE 1.5 * mad.s / abs(x - med.m0) END) AS m
      FROM base, med, mad
    ), r2 AS (
      SELECT SUM(CASE WHEN abs(x - r1.m) <= 1.5 * mad.s THEN 1.0
                      ELSE 1.5 * mad.s / abs(x - r1.m) END * x)
           / SUM(CASE WHEN abs(x - r1.m) <= 1.5 * mad.s THEN 1.0
                      ELSE 1.5 * mad.s / abs(x - r1.m) END) AS m
      FROM base, r1, mad
    ), r3 AS (
      SELECT SUM(CASE WHEN abs(x - r2.m) <= 1.5 * mad.s THEN 1.0
                      ELSE 1.5 * mad.s / abs(x - r2.m) END * x)
           / SUM(CASE WHEN abs(x - r2.m) <= 1.5 * mad.s THEN 1.0
                      ELSE 1.5 * mad.s / abs(x - r2.m) END) AS m
      FROM base, r2, mad
    )
    SELECT (SELECT COUNT(*) FROM base)::BIGINT AS n,
           round(mad.s, 6) AS scale_r6,
           round(r3.m, 6) AS huber_r6
    FROM mad, r3
    """,
)
def q_parts_huber_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of the price location (round 12,
    :func:`lindel_spark.profile.huber_mean`, c = 1.5, 3 IRLS rounds
    from the median/MAD start): the efficiency-robustness compromise
    between the mean and the median — each round one broadcast
    scalar aggregate, unrolled in the oracle (the pagerank fixed-
    round contract); 6dp."""
    from lindel_spark.profile import huber_mean

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    out = huber_mean(li, "l_extendedprice", c=1.5, rounds=3)
    return out.select("n", F.round("scale", 6).alias("scale_r6"),
                      F.round("huber_mean", 6).alias("huber_r6"))


@query(
    "events_cliffs_delta",
    f"""
    WITH pairs AS ({_MWU_PAIR_SQL}),
    c AS (
      SELECT v, SUM(y)::BIGINT AS c1, SUM(1 - y)::BIGINT AS c0,
             COUNT(*)::BIGINT AS cnt
      FROM pairs GROUP BY v
    ), cum AS (
      SELECT c1, c0, cnt,
             SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumc
      FROM c
    ), agg AS (
      SELECT SUM(c1)::BIGINT AS n1, SUM(c0)::BIGINT AS n0,
             SUM(c1 * (2 * cumc - cnt + 1))::BIGINT AS r1_2
      FROM cum
    )
    SELECT n1, n0,
           round(2.0 * (r1_2 / 2.0 - n1 * (n1 + 1) / 2.0)
                 / (n1::DOUBLE * n0) - 1.0, 6) AS delta_r6
    FROM agg
    """,
)
def q_events_cliffs_delta(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Cliff's delta effect size on the even/odd-user split (round
    12, :func:`lindel_spark.profile.cliffs_delta`): the
    does-it-MATTER companion to ``events_mann_whitney``'s
    significance z — 2U/(n1·n0) − 1 through the same tie-aware
    midrank identity; exact integers to the final division; 6dp."""
    from lindel_spark.profile import cliffs_delta

    out = cliffs_delta(_mwu_pairs(spark, sf_dir), "v", "y")
    return out.select("n1", "n0",
                      F.round("delta", 6).alias("delta_r6"))


# ---------------------------------------------------------------------------
# round 15: ordered/binary repeated measures, ESD outliers, closeness
# ---------------------------------------------------------------------------


@query(
    "events_cochran_q",
    """
    WITH m AS MATERIALIZED (
      SELECT user_id AS b, event_type AS t,
             (COUNT(*) > 13)::BIGINT AS x
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), kk AS MATERIALIZED (
      SELECT COUNT(DISTINCT t)::BIGINT AS k FROM m
    ), cb AS MATERIALIZED (
      SELECT b FROM m GROUP BY b
      HAVING COUNT(*) = (SELECT k FROM kk)
    ), rows_ AS MATERIALIZED (
      SELECT m.* FROM m JOIN cb ON cb.b = m.b
    ), pb AS MATERIALIZED (
      SELECT b, SUM(x)::HUGEINT AS r FROM rows_ GROUP BY b
    ), pt AS MATERIALIZED (
      SELECT t, SUM(x)::HUGEINT AS cj FROM rows_ GROUP BY t
    ), mb AS MATERIALIZED (
      SELECT COUNT(*)::BIGINT AS n_blocks,
             SUM(r)::HUGEINT AS nn, SUM(r * r)::HUGEINT AS r2
      FROM pb
    ), mt AS MATERIALIZED (
      SELECT COUNT(*)::BIGINT AS k, SUM(cj * cj)::HUGEINT AS c2
      FROM pt
    )
    SELECT mb.n_blocks, mt.k,
           round(CASE WHEN mt.k::DOUBLE * mb.nn::DOUBLE
                           - mb.r2::DOUBLE > 0
                 THEN (mt.k::DOUBLE - 1.0)
                      * (mt.k::DOUBLE * mt.c2::DOUBLE
                         - mb.nn::DOUBLE * mb.nn::DOUBLE)
                      / (mt.k::DOUBLE * mb.nn::DOUBLE
                         - mb.r2::DOUBLE)
                 END, 6) AS q_r6
    FROM mb CROSS JOIN mt
    """,
)
def q_events_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test (round 15,
    :func:`lindel_spark.profile.cochran_q`): "does HEAVY USAGE
    (> 13 events in the cell) differ across the 5 event types when
    every user sees all 5?" — block = user, treatment = event type,
    success = the exact integer count comparison, so every moment
    (row/column success totals and their squares) is an exact
    DECIMAL↔HUGEINT integer on both engines; the one double is the
    final division; 6dp."""
    from lindel_spark.profile import cochran_q
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    m = (ev.filter(F.col("user_id").isNotNull()
                   & F.col("event_type").isNotNull())
         .groupBy(F.col("user_id").alias("b"),
                  F.col("event_type").alias("t"))
         .agg((F.count(F.lit(1)) > 13).cast("long").alias("x")))
    out = cochran_q(m, "b", "t", "x")
    return out.select("n_blocks", "k",
                      F.round("q", 6).alias("q_r6"))


@query(
    "events_page_trend",
    """
    WITH m AS MATERIALIZED (
      SELECT user_id AS b, event_type AS t, COUNT(*)::DOUBLE AS v
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), kk AS MATERIALIZED (
      SELECT COUNT(DISTINCT t)::BIGINT AS k FROM m
    ), cb AS MATERIALIZED (
      SELECT b FROM m GROUP BY b
      HAVING COUNT(*) = (SELECT k FROM kk)
    ), torder AS MATERIALIZED (
      SELECT t, row_number() OVER (ORDER BY t)::BIGINT AS j
      FROM (SELECT DISTINCT t FROM m)
    ), r AS MATERIALIZED (
      SELECT m.b, m.t,
             2 * rank() OVER (PARTITION BY m.b ORDER BY m.v)
               + COUNT(*) OVER (PARTITION BY m.b, m.v) - 1 AS m2
      FROM m JOIN cb ON cb.b = m.b
    ), agg AS MATERIALIZED (
      SELECT COUNT(DISTINCT r.b)::BIGINT AS n_blocks,
             MAX(torder.j)::BIGINT AS k,
             SUM(r.m2::HUGEINT * torder.j::HUGEINT)::HUGEINT AS l2
      FROM r JOIN torder ON torder.t = r.t
    )
    SELECT n_blocks, k,
           round(l2::DOUBLE / 2.0, 6) AS l_r6,
           round(CASE WHEN k > 1 AND n_blocks > 0 THEN
                 (l2::DOUBLE / 2.0
                  - n_blocks::DOUBLE * k::DOUBLE * (k::DOUBLE + 1.0)
                    * (k::DOUBLE + 1.0) / 4.0)
                 / sqrt(n_blocks::DOUBLE * k::DOUBLE * k::DOUBLE
                        * (k::DOUBLE + 1.0) * (k::DOUBLE + 1.0)
                        * (k::DOUBLE - 1.0) / 144.0)
                 END, 6) AS z_r6
    FROM agg
    """,
)
def q_events_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's trend test (round 15,
    :func:`lindel_spark.profile.page_trend_test`): "does per-user
    event frequency INCREASE along the alphabetical event-type
    order?" — the monotone-alternative sibling of
    ``events_friedman`` on the same complete-block design. Counts
    are exact integers so the within-block midranks are
    engine-identical; L2 accumulates DECIMAL↔HUGEINT; the only
    doubles are the final L/2 and the closed-form z; 6dp."""
    from lindel_spark.profile import page_trend_test
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    m = (ev.filter(F.col("user_id").isNotNull()
                   & F.col("event_type").isNotNull())
         .groupBy(F.col("user_id").alias("b"),
                  F.col("event_type").alias("t"))
         .agg(F.count(F.lit(1)).cast("double").alias("v")))
    out = page_trend_test(m, "b", "t", "v")
    return out.select("n_blocks", "k",
                      F.round("l", 6).alias("l_r6"),
                      F.round("z", 6).alias("z_r6"))


@query(
    "events_esd_outliers",
    """
    WITH base AS MATERIALIZED (
      SELECT user_id::BIGINT AS id, COUNT(*)::DOUBLE AS value
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ),
    m1 AS (SELECT COUNT(*)::BIGINT AS n, SUM(value) AS s,
                  SUM(value * value) AS s2 FROM base),
    p1 AS (
      SELECT 1::BIGINT AS round, id, value,
             abs(value - s / n) / sqrt((s2 - s * s / n) / (n - 1))
               AS r_stat
      FROM base CROSS JOIN m1 WHERE n >= 3
      ORDER BY r_stat DESC, id ASC LIMIT 1
    ),
    b2 AS (SELECT base.* FROM base
           WHERE id NOT IN (SELECT id FROM p1)),
    m2 AS (SELECT COUNT(*)::BIGINT AS n, SUM(value) AS s,
                  SUM(value * value) AS s2 FROM b2),
    p2 AS (
      SELECT 2::BIGINT AS round, id, value,
             abs(value - s / n) / sqrt((s2 - s * s / n) / (n - 1))
               AS r_stat
      FROM b2 CROSS JOIN m2 WHERE n >= 3
      ORDER BY r_stat DESC, id ASC LIMIT 1
    ),
    b3 AS (SELECT b2.* FROM b2
           WHERE id NOT IN (SELECT id FROM p2)),
    m3 AS (SELECT COUNT(*)::BIGINT AS n, SUM(value) AS s,
                  SUM(value * value) AS s2 FROM b3),
    p3 AS (
      SELECT 3::BIGINT AS round, id, value,
             abs(value - s / n) / sqrt((s2 - s * s / n) / (n - 1))
               AS r_stat
      FROM b3 CROSS JOIN m3 WHERE n >= 3
      ORDER BY r_stat DESC, id ASC LIMIT 1
    )
    SELECT round, id, value, round(r_stat, 6) AS r_r6 FROM p1
    UNION ALL SELECT round, id, value, round(r_stat, 6) FROM p2
    UNION ALL SELECT round, id, value, round(r_stat, 6) FROM p3
    """,
)
def q_events_esd_outliers(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Generalized-ESD outlier ranking (round 15,
    :func:`lindel_spark.profile.esd_outliers`): the 3 most extreme
    per-user total event counts, each round's detachment score
    re-estimated with the prior rounds removed. Values are exact
    integer counts (sums and sums of squares stay under 2⁵³, so the
    double moments are bit-exact on both engines) and the unrolled
    3-round CTE ladder replays the anti-join + argmax exactly
    (ties → smallest id); r_stat 6dp."""
    from lindel_spark.profile import esd_outliers
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    base = (ev.filter(F.col("user_id").isNotNull())
            .groupBy(F.col("user_id").alias("uid"))
            .agg(F.count(F.lit(1)).cast("double").alias("cnt")))
    out = esd_outliers(base, "cnt", "uid", rounds=3)
    return out.select("round", "id", "value",
                      F.round("r_stat", 6).alias("r_r6"))


@query(
    "graph_closeness",
    """
    WITH pp AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey::BIGINT AS s, b.l_partkey::BIGINT AS d
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    ), e AS MATERIALIZED (
      SELECT s, d FROM pp UNION SELECT d, s FROM pp
    ), srcs AS MATERIALIZED (
      SELECT DISTINCT l_partkey::BIGINT AS node FROM lineitem
      WHERE l_partkey % 200 = 0
    ), b0 AS MATERIALIZED (
      SELECT node AS s, node FROM srcs
    ), l1 AS MATERIALIZED (
      SELECT c.s, c.node FROM (
        SELECT DISTINCT b0.s, e.d AS node
        FROM b0 JOIN e ON e.s = b0.node
      ) c
      WHERE NOT EXISTS (SELECT 1 FROM b0
                        WHERE b0.s = c.s AND b0.node = c.node)
    ), l2 AS MATERIALIZED (
      SELECT c.s, c.node FROM (
        SELECT DISTINCT l1.s, e.d AS node
        FROM l1 JOIN e ON e.s = l1.node
      ) c
      WHERE NOT EXISTS (SELECT 1 FROM b0
                        WHERE b0.s = c.s AND b0.node = c.node)
        AND NOT EXISTS (SELECT 1 FROM l1
                        WHERE l1.s = c.s AND l1.node = c.node)
    ), cnts AS MATERIALIZED (
      SELECT node, dist, COUNT(*)::BIGINT AS c FROM (
        SELECT s, node, 1 AS dist FROM l1
        UNION ALL
        SELECT s, node, 2 AS dist FROM l2
      ) GROUP BY 1, 2
    )
    SELECT node,
           SUM(c)::BIGINT AS n_sources,
           SUM(c * dist)::BIGINT AS total_dist,
           round(SUM(c)::DOUBLE / SUM(c * dist)::DOUBLE, 6)
             AS closeness_r6
    FROM cnts GROUP BY node
    """,
)
def q_graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source closeness centrality (round 15,
    :func:`lindel_spark.graph.closeness_centrality`): reach counts
    and total distances from the ``l_partkey % 200 == 0`` source
    sample within 2 co-purchase hops — the same graph, sources and
    BFS as ``graph_harmonic``, summing d instead of 1/d. Both sums
    are exact integers; the one double is the final division; 6dp."""
    from lindel_spark.graph import closeness_centrality

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok")
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    srcs = (li.filter(F.col("l_partkey") % 200 == 0)
            .select(F.col("l_partkey").cast("long").alias("node"))
            .distinct())
    out = closeness_centrality(edges, srcs, max_depth=2)
    return out.select("node", "n_sources", "total_dist",
                      F.round("closeness", 6).alias("closeness_r6"))


@query(
    "emb_kmeans",
    """
    WITH base AS MATERIALIZED (
      SELECT vec_id::BIGINT AS id,
             list_transform(embedding::DOUBLE[],
                            x -> floor(x * 1000000.0)) AS q
      FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    ), px AS MATERIALIZED (
      SELECT id, generate_subscripts(q, 1)::BIGINT - 1 AS dim,
             unnest(q) AS x
      FROM base
    ), init AS MATERIALIZED (
      SELECT id, row_number() OVER (ORDER BY id)::BIGINT - 1 AS c
      FROM (SELECT id FROM base ORDER BY id LIMIT 8)
    ), c0 AS MATERIALIZED (
      SELECT init.c, px.dim, px.x AS coord
      FROM init JOIN px ON px.id = init.id
    ), d1 AS MATERIALIZED (
      SELECT px.id, c0.c,
             SUM((px.x - c0.coord) * (px.x - c0.coord)
                 ORDER BY px.dim) AS d2
      FROM px JOIN c0 ON c0.dim = px.dim
      GROUP BY 1, 2
    ), a1 AS MATERIALIZED (
      SELECT id, c AS cluster FROM (
        SELECT id, c, row_number() OVER (PARTITION BY id
                                         ORDER BY d2, c) AS rn
        FROM d1) WHERE rn = 1
    ), u1 AS MATERIALIZED (
      SELECT a1.cluster AS c, px.dim, AVG(px.x) AS coord
      FROM a1 JOIN px ON px.id = a1.id
      GROUP BY 1, 2
    ), c1 AS MATERIALIZED (
      SELECT c0.c, c0.dim, COALESCE(u1.coord, c0.coord) AS coord
      FROM c0 LEFT JOIN u1 ON u1.c = c0.c AND u1.dim = c0.dim
    ), d2_ AS MATERIALIZED (
      SELECT px.id, c1.c,
             SUM((px.x - c1.coord) * (px.x - c1.coord)
                 ORDER BY px.dim) AS d2
      FROM px JOIN c1 ON c1.dim = px.dim
      GROUP BY 1, 2
    ), a2 AS MATERIALIZED (
      SELECT id, c AS cluster FROM (
        SELECT id, c, row_number() OVER (PARTITION BY id
                                         ORDER BY d2, c) AS rn
        FROM d2_) WHERE rn = 1
    ), sz AS MATERIALIZED (
      SELECT cluster, COUNT(*)::BIGINT AS n FROM a2 GROUP BY 1
    )
    SELECT a2.cluster, sz.n, px.dim,
           round(AVG(px.x), 6) AS coord_r6
    FROM a2 JOIN px ON px.id = a2.id
    JOIN sz ON sz.cluster = a2.cluster
    GROUP BY 1, 2, 3
    """,
)
def q_emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED Lloyd k-means (round 15,
    :func:`lindel_spark.clustering.kmeans_lloyd`): k = 8, 2
    assign/update rounds over the full embedding corpus quantized to
    exact integers (``floor(x·10⁶)`` — float→double widening, one
    IEEE multiply and floor are engine-identical), init = the 8
    smallest vec_ids. Quantization makes every centroid an exact
    integer ratio; the per-pair distance folds in ascending-dim
    order on both engines (zip_with left fold ↔ SUM(… ORDER BY
    dim)); argmin ties break to the smallest cluster. Output: final
    per-cluster sizes and mean vectors in the exploded (cluster, n,
    dim, coord) form; 6dp."""
    from lindel_spark.clustering import cluster_centroids, kmeans_lloyd

    emb = spark.read.parquet(os.path.join(sf_dir,
                                          "embeddings.parquet"))
    qd = (emb.filter(F.col("vec_id").isNotNull()
                     & F.col("embedding").isNotNull())
          .select("vec_id",
                  F.transform(F.col("embedding").cast("array<double>"),
                              lambda x: F.floor(x * 1000000.0)
                              .cast("double")).alias("embedding")))
    assign = kmeans_lloyd(qd, k=8, rounds=2)
    out = cluster_centroids(qd, assign)
    return out.select("cluster", "n", "dim",
                      F.round("coord", 6).alias("coord_r6"))


def _logit_oracle(rounds: int) -> str:
    """Machine-generated unrolled IRLS oracle for the d=2 logistic
    probe (the holt_winters_h precedent): per round one weighted-
    moment aggregate CTE with the current betas cross-joined, one
    Cramer-3×3 delta CTE with the EXACT `_det3` cofactor structure
    (:func:`lindel_spark.features._solve_sym`), one beta-update CTE.
    All products left-associated and additions ascending-index, so
    every double op bit-matches the Spark/driver ladder."""
    def det(m):
        return (f"{m}00 * ({m}11 * {m}22 - {m}12 * {m}21) "
                f"- {m}01 * ({m}10 * {m}22 - {m}12 * {m}20) "
                f"+ {m}02 * ({m}10 * {m}21 - {m}11 * {m}20)")

    parts = ["""
    WITH base AS MATERIALIZED (
      SELECT (value > 34)::INT::DOUBLE AS y,
             EXTRACT(hour FROM ts)::DOUBLE AS x0,
             (user_id % 7)::DOUBLE AS x1
      FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL
        AND user_id IS NOT NULL
    ), b0_ AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)"""]
    prev = "b0_"
    for r in range(1, rounds + 1):
        parts.append(f"""
    , p{r} AS (
      SELECT y, x0, x1,
             1.0 / (1.0 + exp(-(b.b0 + x0 * b.b1 + x1 * b.b2)))
               AS p
      FROM base CROSS JOIN {prev} b
    ), mo{r} AS (
      SELECT COUNT(*)::BIGINT AS n,
             SUM(p * (1.0 - p)) AS sw,
             SUM(y - p) AS sr,
             SUM(p * (1.0 - p) * x0) AS swx0,
             SUM((y - p) * x0) AS srx0,
             SUM(p * (1.0 - p) * x0 * x0) AS swx0x0,
             SUM(p * (1.0 - p) * x0 * x1) AS swx0x1,
             SUM(p * (1.0 - p) * x1) AS swx1,
             SUM((y - p) * x1) AS srx1,
             SUM(p * (1.0 - p) * x1 * x1) AS swx1x1
      FROM p{r}
    ), a{r} AS (
      SELECT n,
             sw   AS a00, swx0 AS a01, swx1 AS a02,
             swx0 AS a10, swx0x0 AS a11, swx0x1 AS a12,
             swx1 AS a20, swx0x1 AS a21, swx1x1 AS a22,
             sr AS g0, srx0 AS g1, srx1 AS g2
      FROM mo{r}
    ), d{r} AS (
      SELECT n,
        ({det('c0_')}) / ({det('a')}) AS d0,
        ({det('c1_')}) / ({det('a')}) AS d1,
        ({det('c2_')}) / ({det('a')}) AS d2
      FROM (
        SELECT n,
               a00, a01, a02, a10, a11, a12, a20, a21, a22,
               g0 AS c0_00, a01 AS c0_01, a02 AS c0_02,
               g1 AS c0_10, a11 AS c0_11, a12 AS c0_12,
               g2 AS c0_20, a21 AS c0_21, a22 AS c0_22,
               a00 AS c1_00, g0 AS c1_01, a02 AS c1_02,
               a10 AS c1_10, g1 AS c1_11, a12 AS c1_12,
               a20 AS c1_20, g2 AS c1_21, a22 AS c1_22,
               a00 AS c2_00, a01 AS c2_01, g0 AS c2_02,
               a10 AS c2_10, a11 AS c2_11, g1 AS c2_12,
               a20 AS c2_20, a21 AS c2_21, g2 AS c2_22
        FROM a{r})
    ), br{r} AS (
      SELECT b.b0 + d.d0 AS b0, b.b1 + d.d1 AS b1,
             b.b2 + d.d2 AS b2, d.n,
             d.d0 * d.d0 + d.d1 * d.d1 + d.d2 * d.d2 AS sn
      FROM {prev} b CROSS JOIN d{r} d
    )""")
        prev = f"br{r}"
    parts.append(f"""
    SELECT n, round(sn, 6) AS step_norm_r6,
           round(b0, 6) AS intercept_r6,
           round(b1, 6) AS coef_hour_r6,
           round(b2, 6) AS coef_u7_r6
    FROM {prev}
    """)
    return "".join(parts)


@query("events_logistic_probe", _logit_oracle(3))
def q_events_logistic_probe(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Logistic probe by fixed-round IRLS (round 15,
    :func:`lindel_spark.features.logistic_fit`): P(value > 34) ~
    hour-of-day + (user_id mod 7) over all events, 3 Newton rounds —
    the binary-grader sibling of ``events_linear_probe``. Each round
    is one weighted-moment aggregate (betas broadcast) + the shared
    Cramer-3×3 driver solve; the oracle unrolls the identical
    ladder (z/p/w ascending-index structure, `_det3` cofactors —
    cross-engine exp has hash-matched since the A-S normal_sf
    entries); 6dp."""
    from lindel_spark.features import logistic_fit
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    feats = (ev.filter(F.col("value").isNotNull()
                       & F.col("ts").isNotNull()
                       & F.col("user_id").isNotNull())
             .select((F.col("value") > 34).cast("double").alias("y"),
                     F.hour("ts").cast("double").alias("hour"),
                     (F.col("user_id") % 7).cast("double")
                     .alias("u7")))
    out = logistic_fit(feats, "y", ["hour", "u7"], rounds=3)
    return out.select(
        "n", F.round("step_norm", 6).alias("step_norm_r6"),
        F.round("intercept", 6).alias("intercept_r6"),
        F.round("coef_hour", 6).alias("coef_hour_r6"),
        F.round("coef_u7", 6).alias("coef_u7_r6"))


@query(
    "events_isotonic_calibration",
    """
    WITH pairs AS MATERIALIZED (
      SELECT value / 500.0 AS s,
             CASE WHEN (value * 10) % 7 < 3 THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
    ), bins AS MATERIALIZED (
      SELECT LEAST(63, floor(s * 64))::BIGINT AS bin,
             COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS pos
      FROM pairs GROUP BY 1
    ), pref AS MATERIALIZED (
      SELECT bin, n, pos,
             SUM(n) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               ::BIGINT AS cn,
             SUM(pos) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               ::BIGINT AS cp
      FROM bins
    ), iv AS MATERIALIZED (
      SELECT j.bin AS jb, k.bin AS kb,
             (k.cp - (j.cp - j.pos))::DOUBLE
               / (k.cn - (j.cn - j.n))::DOUBLE AS avg
      FROM pref j JOIN pref k ON j.bin <= k.bin
    ), f AS MATERIALIZED (
      SELECT ib, MAX(t) AS calibrated FROM (
        SELECT i.bin AS ib, iv.jb, MIN(iv.avg) AS t
        FROM iv JOIN bins i ON iv.jb <= i.bin AND iv.kb >= i.bin
        GROUP BY 1, 2
      ) GROUP BY 1
    )
    SELECT bins.bin, bins.n, bins.pos,
           round(bins.pos::DOUBLE / bins.n::DOUBLE, 6) AS rate_r6,
           round(f.calibrated, 6) AS calibrated_r6
    FROM bins JOIN f ON f.ib = bins.bin
    """,
)
def q_events_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) probability calibration (round 15,
    :func:`lindel_spark.evaluation.isotonic_calibrate`): calibrate
    the pseudo-label ``(value·10 mod 7) < 3`` against the
    probability-like score ``value/500`` over 64 bins — a noisy
    flat-ish curve, so the minimax fit genuinely POOLS violating
    bins. Every interval average is a ratio of exact integer prefix
    sums; the max-min lattice replays bit-for-bit; 6dp."""
    from lindel_spark.evaluation import isotonic_calibrate
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    pairs = (ev.filter(F.col("value").isNotNull())
             .select((F.col("value") / 500.0).alias("s"),
                     ((F.col("value") * 10) % 7 < 3).cast("long")
                     .alias("y")))
    out = isotonic_calibrate(pairs, "s", "y", n_bins=64)
    return out.select("bin", "n", "pos",
                      F.round("rate", 6).alias("rate_r6"),
                      F.round("calibrated", 6).alias("calibrated_r6"))


@query(
    "events_ar2_forecast",
    """
    WITH seq AS MATERIALIZED (
      SELECT event_type AS g, value::DOUBLE AS x,
             LEAD(value::DOUBLE, 1) OVER w AS y1,
             LEAD(value::DOUBLE, 2) OVER w AS y2,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts DESC, event_id DESC)
               AS rd
      FROM events
      WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), g AS MATERIALIZED (
      SELECT g, COUNT(*)::BIGINT AS n,
             SUM(x) AS sx, SUM(x * x) AS sxx,
             SUM(x * y1) AS sxy1, SUM(x + y1) AS sp1,
             COUNT(y1)::BIGINT AS n1,
             SUM(x * y2) AS sxy2, SUM(x + y2) AS sp2,
             COUNT(y2)::BIGINT AS n2,
             MAX(CASE WHEN rd = 1 THEN x END) AS xl,
             MAX(CASE WHEN rd = 2 THEN x END) AS xp
      FROM seq GROUP BY g
    ), p AS MATERIALIZED (
      SELECT g, n, sx / n::DOUBLE AS mu,
             (sxx - 2.0 * (sx / n::DOUBLE) * sx
              + n::DOUBLE * (sx / n::DOUBLE) * (sx / n::DOUBLE))
               / n::DOUBLE AS c0,
             (sxy1 - (sx / n::DOUBLE) * sp1
              + n1::DOUBLE * (sx / n::DOUBLE) * (sx / n::DOUBLE))
               / n::DOUBLE AS c1,
             (sxy2 - (sx / n::DOUBLE) * sp2
              + n2::DOUBLE * (sx / n::DOUBLE) * (sx / n::DOUBLE))
               / n::DOUBLE AS c2,
             xl, xp
      FROM g
    ), ph AS MATERIALIZED (
      SELECT g, n, mu, xl, xp,
             CASE WHEN n >= 3 AND c0 * c0 - c1 * c1 != 0.0
               THEN (c1 * c0 - c1 * c2) / (c0 * c0 - c1 * c1) END
               AS phi1,
             CASE WHEN n >= 3 AND c0 * c0 - c1 * c1 != 0.0
               THEN (c0 * c2 - c1 * c1) / (c0 * c0 - c1 * c1) END
               AS phi2
      FROM p
    ), f1 AS (
      SELECT *, mu + phi1 * (xl - mu) + phi2 * (xp - mu) AS f
      FROM ph
    ), f2 AS (
      SELECT ph.*, f1.f AS fp,
             ph.mu + ph.phi1 * (f1.f - ph.mu)
               + ph.phi2 * (ph.xl - ph.mu) AS f
      FROM ph JOIN f1 ON f1.g = ph.g
    ), f3 AS (
      SELECT ph.*,
             ph.mu + ph.phi1 * (f2.f - ph.mu)
               + ph.phi2 * (f2.fp - ph.mu) AS f
      FROM ph JOIN f2 ON f2.g = ph.g
    )
    SELECT g AS event_type, n, round(mu, 6) AS mu_r6,
           round(phi1, 6) AS phi1_r6, round(phi2, 6) AS phi2_r6,
           step, round(f, 6) AS forecast_r6
    FROM (
      SELECT *, 1::BIGINT AS step FROM f1
      UNION ALL SELECT g, n, mu, xl, xp, phi1, phi2, f,
                       2::BIGINT FROM f2
      UNION ALL SELECT g, n, mu, xl, xp, phi1, phi2, f,
                       3::BIGINT FROM f3
    )
    """,
)
def q_events_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) Yule-Walker forecast per event type (round 15,
    :func:`lindel_spark.timeseries.ar2_forecast`): fit the mean-
    reverting second-order dynamics of each type's (ts, event_id)-
    ordered value series (the ``events_acf`` sequence) and
    extrapolate 3 steps. Closed form end to end — biased sample
    autocovariances from one window pass, in-plan 2×2 Cramer, the
    h-step recursion unrolled into expressions — so the oracle
    replays every double op; 6dp."""
    from lindel_spark.sources import load_events
    from lindel_spark.timeseries import ar2_forecast

    ev = load_events(spark, sf_dir)
    out = ar2_forecast(ev, ["event_type"], "ts", "value",
                       "event_id", horizon=3)
    return out.select("event_type", "n",
                      F.round("mu", 6).alias("mu_r6"),
                      F.round("phi1", 6).alias("phi1_r6"),
                      F.round("phi2", 6).alias("phi2_r6"),
                      "step",
                      F.round("forecast", 6).alias("forecast_r6"))


def _ktruss_oracle(k: int, rounds: int) -> str:
    """Machine-generated unrolled k-truss peel oracle: per round one
    id-ordered triangle enumeration (same exact integer supports as
    the Spark side's degree-ordered iterator — support is a COUNT,
    formulation-independent) + the 3-edge fan-out count + the
    support filter; the final support recomputes on the surviving
    subgraph, mirroring :func:`lindel_spark.graph.ktruss`."""
    def sup(src_cte: str, out: str) -> str:
        return f"""
    , tri_{out} AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM {src_cte} e1
      JOIN {src_cte} e2 ON e2.a = e1.b
      JOIN {src_cte} e3 ON e3.a = e1.a AND e3.b = e2.b
    ), cnt_{out} AS (
      SELECT a, b, COUNT(*)::BIGINT AS support FROM (
        SELECT x AS a, y AS b FROM tri_{out}
        UNION ALL SELECT y, z FROM tri_{out}
        UNION ALL SELECT x, z FROM tri_{out}
      ) GROUP BY 1, 2
    ), {out} AS (
      SELECT e.a, e.b, COALESCE(c.support, 0)::BIGINT AS support
      FROM {src_cte} e
      LEFT JOIN cnt_{out} c ON c.a = e.a AND c.b = e.b
    )"""

    parts = ["""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey::BIGINT AS a,
                      b.l_partkey::BIGINT AS b
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    )"""]
    prev = "e0"
    for r in range(1, rounds + 1):
        parts.append(sup(prev, f"s{r}"))
        parts.append(f"""
    , e{r} AS MATERIALIZED (
      SELECT a, b FROM s{r} WHERE support >= {k - 2}
    )""")
        prev = f"e{r}"
    parts.append(sup(prev, "sfin"))
    parts.append("""
    SELECT a, b, support FROM sfin
    """)
    return "".join(parts)


@query("graph_ktruss", _ktruss_oracle(14, 2))
def q_graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss peeling (round 15,
    :func:`lindel_spark.graph.ktruss`): the 14-truss of the
    co-purchase graph after 2 peel rounds — the densely-interlocked
    core the degree-based k-core can't isolate (a hub with many leaf
    ties passes k-core but has no triangle support). Supports are
    exact integer triangle counts, so the degree-ordered Spark
    iterator and the id-ordered SQL enumeration agree value-exactly
    by construction."""
    from lindel_spark.graph import ktruss

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok")
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    return ktruss(edges, k=14, rounds=2)


def _mmr_oracle(k: int, lam: float, pool_n: int) -> str:
    """Machine-generated unrolled MMR greedy oracle: brute-force
    top-``pool_n`` cosine pool per query (the _KNN_ORACLE shape),
    then ``k`` selection steps — per step one NOT-EXISTS-filtered
    argmax window and one GREATEST running-max-sim update. The λ and
    (1−λ) literals are injected via repr() so the SQL doubles equal
    Python's (1.0 − λ is NOT the decimal literal 0.3)."""
    ls, oml = repr(float(lam)), repr(1.0 - float(lam))
    sim = ("list_dot_product(p.v, s.v) "
           "/ (sqrt(list_dot_product(p.v, p.v)) "
           "* sqrt(list_dot_product(s.v, s.v)))")
    parts = [f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id::BIGINT AS id, embedding::DOUBLE[] AS v
      FROM embeddings
    ), qs AS MATERIALIZED (
      SELECT id, v FROM e WHERE id % 50 = 0
    ), scored AS MATERIALIZED (
      SELECT qs.id AS q, c.id AS id, c.v,
             list_dot_product(qs.v, c.v)
               / (sqrt(list_dot_product(qs.v, qs.v))
                  * sqrt(list_dot_product(c.v, c.v))) AS rel
      FROM qs JOIN e c ON qs.id != c.id
    ), pool AS MATERIALIZED (
      SELECT q, id, v, rel FROM (
        SELECT *, row_number() OVER (PARTITION BY q
          ORDER BY rel DESC, id) AS rn FROM scored)
      WHERE rn <= {pool_n}
    ), s1 AS MATERIALIZED (
      SELECT q, id, v, mmr FROM (
        SELECT q, id, v, {ls} * rel AS mmr,
               row_number() OVER (PARTITION BY q
                 ORDER BY {ls} * rel DESC, id) AS rn
        FROM pool) WHERE rn = 1
    ), m1 AS MATERIALIZED (
      SELECT p.q, p.id, {sim} AS ms
      FROM pool p JOIN s1 s ON s.q = p.q
    )"""]
    for t in range(2, k + 1):
        excl = " AND ".join(
            f"NOT EXISTS (SELECT 1 FROM s{i} WHERE s{i}.q = p.q "
            f"AND s{i}.id = p.id)" for i in range(1, t))
        parts.append(f"""
    , s{t} AS MATERIALIZED (
      SELECT q, id, v, mmr FROM (
        SELECT p.q, p.id, p.v,
               {ls} * p.rel - {oml} * m.ms AS mmr,
               row_number() OVER (PARTITION BY p.q
                 ORDER BY {ls} * p.rel - {oml} * m.ms DESC, p.id)
                 AS rn
        FROM pool p JOIN m{t - 1} m ON m.q = p.q AND m.id = p.id
        WHERE {excl}) WHERE rn = 1
    )""")
        if t < k:
            parts.append(f"""
    , m{t} AS MATERIALIZED (
      SELECT m.q, m.id, GREATEST(m.ms, {sim}) AS ms
      FROM m{t - 1} m
      JOIN pool p ON p.q = m.q AND p.id = m.id
      JOIN s{t} s ON s.q = m.q
    )""")
    sel = "\n    UNION ALL ".join(
        f"SELECT q AS query_id, id AS neighbor_id, "
        f"round(mmr, 6) AS mmr_r6, {t}::BIGINT AS rank FROM s{t}"
        for t in range(1, k + 1))
    parts.append("\n    " + sel + "\n    ")
    return "".join(parts)


@query("knn_mmr_topk", _mmr_oracle(5, 0.7, 20))
def q_knn_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-ranking (round 15,
    :func:`lindel_spark.similarity.mmr_rerank`): exact cosine
    top-20 pool for every 50th vector, greedily re-ranked to a
    diverse top-5 at λ = 0.7 — the retrieval-time dedup face. The
    per-query greedy runs in one applyInPandas over bounded pools;
    cosines fold sequentially (np.add.accumulate ↔
    list_dot_product), the running max-sim is an exact elementwise
    max, ties break to the smallest id — replay-exact; 6dp."""
    from lindel_spark.similarity import brute_force_knn, mmr_rerank

    emb = spark.read.parquet(os.path.join(sf_dir,
                                          "embeddings.parquet"))
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    pool = brute_force_knn(emb, queries_df, k=20)
    out = mmr_rerank(pool, emb, k=5, lam=0.7)
    return out.select("query_id", "neighbor_id",
                      F.round("mmr", 6).alias("mmr_r6"), "rank")


@query(
    "graph_copurchase_edges",
    """
    WITH m AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS g, l_partkey::BIGINT AS i
      FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), ok AS MATERIALIZED (
      SELECT g FROM m GROUP BY g HAVING COUNT(*) <= 6
    ), mm AS MATERIALIZED (
      SELECT m.* FROM m JOIN ok ON ok.g = m.g
    )
    SELECT a.i AS src, b.i AS dst, COUNT(*)::BIGINT AS weight
    FROM mm a JOIN mm b ON a.g = b.g AND a.i < b.i
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def q_graph_copurchase_edges(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Weighted bipartite projection (round 15,
    :func:`lindel_spark.graph.project_bipartite`): the co-purchase
    edge builder promoted to an operator — orders×parts projected to
    weighted part-part edges, oversized baskets (> 6 parts) dropped
    by the skew guard, weight-1 noise pruned in-plan. Exact integer
    weights."""
    from lindel_spark.graph import project_bipartite

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return project_bipartite(li, "l_orderkey", "l_partkey",
                             min_weight=2, max_group_size=6)


def _logit_oracle_by(rounds: int) -> str:
    """Grouped variant of :func:`_logit_oracle`: the identical IRLS
    ladder with every moment CTE gaining ``GROUP BY g`` and every
    beta/delta join keyed on ``g`` — replays
    ``logistic_fit(keys=...)``'s independent per-group solves."""
    def det(m):
        return (f"{m}00 * ({m}11 * {m}22 - {m}12 * {m}21) "
                f"- {m}01 * ({m}10 * {m}22 - {m}12 * {m}20) "
                f"+ {m}02 * ({m}10 * {m}21 - {m}11 * {m}20)")

    parts = ["""
    WITH base AS MATERIALIZED (
      SELECT event_type AS g, (value > 34)::INT::DOUBLE AS y,
             EXTRACT(hour FROM ts)::DOUBLE AS x0,
             (user_id % 7)::DOUBLE AS x1
      FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL
        AND user_id IS NOT NULL AND event_type IS NOT NULL
    ), b0_ AS (
      SELECT DISTINCT g, 0.0 AS b0, 0.0 AS b1, 0.0 AS b2 FROM base
    )"""]
    prev = "b0_"
    for r in range(1, rounds + 1):
        parts.append(f"""
    , p{r} AS (
      SELECT base.g, y, x0, x1,
             1.0 / (1.0 + exp(-(b.b0 + x0 * b.b1 + x1 * b.b2)))
               AS p
      FROM base JOIN {prev} b ON b.g = base.g
    ), mo{r} AS (
      SELECT g, COUNT(*)::BIGINT AS n,
             SUM(p * (1.0 - p)) AS sw,
             SUM(y - p) AS sr,
             SUM(p * (1.0 - p) * x0) AS swx0,
             SUM((y - p) * x0) AS srx0,
             SUM(p * (1.0 - p) * x0 * x0) AS swx0x0,
             SUM(p * (1.0 - p) * x0 * x1) AS swx0x1,
             SUM(p * (1.0 - p) * x1) AS swx1,
             SUM((y - p) * x1) AS srx1,
             SUM(p * (1.0 - p) * x1 * x1) AS swx1x1
      FROM p{r} GROUP BY g
    ), a{r} AS (
      SELECT g, n,
             sw   AS a00, swx0 AS a01, swx1 AS a02,
             swx0 AS a10, swx0x0 AS a11, swx0x1 AS a12,
             swx1 AS a20, swx0x1 AS a21, swx1x1 AS a22,
             sr AS g0, srx0 AS g1, srx1 AS g2
      FROM mo{r}
    ), d{r} AS (
      SELECT g, n,
        ({det('c0_')}) / ({det('a')}) AS d0,
        ({det('c1_')}) / ({det('a')}) AS d1,
        ({det('c2_')}) / ({det('a')}) AS d2
      FROM (
        SELECT g, n,
               a00, a01, a02, a10, a11, a12, a20, a21, a22,
               g0 AS c0_00, a01 AS c0_01, a02 AS c0_02,
               g1 AS c0_10, a11 AS c0_11, a12 AS c0_12,
               g2 AS c0_20, a21 AS c0_21, a22 AS c0_22,
               a00 AS c1_00, g0 AS c1_01, a02 AS c1_02,
               a10 AS c1_10, g1 AS c1_11, a12 AS c1_12,
               a20 AS c1_20, g2 AS c1_21, a22 AS c1_22,
               a00 AS c2_00, a01 AS c2_01, g0 AS c2_02,
               a10 AS c2_10, a11 AS c2_11, g1 AS c2_12,
               a20 AS c2_20, a21 AS c2_21, g2 AS c2_22
        FROM a{r})
    ), br{r} AS (
      SELECT b.g, b.b0 + d.d0 AS b0, b.b1 + d.d1 AS b1,
             b.b2 + d.d2 AS b2, d.n,
             d.d0 * d.d0 + d.d1 * d.d1 + d.d2 * d.d2 AS sn
      FROM {prev} b JOIN d{r} d ON d.g = b.g
    )""")
        prev = f"br{r}"
    parts.append(f"""
    SELECT g AS event_type, n,
           round(sn, 6) AS step_norm_r6,
           round(b0, 6) AS intercept_r6,
           round(b1, 6) AS coef_hour_r6,
           round(b2, 6) AS coef_u7_r6
    FROM {prev}
    """)
    return "".join(parts)


@query("events_logistic_probe_by_type", _logit_oracle_by(3))
def q_events_logistic_by_type(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Per-group logistic probes (round 15,
    :func:`lindel_spark.features.logistic_fit` with ``keys=``): one
    independent 3-round IRLS fit per event type — the
    ``events_linear_probe_by_type`` sibling for binary labels. The
    grouped oracle threads g through every moment/Cramer/update CTE;
    6dp."""
    from lindel_spark.features import logistic_fit
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    feats = (ev.filter(F.col("value").isNotNull()
                       & F.col("ts").isNotNull()
                       & F.col("user_id").isNotNull()
                       & F.col("event_type").isNotNull())
             .select(F.col("event_type"),
                     (F.col("value") > 34).cast("double").alias("y"),
                     F.hour("ts").cast("double").alias("hour"),
                     (F.col("user_id") % 7).cast("double")
                     .alias("u7")))
    out = logistic_fit(feats, "y", ["hour", "u7"], rounds=3,
                       keys="event_type")
    return out.select(
        "event_type", "n",
        F.round("step_norm", 6).alias("step_norm_r6"),
        F.round("intercept", 6).alias("intercept_r6"),
        F.round("coef_hour", 6).alias("coef_hour_r6"),
        F.round("coef_u7", 6).alias("coef_u7_r6"))


@query(
    "events_jonckheere",
    """
    WITH m AS MATERIALIZED (
      SELECT user_id AS u, event_type AS g, COUNT(*)::DOUBLE AS v
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), cnt AS MATERIALIZED (
      SELECT v, g, COUNT(*)::BIGINT AS c FROM m GROUP BY 1, 2
    ), grid AS MATERIALIZED (
      SELECT vv.v, gg.g, COALESCE(cnt.c, 0)::BIGINT AS c
      FROM (SELECT DISTINCT v FROM cnt) vv
      CROSS JOIN (SELECT DISTINCT g FROM cnt) gg
      LEFT JOIN cnt ON cnt.v = vv.v AND cnt.g = gg.g
    ), cum AS MATERIALIZED (
      SELECT v, g, c,
             SUM(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               ::BIGINT AS cc
      FROM grid
    ), jt2 AS MATERIALIZED (
      SELECT SUM(cj.c::HUGEINT
                 * (2 * (ci.cc - ci.c) + ci.c)::HUGEINT)::HUGEINT
               AS jt2
      FROM cum ci JOIN cum cj ON ci.v = cj.v AND ci.g < cj.g
    ), ns AS MATERIALIZED (
      SELECT g, SUM(c)::BIGINT AS ng FROM cum GROUP BY g
    ), mo AS MATERIALIZED (
      SELECT COUNT(*)::BIGINT AS k,
             SUM(ng)::BIGINT AS n,
             SUM(ng::DOUBLE * ng::DOUBLE) AS sq,
             SUM(ng::DOUBLE * ng::DOUBLE
                 * (2.0 * ng::DOUBLE + 3.0)) AS cb
      FROM ns
    )
    SELECT mo.k, mo.n,
           round(jt2.jt2::DOUBLE / 2.0, 6) AS jt_r6,
           round(CASE WHEN (mo.n::DOUBLE * mo.n::DOUBLE
                            * (2.0 * mo.n::DOUBLE + 3.0) - mo.cb)
                           / 72.0 > 0
                 THEN (jt2.jt2::DOUBLE / 2.0
                       - (mo.n::DOUBLE * mo.n::DOUBLE - mo.sq)
                         / 4.0)
                      / sqrt((mo.n::DOUBLE * mo.n::DOUBLE
                              * (2.0 * mo.n::DOUBLE + 3.0) - mo.cb)
                             / 72.0)
                 END, 6) AS z_r6
    FROM jt2 CROSS JOIN mo
    """,
)
def q_events_jonckheere(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative test (round 15,
    :func:`lindel_spark.profile.jonckheere_terpstra`): "do per-user
    event counts shift UP along the alphabetical event-type
    order?" — the unpaired face of ``events_page_trend`` on the
    same measurement. Every JT term is an exact integer
    (DECIMAL↔HUGEINT doubled convention); the z moments replay the
    identical double expressions; 6dp.

    Note: the Spark Σn_i² / Σn_i²(2n_i+3) folds run in GROUP-LABEL
    order (the expression chain is built over sorted labels) and the
    oracle's SUM over ns is unordered — safe here because every term
    is an exact small-integer product in double (no rounding), the
    usual integer-sum exemption."""
    from lindel_spark.profile import jonckheere_terpstra
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    m = (ev.filter(F.col("user_id").isNotNull()
                   & F.col("event_type").isNotNull())
         .groupBy(F.col("user_id").alias("u"),
                  F.col("event_type").alias("g"))
         .agg(F.count(F.lit(1)).cast("double").alias("v")))
    out = jonckheere_terpstra(m, "v", "g")
    return out.select("k", "n", F.round("jt", 6).alias("jt_r6"),
                      F.round("z", 6).alias("z_r6"))


@query(
    "events_mood_median",
    """
    WITH m AS MATERIALIZED (
      SELECT user_id AS u, event_type AS g, COUNT(*)::DOUBLE AS v
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), counts AS MATERIALIZED (
      SELECT v, COUNT(*)::DOUBLE AS w FROM m GROUP BY v
    ), cum AS MATERIALIZED (
      SELECT v, SUM(w) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cw
      FROM counts
    ), med AS MATERIALIZED (
      SELECT MIN(v) AS gm FROM cum, (SELECT MAX(cw) AS W FROM cum) t
      WHERE cw >= 0.5 * W
    ), flags AS MATERIALIZED (
      SELECT g, CASE WHEN v > (SELECT gm FROM med)
                     THEN 'true' ELSE 'false' END AS above
      FROM m
    ), joint AS MATERIALIZED (
      SELECT g, above, COUNT(*)::BIGINT AS o FROM flags GROUP BY 1, 2
    ), ma AS MATERIALIZED (
      SELECT g, SUM(o)::BIGINT AS cg FROM joint GROUP BY g
    ), mb AS MATERIALIZED (
      SELECT above, SUM(o)::BIGINT AS cb FROM joint GROUP BY above
    ), nn AS (SELECT SUM(o)::BIGINT AS n FROM joint),
    cells AS MATERIALIZED (
      SELECT ma.g, mb.above,
             COALESCE(joint.o, 0)::DOUBLE AS o,
             ma.cg::DOUBLE * mb.cb::DOUBLE
               / (SELECT n FROM nn)::DOUBLE AS e
      FROM ma CROSS JOIN mb
      LEFT JOIN joint ON joint.g = ma.g AND joint.above = mb.above
    ), chi AS (
      SELECT SUM((o - e) * (o - e) / e ORDER BY g, above) AS chi2
      FROM cells WHERE e > 0
    )
    SELECT (SELECT n FROM nn) AS n,
           ((SELECT COUNT(*) FROM ma) - 1)
             * ((SELECT COUNT(*) FROM mb) - 1) AS dof,
           round(chi.chi2, 6) AS chi2_r6,
           (SELECT gm FROM med) AS grand_median
    FROM chi
    """,
)
def q_events_mood_median(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Mood's median test (round 15,
    :func:`lindel_spark.profile.mood_median_test`): do the event
    types differ in MEDIAN per-user count? Composes the shipped
    weighted-quantiles median (per-distinct-value prefix sum) and
    the χ² machinery over the (type, above) contingency — integer
    counts, ratio algebra, engine-exact; 6dp."""
    from lindel_spark.profile import mood_median_test
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    m = (ev.filter(F.col("user_id").isNotNull()
                   & F.col("event_type").isNotNull())
         .groupBy(F.col("user_id").alias("u"),
                  F.col("event_type").alias("g"))
         .agg(F.count(F.lit(1)).cast("double").alias("v")))
    out = mood_median_test(m, "v", "g")
    return out.select("n", "dof",
                      F.round("chi2", 6).alias("chi2_r6"),
                      "grand_median")


@query(
    "events_runs_test",
    """
    WITH seq AS MATERIALIZED (
      SELECT event_type AS g,
             CASE WHEN value > 34 THEN 1 ELSE 0 END AS x,
             LAG(CASE WHEN value > 34 THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type
                     ORDER BY ts, event_id) AS p
      FROM events WHERE value IS NOT NULL
    ), g AS MATERIALIZED (
      SELECT g, SUM(x)::BIGINT AS n1,
             SUM(1 - x)::BIGINT AS n0,
             (1 + SUM(CASE WHEN p IS NOT NULL AND x != p
                           THEN 1 ELSE 0 END))::BIGINT AS runs
      FROM seq GROUP BY g
    )
    SELECT g AS event_type, n1, n0, runs,
           round(CASE WHEN n1 > 0 AND n0 > 0 AND
                  (2.0*n1*n0 * (2.0*n1*n0 - (n1+n0))
                   / ((n1+n0)::DOUBLE * (n1+n0)::DOUBLE
                      * ((n1+n0) - 1)::DOUBLE)) > 0
                 THEN (runs::DOUBLE
                       - (2.0*n1*n0 / (n1+n0)::DOUBLE + 1.0))
                      / sqrt(2.0*n1*n0 * (2.0*n1*n0 - (n1+n0))
                             / ((n1+n0)::DOUBLE * (n1+n0)::DOUBLE
                                * ((n1+n0) - 1)::DOUBLE))
                 END, 6) AS z_r6
    FROM g
    """,
)
def q_events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type (round 15,
    :func:`lindel_spark.timeseries.runs_test`): is the heavy-value
    flag (value > 34) RANDOM along each type's (ts, event_id)-ordered
    stream, or does it clump? Exact integer run counts, closed-form
    conditional moments; 6dp."""
    from lindel_spark.sources import load_events
    from lindel_spark.timeseries import runs_test

    ev = load_events(spark, sf_dir)
    flg = (ev.filter(F.col("value").isNotNull())
           .select(F.col("event_type"), F.col("ts"),
                   F.col("event_id"),
                   (F.col("value") > 34).cast("long").alias("hot")))
    out = runs_test(flg, ["event_type"], "ts", "hot", "event_id")
    return out.select("event_type", "n1", "n0", "runs",
                      F.round("z", 6).alias("z_r6"))


@query(
    "events_durbin_watson",
    """
    WITH base AS MATERIALIZED (
      SELECT value::DOUBLE AS y,
             EXTRACT(hour FROM ts)::DOUBLE AS x0,
             (user_id % 7)::DOUBLE AS x1,
             ts, event_id
      FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL
        AND user_id IS NOT NULL
    ), mm AS MATERIALIZED (
      SELECT COUNT(*)::BIGINT AS n, SUM(y) AS sy, SUM(y*y) AS syy,
             SUM(x0) AS sx0, SUM(x0*y) AS sx0y, SUM(x0*x0) AS sx0x0,
             SUM(x0*x1) AS sx0x1, SUM(x1) AS sx1, SUM(x1*y) AS sx1y,
             SUM(x1*x1) AS sx1x1
      FROM base
    ), dets AS MATERIALIZED (
      SELECT *,
        n::DOUBLE*(sx0x0*sx1x1 - sx0x1*sx0x1)
          - sx0*(sx0*sx1x1 - sx0x1*sx1)
          + sx1*(sx0*sx0x1 - sx0x0*sx1) AS det,
        sy*(sx0x0*sx1x1 - sx0x1*sx0x1)
          - sx0*(sx0y*sx1x1 - sx0x1*sx1y)
          + sx1*(sx0y*sx0x1 - sx0x0*sx1y) AS det0,
        n::DOUBLE*(sx0y*sx1x1 - sx0x1*sx1y)
          - sy*(sx0*sx1x1 - sx0x1*sx1)
          + sx1*(sx0*sx1y - sx0y*sx1) AS det1,
        n::DOUBLE*(sx0x0*sx1y - sx0y*sx0x1)
          - sx0*(sx0*sx1y - sx0y*sx1)
          + sy*(sx0*sx0x1 - sx0x0*sx1) AS det2
      FROM mm
    ), co AS MATERIALIZED (
      SELECT det0/det AS b0, det1/det AS b1, det2/det AS b2
      FROM dets
    ), res AS MATERIALIZED (
      SELECT y - (b0 + x0 * b1 + x1 * b2) AS e,
             LAG(y - (b0 + x0 * b1 + x1 * b2))
               OVER (ORDER BY ts, event_id) AS ep
      FROM base CROSS JOIN co
    ), agg AS (
      SELECT COUNT(*)::BIGINT AS n,
             SUM(e * e) AS see,
             SUM(CASE WHEN ep IS NOT NULL
                      THEN (e - ep) * (e - ep) END) AS sd
      FROM res
    )
    SELECT n, round(CASE WHEN see > 0 THEN sd / see END, 6) AS dw_r6
    FROM agg
    """,
)
def q_events_durbin_watson(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Durbin-Watson residual autocorrelation (round 15,
    :func:`lindel_spark.timeseries.durbin_watson`): are the
    ``events_linear_probe`` residuals serially independent along
    (ts, event_id)? Reuses the probe's exact Cramer-3×3 structure
    for the betas, then one window lag pass; 6dp."""
    from lindel_spark.sources import load_events
    from lindel_spark.timeseries import durbin_watson

    ev = load_events(spark, sf_dir)
    feats = ev.filter(F.col("value").isNotNull()
                      & F.col("ts").isNotNull()
                      & F.col("user_id").isNotNull()).select(
        F.col("ts"), F.col("event_id"),
        F.col("value").alias("y"),
        F.hour("ts").cast("double").alias("hour"),
        (F.col("user_id") % 7).cast("double").alias("u7"))
    out = durbin_watson(feats, "y", ["hour", "u7"], "ts",
                        "event_id")
    return out.select("n", F.round("dw", 6).alias("dw_r6"))


@query(
    "parts_by_fdr",
    """
    WITH tests AS (
      SELECT p_partkey,
             ((p_partkey * 37) % 1000) / 999.0
               * (((p_partkey * 37) % 1000) / 999.0) AS p
      FROM part
    ), kept AS (SELECT * FROM tests WHERE p > 0),
    c AS (
      SELECT p, COUNT(*)::BIGINT AS cnt FROM kept GROUP BY p
    ), cum AS (
      SELECT p, SUM(cnt) OVER (ORDER BY p
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rk
      FROM c
    ), n AS (
      SELECT COUNT(*)::BIGINT AS n FROM kept
    ), h AS (
      -- DuckDB's range() can't take a subquery bound: over-generate
      -- to a fixed 2e6 cap (10x the sf1 part count) and filter
      SELECT SUM(1.0 / i ORDER BY i) AS h
      FROM range(1, 2000001) t(i)
      WHERE i <= (SELECT n FROM n)
    ), cand AS (
      SELECT p, p * n.n::DOUBLE * h.h / rk::DOUBLE AS cand
      FROM cum, n, h
    ), q AS (
      SELECT p, LEAST(1.0, MIN(cand) OVER (ORDER BY p DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS qv
      FROM cand
    )
    SELECT COUNT(*)::BIGINT AS n_tests,
           SUM(CASE WHEN qv <= 0.05 THEN 1 ELSE 0 END)::BIGINT
             AS n_q_le_05,
           SUM(CASE WHEN qv <= 0.10 THEN 1 ELSE 0 END)::BIGINT
             AS n_q_le_10,
           round(MIN(qv), 6) AS min_q_r6
    FROM kept JOIN q USING (p)
    """,
)
def q_parts_by_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Yekutieli FDR adjustment (round 15,
    :func:`lindel_spark.profile.by_adjust`): the ``parts_bh_fdr``
    pseudo-p battery under the dependence-robust harmonic penalty
    c(n) = Σ 1/i (folded ascending on both engines). BY ≥ BH
    everywhere, so the rejection counts shrink; 6dp."""
    from lindel_spark.profile import by_adjust

    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    u = ((F.col("p_partkey") * 37) % 1000).cast("double") / 999.0
    tests = part.select("p_partkey", (u * u).alias("p")) \
        .filter(F.col("p") > 0)
    adj = by_adjust(tests, "p")
    return adj.agg(
        F.count(F.lit(1)).cast("long").alias("n_tests"),
        F.sum(F.when(F.col("q_value") <= 0.05, 1).otherwise(0))
        .cast("long").alias("n_q_le_05"),
        F.sum(F.when(F.col("q_value") <= 0.10, 1).otherwise(0))
        .cast("long").alias("n_q_le_10"),
        F.round(F.min("q_value"), 6).alias("min_q_r6"))


@query(
    "parts_fisher_combined",
    """
    WITH tests AS (
      SELECT ((p_partkey * 37) % 1000) / 999.0
               * (((p_partkey * 37) % 1000) / 999.0) AS p
      FROM part
    ), kept AS (SELECT p FROM tests WHERE p > 0)
    SELECT COUNT(*)::BIGINT AS m,
           round(-2.0 * SUM(ln(p) ORDER BY p), 6) AS chi2_r6,
           (2 * COUNT(*))::BIGINT AS dof
    FROM kept
    """,
)
def q_parts_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's combined p-value (round 15,
    :func:`lindel_spark.profile.fisher_combine`) over the pseudo-p
    battery: −2 Σ ln p vs χ²(2m), the is-there-an-effect-ANYWHERE
    meta-test next to the BH/BY which-tests ladder. The Σ ln p
    folds in ascending-p order on both engines; 6dp."""
    from lindel_spark.profile import fisher_combine

    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    u = ((F.col("p_partkey") * 37) % 1000).cast("double") / 999.0
    tests = part.select((u * u).alias("p")).filter(F.col("p") > 0)
    out = fisher_combine(tests, "p")
    return out.select("m", F.round("chi2", 6).alias("chi2_r6"),
                      "dof")


@query(
    "events_partial_corr",
    """
    WITH base AS MATERIALIZED (
      SELECT value::DOUBLE AS x,
             EXTRACT(hour FROM ts)::DOUBLE AS y,
             (user_id % 7)::DOUBLE AS z
      FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL
        AND user_id IS NOT NULL
    ), agg AS MATERIALIZED (
      SELECT COUNT(*)::BIGINT AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
             SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(z*z) AS szz,
             SUM(x*y) AS sxy, SUM(x*z) AS sxz, SUM(y*z) AS syz
      FROM base
    ), r AS MATERIALIZED (
      SELECT n,
        CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
          THEN (n*sxy - sx*sy)
               / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)) END AS rxy,
        CASE WHEN (n*sxx - sx*sx) > 0 AND (n*szz - sz*sz) > 0
          THEN (n*sxz - sx*sz)
               / sqrt((n*sxx - sx*sx) * (n*szz - sz*sz)) END AS rxz,
        CASE WHEN (n*syy - sy*sy) > 0 AND (n*szz - sz*sz) > 0
          THEN (n*syz - sy*sz)
               / sqrt((n*syy - sy*sy) * (n*szz - sz*sz)) END AS ryz
      FROM agg
    )
    SELECT n, round(rxy, 6) AS r_xy_r6, round(rxz, 6) AS r_xz_r6,
           round(ryz, 6) AS r_yz_r6,
           round(CASE WHEN (1.0 - rxz*rxz) * (1.0 - ryz*ryz) > 0
                 THEN (rxy - rxz*ryz)
                      / sqrt((1.0 - rxz*rxz) * (1.0 - ryz*ryz))
                 END, 6) AS r_xy_z_r6
    FROM r
    """,
)
def q_events_partial_corr(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """First-order partial correlation (round 15,
    :func:`lindel_spark.profile.partial_corr`): value↔hour with the
    user_id%7 stratum linearly removed — one raw-sums aggregate,
    the acf expression tree for each Pearson r, the closed-form
    partial on top; 6dp."""
    from lindel_spark.profile import partial_corr
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    feats = ev.filter(F.col("value").isNotNull()
                      & F.col("ts").isNotNull()
                      & F.col("user_id").isNotNull()).select(
        F.col("value").alias("x"),
        F.hour("ts").cast("double").alias("y"),
        (F.col("user_id") % 7).cast("double").alias("z"))
    out = partial_corr(feats, "x", "y", "z")
    return out.select("n", F.round("r_xy", 6).alias("r_xy_r6"),
                      F.round("r_xz", 6).alias("r_xz_r6"),
                      F.round("r_yz", 6).alias("r_yz_r6"),
                      F.round("r_xy_z", 6).alias("r_xy_z_r6"))


@query(
    "events_cronbach_alpha",
    """
    WITH m AS MATERIALIZED (
      SELECT user_id AS b, event_type AS t, COUNT(*)::DOUBLE AS v
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), kk AS MATERIALIZED (
      SELECT COUNT(DISTINCT t)::BIGINT AS k FROM m
    ), cb AS MATERIALIZED (
      SELECT b FROM m GROUP BY b
      HAVING COUNT(*) = (SELECT k FROM kk)
    ), rows_ AS MATERIALIZED (
      SELECT m.* FROM m JOIN cb ON cb.b = m.b
    ), pi AS MATERIALIZED (
      SELECT t, COUNT(*)::BIGINT AS n, SUM(v) AS s,
             SUM(v * v) AS s2
      FROM rows_ GROUP BY t
    ), it AS MATERIALIZED (
      SELECT COUNT(*)::BIGINT AS k, MAX(n)::BIGINT AS n_blocks,
             SUM(CASE WHEN n > 1 THEN
                 (s2 - s * s / n::DOUBLE) / (n::DOUBLE - 1.0) END)
               AS svar
      FROM pi
    ), tt AS MATERIALIZED (
      SELECT COUNT(*)::BIGINT AS nb, SUM(tot) AS st,
             SUM(tot * tot) AS st2
      FROM (SELECT b, SUM(v) AS tot FROM rows_ GROUP BY b)
    )
    SELECT it.n_blocks, it.k,
           round(CASE WHEN it.k > 1 AND it.n_blocks > 1 AND
                      (tt.st2 - tt.st * tt.st / tt.nb::DOUBLE)
                        / (tt.nb::DOUBLE - 1.0) > 0
                 THEN it.k::DOUBLE / (it.k::DOUBLE - 1.0)
                      * (1.0 - it.svar
                         / ((tt.st2 - tt.st * tt.st / tt.nb::DOUBLE)
                            / (tt.nb::DOUBLE - 1.0)))
                 END, 6) AS alpha_r6
    FROM it CROSS JOIN tt
    """,
)
def q_events_cronbach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha (round 15,
    :func:`lindel_spark.profile.cronbach_alpha`): do the 5 event
    types measure one underlying per-user activity trait? Items =
    types, blocks = users, scores = exact integer counts — every
    moment exact, the variance ratios replay engine-exactly; 6dp."""
    from lindel_spark.profile import cronbach_alpha
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    m = (ev.filter(F.col("user_id").isNotNull()
                   & F.col("event_type").isNotNull())
         .groupBy(F.col("user_id").alias("b"),
                  F.col("event_type").alias("t"))
         .agg(F.count(F.lit(1)).cast("double").alias("v")))
    out = cronbach_alpha(m, "b", "t", "v")
    return out.select("n_blocks", "k",
                      F.round("alpha", 6).alias("alpha_r6"))


@query(
    "events_randomization",
    """
    WITH base AS MATERIALIZED (
      SELECT value::DOUBLE AS v,
             (user_id % 2)::INT AS y,
             event_id::VARCHAR AS id
      FROM events
      WHERE value IS NOT NULL AND user_id IS NOT NULL
        AND event_id IS NOT NULL
    ), obs AS MATERIALIZED (
      SELECT SUM(CASE WHEN y = 1 THEN v END) AS s1,
             SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
             SUM(CASE WHEN y = 0 THEN v END) AS s0,
             SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END)::BIGINT AS n0
      FROM base
    ), drawn AS MATERIALIZED (
      SELECT v, b.b,
             ('0x' || substr(md5('42:' || b.b::VARCHAR || ':' || id),
                             1, 1))::BIGINT % 2 AS g
      FROM base CROSS JOIN (SELECT unnest(range(0, 64)) AS b) b
    ), per AS MATERIALIZED (
      SELECT b,
             SUM(CASE WHEN g = 1 THEN v END) AS t1,
             SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS m1,
             SUM(CASE WHEN g = 0 THEN v END) AS t0,
             SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS m0
      FROM drawn GROUP BY b
    )
    SELECT obs.n1, obs.n0,
           round(obs.s1 / obs.n1::DOUBLE
                 - obs.s0 / obs.n0::DOUBLE, 6) AS obs_diff_r6,
           COUNT(*)::BIGINT AS n_draws,
           SUM(CASE WHEN per.m1 > 0 AND per.m0 > 0 AND
                    abs(per.t1 / per.m1::DOUBLE
                        - per.t0 / per.m0::DOUBLE)
                    >= abs(obs.s1 / obs.n1::DOUBLE
                           - obs.s0 / obs.n0::DOUBLE)
               THEN 1 ELSE 0 END)::BIGINT AS n_ge,
           round((1.0 + SUM(CASE WHEN per.m1 > 0 AND per.m0 > 0 AND
                    abs(per.t1 / per.m1::DOUBLE
                        - per.t0 / per.m0::DOUBLE)
                    >= abs(obs.s1 / obs.n1::DOUBLE
                           - obs.s0 / obs.n0::DOUBLE)
               THEN 1 ELSE 0 END)::DOUBLE)
                 / (COUNT(*)::DOUBLE + 1.0), 6) AS p_r6
    FROM per CROSS JOIN obs
    GROUP BY obs.n1, obs.n0, obs.s1, obs.s0
    """,
)
def q_events_randomization(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Seeded randomization test (round 15,
    :func:`lindel_spark.profile.randomization_test`): does mean
    event value differ between even and odd users (the
    ``events_mann_whitney`` split), tested on the MEAN DIFFERENCE
    itself under 64 deterministic md5-bit label reassignments —
    zero driver loops, one n·B map-side aggregate, add-one
    Monte-Carlo p; 6dp."""
    from lindel_spark.profile import randomization_test
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    base = (ev.filter(F.col("value").isNotNull()
                      & F.col("user_id").isNotNull()
                      & F.col("event_id").isNotNull())
            .select(F.col("event_id"),
                    F.col("value").alias("v"),
                    (F.col("user_id") % 2).cast("int").alias("y")))
    out = randomization_test(base, "v", "y", "event_id",
                             n_draws=64, seed=42)
    return out.select("n1", "n0",
                      F.round("obs_diff", 6).alias("obs_diff_r6"),
                      "n_draws", "n_ge",
                      F.round("p", 6).alias("p_r6"))


@query(
    "graph_clustering_coeff",
    """
    WITH pp AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey::BIGINT AS a, b.l_partkey::BIGINT AS b
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    ), w AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM pp e1 JOIN pp e2 ON e1.b = e2.a
    ), t AS (
      SELECT x, y, z FROM w JOIN pp ON pp.a = w.x AND pp.b = w.z
    ), tri AS (
      SELECT node, COUNT(*)::BIGINT AS triangles FROM (
        SELECT x AS node FROM t
        UNION ALL SELECT y FROM t
        UNION ALL SELECT z FROM t
      ) GROUP BY 1
    ), deg AS (
      SELECT node, COUNT(*)::BIGINT AS degree FROM (
        SELECT a AS node FROM pp UNION ALL SELECT b FROM pp
      ) GROUP BY 1
    )
    SELECT deg.node, deg.degree,
           COALESCE(tri.triangles, 0)::BIGINT AS triangles,
           round(CASE WHEN deg.degree >= 2
                 THEN 2.0 * COALESCE(tri.triangles, 0)::DOUBLE
                      / (deg.degree::DOUBLE
                         * (deg.degree::DOUBLE - 1.0))
                 ELSE 0.0 END, 6) AS coeff_r6
    FROM deg LEFT JOIN tri ON tri.node = deg.node
    """,
)
def q_graph_clustering_coeff(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Local clustering coefficient (round 15,
    :func:`lindel_spark.graph.clustering_coefficient`): how
    clique-like is each part's co-purchase neighborhood — the
    per-node hub-pollution audit (high degree + near-zero coeff =
    boilerplate-like hub). Exact integer triangles/degrees, one
    final division; 6dp."""
    from lindel_spark.graph import clustering_coefficient

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok")
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    out = clustering_coefficient(edges)
    return out.select("node", "degree", "triangles",
                      F.round("coeff", 6).alias("coeff_r6"))


@query(
    "events_brier_decomposition",
    """
    WITH pairs AS MATERIALIZED (
      SELECT value / 500.0 AS s,
             CASE WHEN (value * 10) % 7 < 3 THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
    ), bins AS MATERIALIZED (
      SELECT LEAST(19, floor(s * 20))::BIGINT AS bin,
             COUNT(*)::BIGINT AS nb, SUM(s) AS ss,
             SUM(y)::BIGINT AS sy
      FROM pairs GROUP BY 1
    ), tot AS MATERIALIZED (
      SELECT SUM(nb)::BIGINT AS n, SUM(sy)::BIGINT AS syt FROM bins
    ), folds AS MATERIALIZED (
      SELECT
        SUM(nb::DOUBLE
            * (ss / nb::DOUBLE - sy::DOUBLE / nb::DOUBLE)
            * (ss / nb::DOUBLE - sy::DOUBLE / nb::DOUBLE)
            ORDER BY bin) AS rel2,
        SUM(nb::DOUBLE
            * (sy::DOUBLE / nb::DOUBLE
               - (SELECT syt FROM tot)::DOUBLE
                 / (SELECT n FROM tot)::DOUBLE)
            * (sy::DOUBLE / nb::DOUBLE
               - (SELECT syt FROM tot)::DOUBLE
                 / (SELECT n FROM tot)::DOUBLE)
            ORDER BY bin) AS res2
      FROM bins
    )
    SELECT tot.n,
           round(folds.rel2 / tot.n::DOUBLE, 6) AS reliability_r6,
           round(folds.res2 / tot.n::DOUBLE, 6) AS resolution_r6,
           round((tot.syt::DOUBLE / tot.n::DOUBLE)
                 * (1.0 - tot.syt::DOUBLE / tot.n::DOUBLE), 6)
             AS uncertainty_r6,
           round(folds.rel2 / tot.n::DOUBLE
                 - folds.res2 / tot.n::DOUBLE
                 + (tot.syt::DOUBLE / tot.n::DOUBLE)
                   * (1.0 - tot.syt::DOUBLE / tot.n::DOUBLE), 6)
             AS brier_binned_r6
    FROM tot CROSS JOIN folds
    """,
)
def q_events_brier_decomp(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Murphy Brier decomposition (round 15,
    :func:`lindel_spark.evaluation.brier_decomposition`): the
    ``events_isotonic_calibration`` score/label pair split into
    reliability − resolution + uncertainty over 20 bins — the WHY
    behind a bad Brier (miscalibration vs no-signal). One
    groupBy(bin) + ascending-bin folds on both engines; 6dp."""
    from lindel_spark.evaluation import brier_decomposition
    from lindel_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    pairs = (ev.filter(F.col("value").isNotNull())
             .select((F.col("value") / 500.0).alias("s"),
                     ((F.col("value") * 10) % 7 < 3).cast("long")
                     .alias("y")))
    out = brier_decomposition(pairs, "s", "y", n_bins=20)
    return out.select(
        "n", F.round("reliability", 6).alias("reliability_r6"),
        F.round("resolution", 6).alias("resolution_r6"),
        F.round("uncertainty", 6).alias("uncertainty_r6"),
        F.round("brier_binned", 6).alias("brier_binned_r6"))
