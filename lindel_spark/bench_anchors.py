"""BASELINE.md anchor table, machine-readable.

One entry per bench query: the FIRST committed measurement of that
entry (sf0.1, local[32], median of 3 — the number later rounds are
graded against). Sources:

- round-2 headline table (BASELINE.md "measured" table): the curve
  encode/decode + write entries.
- round-5/7/8 "vs baseline" tables: the `baseline (s)` column — the
  canonical anchors for the pipeline entries.
- round-7 new-operator tables: bm25/lm/cms/semantic/merge/scd2/
  interval/bloom/tfidf/ohlc/pagerank/audio/corpus/zorder_store_cycle/
  bucketed_join_cycle.
- round-8 new entries: knn_join_dist, manifest_* scans,
  zorder_store_cycle re-anchor (kept at the r7 first number).
- round-9 new entries: knn_join_pq_dist, zorder_store_select.
- round-10 new entries (BENCH_r10.json driver artifact — their first
  measurement): zorder_store_lookup, substring_dedup, hybrid_rrf_topk,
  record_linkage, label_propagation.

The 2x bar: an entry whose median exceeds ``OVER_BAR_X * anchor`` is
over the bar (the BASELINE.json grading contract).  The adjudicator
triggers earlier, at ``RERUN_BAR_X`` (round-14, VERDICT r13 item 2:
five 1.5-1.95x entries drifted unexplained in r13 and each needed
manual prose) — any entry over the rerun bar is re-measured isolated
so the artifact self-documents drift before it reaches the contract
bar.  ``NOISE_BAND`` entries are pure scheduling-floor measurements
whose documented run-to-run band already spans ~2x (BASELINE.md
round-7: pagerank 4.2-7.9 s on identical code) — the adjudicator
still re-measures them but labels the verdict accordingly.
"""

from __future__ import annotations

OVER_BAR_X = 2.0    # the grading contract (BASELINE.json)
RERUN_BAR_X = 1.5   # isolated-rerun trigger (self-adjudication)

# entry -> first-measurement seconds (sf0.1, local[32])
ANCHORS: dict[str, float] = {
    # round-2 headline (BASELINE.md lines ~37-43)
    "hilbert_encode_i32x2": 0.72,
    "hilbert_encode_f64x2": 1.77,
    "morton_native_i32x2": 0.21,
    "morton_udf_i32x2": 0.36,
    "hilbert_decode_rt_i32x2": 0.98,
    "zorder_write_i32x2": 3.00,
    "plain_write": 1.30,
    # round-5 first measurements (the `baseline (s)` column of the
    # r7/r8 comparison tables)
    "text_stats": 0.80,
    # re-anchored round 16 (VERDICT r15 item 8): the round-2-era
    # 1.15 predates corpus growth; value = the driver's own r15
    # measurement of unchanged code (repo-host round-open r16 suite
    # read 1.07 — the spread is host factor, not code)
    "dedup_near_pairs": 1.663,
    "dedup_simhash_pairs": 1.02,
    "knn_brute_fast": 0.87,
    "asof_join_events": 0.58,
    "spatial_range_join": 2.23,
    "winnow_fingerprints": 1.11,
    "embedding_ops": 1.65,
    "embedding_ops_fast": 0.40,
    "knn_ivf": 1.71,
    "knn_ivf_probe": 1.43,
    # round-7 (new-operator tables)
    "knn_ivf_auto": 0.82,
    "knn_pq_refined": 1.55,
    "knn_ivfpq_refined": 1.43,
    "ivf_store_pruned_scan": 0.27,
    "ivf_store_full_scan": 0.26,
    "bm25_topk": 1.50,
    "lm_quality": 0.73,
    "cms_heavy_hitters": 1.34,
    "semantic_dedup": 1.05,
    "merge_upsert_events": 0.36,
    "bucketed_join_cycle": 1.13,
    "scd2_history": 0.39,
    "interval_overlap": 0.41,
    "bloom_semi_join": 0.75,
    "tfidf_topk": 0.75,
    "ohlc_daily": 0.36,
    "pagerank_transitions": 4.2,
    "audio_features": 0.35,
    "corpus_prep": 2.11,
    "zorder_store_cycle": 3.5,
    # round-8
    "knn_join_dist": 1.07,
    "manifest_pruned_scan": 0.11,
    "manifest_full_scan": 0.12,
    # round-9
    "knn_join_pq_dist": 1.12,
    "zorder_store_select": 0.27,
    # round-10 (BENCH_r10.json first measurements)
    "zorder_store_lookup": 0.4772,
    "substring_dedup": 1.914,
    "hybrid_rrf_topk": 2.1225,
    "record_linkage": 0.6455,
    # re-anchored round 16 from the driver's r15 run (repo-host
    # round-open r16: 3.06); the r10 first measurement was optimistic
    "label_propagation": 2.349,
    # round-11 first measurements (BENCH_r11.json clean-host run,
    # canary 0.773, zero over-bar — BASELINE.md r11/r12 addenda)
    "bpe_train_8": 1.6737,
    "bpe_encode": 0.7688,
    "kll_quantiles": 2.3467,
    "bm25_store_topk": 1.1878,
    # re-anchored round 16 from the driver's r15 run (repo-host
    # round-open r16: 3.12)
    "cc_star_simhash": 3.666,
    "trigram_backoff_lm": 1.3028,
    "bfs_hops_2": 1.3663,
    "frequent_triples": 1.7582,
    "random_projection": 0.5013,
    "drift_report": 0.8992,
    "equidepth_histogram": 2.1826,
    "textrank_keywords": 9.2261,
    "pca_power_8": 7.1612,
    "ngram_novelty": 2.6198,
    "hll_distinct": 0.8098,
    "acf_lags": 0.4013,
    # round-12: re-anchored on the degree-ordered edge-iterator
    # rewrite (r11 id-ordered anchor 16.19 s is obsolete code)
    "triangle_counts": 5.0,
    # round-12 new entries (first isolated measurements, BASELINE.md
    # r12 addendum)
    "kcore_copurchase": 8.06,
    "langid_trained": 10.01,
    "knn_opq_refined": 1.70,
    # round-12 session-2 entries (first isolated measurements after
    # the link_prediction persist fix, BASELINE.md r12 addendum)
    "link_prediction": 2.61,
    "tfidf_cosine_pairs": 0.95,
    "spearman_corr": 4.60,
    "kaplan_meier": 1.96,
    "lof_embeddings": 1.07,
    "dbscan_suppliers": 2.86,
    # round-13 first measurements (sf0.1, local[32], quiet host,
    # median of 3 — the BENCH r13 full-suite run)
    "sssp_copurchase": 2.49,
    "holt_winters_hourly": 2.95,
    "bootstrap_ci_events": 15.42,
    # re-anchored round 16 from the driver's r15 run (repo-host
    # round-open r16: 3.19); the r13 first measurement predates the
    # r15 canonical-pair rewrite
    "knn_graph_mutual": 3.749,
    "ppr_transitions": 5.86,
    # round-14 first measurements (sf0.1, local[32], drained host —
    # the full-suite run taken immediately after the sf1 sweep
    # finished, BEFORE any pytest job; BASELINE.md r14 addendum)
    "betweenness_copurchase": 1.403,
    "hw_horizon_hourly": 3.172,
    "graph_knn_search": 2.155,
    "linear_probe_events": 0.484,
    "friedman_events": 0.726,
    # round-15 first measurements (sf0.1, local[32], drained host —
    # the BENCH_LOCAL_LAST.json full-suite run taken after the sf1
    # sweep, BEFORE pytest; BASELINE.md round-15 addendum table)
    "kmeans_embeddings": 0.5023,
    "logistic_probe_events": 1.3575,
    "isotonic_events": 0.4281,
    "ar2_events": 0.5337,
    "ktruss_copurchase": 7.976,
    "mmr_rerank": 0.8971,
}

# Entries whose documented same-code noise band already approaches or
# exceeds the bar (scheduling-floor measurements); over-bar hits here
# are labeled "noise_band" rather than drift/regression.
# textrank/pca/cc_star are per-iteration scheduling-floor entries
# (BASELINE.md r11 addendum) — same class as pagerank.
NOISE_BAND: frozenset[str] = frozenset({
    "pagerank_transitions", "textrank_keywords", "pca_power_8",
    "cc_star_simhash",
    # r13: same per-iteration scheduling-floor class as pagerank
    "ppr_transitions", "sssp_copurchase",
    # r14: iterative graph class — betweenness runs 2 forward BFS +
    # 2 backward dependency rounds, the graph walk runs seed + 3
    # hop rounds; both are fixed-round join chains whose wall time
    # at sf0.1 is dominated by per-round scheduling floor, the
    # pagerank band (BASELINE.md round-7: 4.2-7.9 s on identical
    # code)
    "betweenness_copurchase", "graph_knn_search",
    # r15: same iterative class — k-truss runs 3 per-round
    # triangle-support passes (each localCheckpointed), k-means 3
    # assign/update rounds; per-round scheduling floor dominates
    "ktruss_copurchase", "kmeans_embeddings",
})


# The canary entry's own anchor (morton_native_i32x2's first committed
# measurement): the adjudicator divides an isolated rerun's ratio by
# max(1, isolated_canary_pre / CANARY_PRE_ANCHOR) before reading the
# verdict ladder (round 15 — VERDICT r14's weak item: a rerun host
# 1.7-2.2x slower than the drained anchor host stamped an unchanged
# linear probe "regression"; its canary-normalized ratio was ~1.0x).
# The factor is CLAMPED AT 1: a fast host never inflates a verdict,
# normalization only forgives measured host slowness — and the raw
# un-normalized numbers stay in the artifact alongside.
CANARY_PRE_ANCHOR = 0.21  # == ANCHORS["morton_native_i32x2"]


def host_factor(canary_pre: float | None) -> float:
    """Host slowness factor from an isolated rerun's canary-pre."""
    if not canary_pre:
        return 1.0
    return max(1.0, float(canary_pre) / CANARY_PRE_ANCHOR)


def over_bar(queries: dict[str, float]) -> dict[str, float]:
    """Entries whose measured median exceeds the 2x bar.

    Returns {entry: measured/anchor ratio} for every anchored entry
    over the bar (entries without an anchor — first measured this
    round — can't breach by definition).
    """
    out = {}
    for name, sec in queries.items():
        a = ANCHORS.get(name)
        if a and sec > OVER_BAR_X * a:
            out[name] = round(sec / a, 3)
    return out
