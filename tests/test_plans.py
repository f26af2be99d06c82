"""Physical-plan audits: the properties that matter at 100 TB.

Asserts the plans we designed for are the plans Catalyst actually
produces — codegen-only native paths, column pruning through the
operators, predicate pushdown into parquet, broadcasts where a side is
small, and the absence of cartesian products in every bucketed join.
"""

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

from lindel_spark import dedup as LD
from lindel_spark import functions as LF
from lindel_spark import similarity as LS
from lindel_spark import text as LT
from lindel_spark.joins import asof_join, spatial_range_join
from lindel_spark.queries import q_dedup_embedding

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def li(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def test_native_morton_is_pure_codegen(li):
    df = li.select(LF.morton_encode_native(
        [F.col("l_orderkey").cast("int"), F.col("l_partkey").cast("int")],
        "int32").alias("m"))
    p = plan_of(df)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # formatted mode marks whole-stage-codegen stages as [codegen id : N]
    assert "codegen id" in p


def test_curve_functions_run_in_the_jvm(li):
    """One execution path per direction: all four curve functions run
    as JVM UDFs, with no Python UDF node in the plan."""
    xy = [F.col("l_orderkey").cast("int"), F.col("l_partkey").cast("int")]
    h = LF.hilbert_encode(xy, "int32")
    m = LF.morton_encode(xy, "int32")
    p = plan_of(li.select(
        h.alias("h"), m.alias("m"),
        LF.hilbert_decode(h, 2, input_width=64).alias("hd"),
        LF.morton_decode(m, 2, input_width=64).alias("md")))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    for name in ("hilbert_encode(", "morton_encode(", "hilbert_decode(",
                 "morton_decode("):
        assert name in p, name


def test_encode_udf_prunes_scan_columns(li):
    """Only the two key columns may reach the parquet scan."""
    df = li.select(LF.hilbert_encode(
        [F.col("l_orderkey").cast("int"), F.col("l_partkey").cast("int")],
        "int32").alias("h"))
    p = plan_of(df)
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read and "l_orderkey" in read[0] and "l_partkey" in read[0]
    assert "l_comment" not in read[0] and "l_extendedprice" not in read[0]


def test_text_stats_prunes_scan_columns(docs):
    p = plan_of(LT.text_stats(docs))
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read and "text" in read[0]
    assert "lang" not in read[0]  # unused label column pruned


def test_filter_pushdown_reaches_parquet(li):
    df = li.filter((F.col("l_orderkey") > 100) & (F.col("l_partkey") < 50))
    p = plan_of(df.select("l_orderkey", "l_partkey"))
    assert "PushedFilters" in p
    assert "GreaterThan(l_orderkey" in p and "LessThan(l_partkey" in p


def test_knn_broadcasts_query_side(spark):
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    q = emb.filter(F.col("vec_id") % 50 == 0)
    p = plan_of(LS.brute_force_knn(emb, q, k=5))
    assert "Broadcast" in p


def test_bucketed_joins_never_cartesian(spark, docs):
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    pts = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        (F.element_at("embedding", 1).cast("double") * 1000).alias("x"),
        (F.element_at("embedding", 2).cast("double") * 1000).alias("y"),
    )
    plans = {
        "near_dup": plan_of(LD.near_dup_pairs(docs, cache=False)),
        "simhash": plan_of(LD.simhash_near_dup_pairs(docs)),
        "spatial": plan_of(spatial_range_join(
            pts, pts, ["x", "y"], ["x", "y"], 25.0)),
        "emb_near_dup": plan_of(LS.embedding_near_dup_pairs(emb, 0.4)),
        "emb_gt_query": plan_of(q_dedup_embedding(spark, SF_DIR)),
    }
    for name, p in plans.items():
        assert "CartesianProduct" not in p, name
        if name == "spatial":
            # the only unconditioned join allowed is the *bounded* 9-row
            # offsets multiply (broadcast of a LocalTableScan literal
            # dim) — the codegen-friendly form of the 3x3 probe explode
            assert ("BroadcastNestedLoopJoin" not in p
                    or "LocalTableScan" in p), name
        elif name == "emb_gt_query":
            # the exact ground-truth stage is a *broadcast* of a
            # deterministic md5-fraction sample (expected <= 2k rows) —
            # a BroadcastNestedLoopJoin is the intended bounded shape;
            # a full-corpus CartesianProduct (asserted absent above)
            # would be the quadratic anti-pattern
            assert "BroadcastNestedLoopJoin" in p, name
        else:
            assert "BroadcastNestedLoopJoin" not in p, name


def test_asof_join_single_window_no_join_explosion(spark):
    left = spark.range(100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("ts"))
    right = spark.range(50).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 3).alias("ts"),
        F.col("id").cast("double").alias("v"))
    p = plan_of(asof_join(left, right, on="k", value_cols=["v"],
                          left_ts="ts", right_ts="ts"))
    assert "Window" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


def test_spatial_join_codegen_compiles(spark):
    """The whole-stage-generated methods must stay under janino's 64 KB
    limit — the morton bit-spread references its input ~32x, so any fat
    expression inlined into it (CollapseProject inlines deterministic
    producers) silently drops the plan to interpreted mode (regression:
    the 9-key explode + inlined domain guard did exactly that)."""
    import re

    from lindel_spark.joins import spatial_range_join

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    pts = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        (F.element_at("embedding", 1).cast("double") * 1000).alias("x"),
        (F.element_at("embedding", 2).cast("double") * 1000).alias("y"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spatial_range_join(pts, pts, ["x", "y"], ["x", "y"], 25.0)
        s = spark._jvm.org.apache.spark.sql.execution.debug.package.codegenString(
            df._jdf.queryExecution().executedPlan())
        sizes = [int(x) for x in re.findall(r"maxMethodCodeSize:(-?\d+)", s)]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert sizes, "expected codegen subtrees"
    assert all(0 < x < 65536 for x in sizes), f"codegen failed/fell back: {sizes}"


def test_tpch_q8_dimensions_all_broadcast(spark):
    """Q8's 8-table join graph must broadcast every dimension: no
    SortMergeJoin anywhere except (at most) the lineitem⋈orders
    fact-fact edge — at 100 TB a shuffled dimension join is the
    difference between minutes and hours."""
    from lindel_spark.queries import _REGISTRY

    df = _REGISTRY["tpch_q8_market_share"][0](spark, SF_DIR)
    p = plan_of(df)
    assert p.count("BroadcastHashJoin") >= 5, p[:2000]
    assert p.count("SortMergeJoin") <= 1


def test_tpch_q21_semi_anti_joins(spark):
    """The EXISTS/NOT-EXISTS correlations must run as LeftSemi and
    LeftAnti joins (never a join-then-distinct or a cartesian)."""
    from lindel_spark.queries import _REGISTRY

    df = _REGISTRY["tpch_q21_waiting_suppliers"][0](spark, SF_DIR)
    p = plan_of(df)
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "Cartesian" not in p


def test_graph_knn_search_no_cartesian(spark):
    """The graph-walk ANN (round 14) must stay keyed end to end:
    cell-keyed seed join, node-keyed edge expansion, id-keyed vector
    fetch — never a cartesian or an unconditioned broadcast loop."""
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    q = emb.filter(F.col("vec_id") % 50 == 0)
    cents = LS.train_centroids(emb, 4)
    g = LS.knn_graph(emb, k=4, centroids=cents)
    p = plan_of(LS.graph_knn_search(g, emb, q, k=5, hops=2, beam=8,
                                    centroids=cents))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the compressed-layout face: same keyed shape, codes instead of
    # raw vectors
    books = LS.train_pq(emb, m=4, ks=16, centroids=cents)
    codes = LS.ivf_pq_encode(emb, cents, books)
    p2 = plan_of(LS.graph_knn_search_pq(g, codes, q, cents, books,
                                        k=5, hops=2, beam=8,
                                        refine_with=emb, refine=4))
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoopJoin" not in p2


def test_centrality_keyed_joins_only(spark, li):
    """Betweenness/harmonic (round 14) are frontier-keyed equi-joins
    end to end — no cartesian, no unconditioned broadcast loop."""
    from lindel_spark.graph import (betweenness_centrality,
                                    harmonic_centrality)
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok").filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    srcs = (li.filter(F.col("l_partkey") % 500 == 0)
            .select(F.col("l_partkey").cast("long").alias("node"))
            .distinct())
    for df in (betweenness_centrality(edges, srcs, max_depth=2),
               harmonic_centrality(edges, srcs, max_depth=2)):
        p = plan_of(df)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_contamination_no_cartesian(spark, docs):
    """Decontamination must stay a shingle-keyed equi-join."""
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    train = docs.filter(F.col("doc_id") % 17 != 0)
    p = plan_of(LD.contamination_pairs(train, bench))
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p


def test_pack_sequences_single_shuffle(spark, docs):
    """Packing is one window: exactly one Exchange over the group
    key feeding a sort — no extra repartitions."""
    from lindel_spark.packing import pack_sequences

    d = docs.select("doc_id", "source",
                    LT.token_count(F.col("text")).alias("n_tokens"))
    p = plan_of(pack_sequences(d, 2048))
    # formatted mode prints each node twice (tree + detail): count the
    # detail lines, which state the partitioning
    assert p.count("Arguments: hashpartitioning") == 1, p[:2000]


def test_chunk_documents_map_side_no_shuffle(spark, docs):
    """Chunking is sequence+posexplode+slice — zero Exchanges, so it
    runs wherever the scan runs at any corpus size."""
    from lindel_spark.packing import chunk_documents

    p = plan_of(chunk_documents(docs, max_tokens=32, overlap=4))
    assert "Exchange" not in p, p[:2000]


def test_minhash_signatures_partial_aggregation(spark, docs):
    """The signature groupBy must partial-aggregate map-side (the
    shuffle moves one signature row per id per map partition, never
    exploded shingles)."""
    from lindel_spark import dedup as LD

    sh = docs.select(
        F.col("doc_id").alias("id"),
        LD.word_shingles(F.col("text")).alias("sh"))
    p = plan_of(LD.minhash_signatures(sh))
    assert "partial_min" in p or "Partial" in p, p[:2000]
    assert p.count("Arguments: hashpartitioning") == 1, p[:2000]


def test_gapfill_rollup_single_base_scan(spark):
    """The dense spine must come from the per-key aggregate's own
    bounds+map — never a second scan of the raw events (a naive
    bounds-then-join recomputes the whole rollup lineage twice)."""
    from lindel_spark.sources import load_events
    from lindel_spark.streaming import gapfill_rollup

    ev = load_events(spark, "/root/testdata/sf0.001")
    p = plan_of(gapfill_rollup(ev))
    assert p.count("events.parquet") <= 1, p[:2000]


def test_weighted_sample_is_map_only(docs):
    """Quality-weighted sampling must add zero shuffles: filter +
    project straight over the scan."""
    from lindel_spark.sampling import weighted_sample

    d = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.least(F.lit(1.0), F.length("text") / F.lit(2000.0)).alias("w"))
    p = plan_of(weighted_sample(d, "doc_id", "w"))
    assert "Exchange" not in p


def test_latest_by_key_single_shuffle(spark):
    """Changelog compaction is exactly one hash exchange on the key."""
    from lindel_spark.dedup import latest_by_key
    from lindel_spark.sources import load_events

    ev = load_events(spark, SF_DIR).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros("ts").alias("tus"))
    import re
    p = plan_of(latest_by_key(ev, "user_id", ["tus", "event_id"]))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "CartesianProduct" not in p
    # Spark's rank-limit pushdown: top-1-per-key runs map-side BEFORE
    # the shuffle (Partial WindowGroupLimit), so the exchange moves at
    # most one row per key per map partition
    assert "WindowGroupLimit" in p


def test_feature_hash_preaggregates_map_side(docs):
    """The (id, bucket) groupBy must partial-aggregate before its one
    shuffle (HashAggregate below AND above the Exchange)."""
    from lindel_spark.text import feature_hash_tf

    p = plan_of(feature_hash_tf(docs, dim=64))
    # exactly one HASH exchange (the groupBy); the round-robin one is
    # ensure_parallelism's small-input guard, not a data shuffle key
    assert p.count("hashpartitioning") == 1
    assert "partial_count" in p  # map-side combine below the exchange
    assert p.count("HashAggregate") >= 2


def test_asof_nearest_single_exchange(spark):
    """nearest direction reuses one exchange for both directional
    fills — a second sort, never a second shuffle of the union."""
    from lindel_spark.joins import asof_join

    left = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 50).alias("lt"))
    right = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 3 % 50).alias("rt"),
        F.col("id").alias("v"))
    p = plan_of(asof_join(left, right, on="k", left_ts="lt",
                          right_ts="rt", value_cols=["v"],
                          direction="nearest"))
    import re
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1


def test_interval_overlap_join_no_nested_loop(spark):
    """The 1-D range join must plan as a bucketed equi-join: no
    cartesian product, no broadcast-nested-loop."""
    from lindel_spark.joins import interval_overlap_join
    points = spark.range(1000).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("pid"),
        (F.col("id") * 7).alias("ts"))
    intervals = spark.range(100).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("iid"),
        (F.col("id") * 70).alias("s"), (F.col("id") * 70 + 500).alias("e"))
    out = interval_overlap_join(points, intervals, on="k",
                                point_ts="ts", start="s", end="e",
                                grain=500)
    p = plan_of(out)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bloom_semi_join_filters_before_broadcast_join(spark):
    """The bloom probe (Arrow-batched) must sit BELOW the exact
    semi-join, and the dim side must broadcast."""
    from lindel_spark.joins import bloom_semi_join
    fact = spark.range(10_000).select(F.col("id").alias("key"))
    dim = spark.range(50).select((F.col("id") * 13).alias("key"))
    out = bloom_semi_join(fact, dim, on="key")
    p = plan_of(out)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    # small-dim path: the bloom probe is a pure-JVM getbit filter (no
    # Python eval stage at all) feeding the join's streamed side
    assert "EvalPython" not in p
    assert "getbit" in p.lower()
    join_pos = p.find("BroadcastHashJoin")
    filt_pos = p.lower().find("getbit")
    assert filt_pos > join_pos  # formatted plans list children below


def test_scd2_build_single_exchange(spark):
    """Both window passes share one hash-partitioning on the key: the
    plan must contain exactly one shuffle Exchange."""
    from lindel_spark.history import scd2_build
    df = spark.range(1000).select(
        (F.col("id") % 20).alias("k"), F.col("id").alias("ts"),
        F.col("id").alias("seq"),
        (F.col("id") % 3).cast("string").alias("attr"))
    out = scd2_build(df, "k", ["ts", "seq"], ["attr"])
    import re
    p = plan_of(out)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    # and the filtered second window reuses the sort: one Sort total
    # per partitioning (Spark may re-sort after the filter; what must
    # NOT appear is a second Exchange)
    assert p.count("hashpartitioning") >= 1


def test_grouping_sets_single_scan_expand(spark):
    """GROUPING SETS plans as one scan + Expand + aggregate, not four
    separate aggregations unioned."""
    ev = spark.range(1000).select(
        (F.col("id") % 4).cast("string").alias("t"),
        (F.col("id") % 9).cast("string").alias("d"),
        F.col("id").cast("double").alias("v"))
    out = (ev.groupingSets([["t", "d"], ["t"], ["d"], []], "t", "d")
           .agg(F.count(F.lit(1)).alias("n")))
    p = plan_of(out)
    assert "Expand" in p
    assert p.count("Union") == 0


def test_ohlc_single_exchange(spark):
    """OHLC shares one hash exchange between both window frames."""
    import re

    from lindel_spark.timeseries import ohlc
    df = spark.range(1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("ts"),
        F.col("id").alias("seq"), F.col("id").cast("double").alias("v"))
    p = plan_of(ohlc(df, ["k"], "ts", "v", "seq"))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_time_weighted_avg_single_exchange(spark):
    """TWA's lead window and groupBy share the same key partitioning:
    one exchange total."""
    import re

    from lindel_spark.timeseries import time_weighted_avg
    df = spark.range(1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("ts"),
        F.col("id").alias("seq"), F.col("id").cast("double").alias("v"))
    p = plan_of(time_weighted_avg(df, ["k"], "ts", "v", "seq"))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_tfidf_no_cartesian_and_partial_agg(docs):
    """TF-IDF: the df join stays keyed (no cartesian beyond the
    broadcast one-row n_docs), postings partial-aggregate map-side."""
    from lindel_spark.retrieval import tfidf_topk
    p = plan_of(tfidf_topk(docs, k=3))
    assert "CartesianProduct" not in p
    assert "partial_count" in p  # postings map-side combine


def test_round8_operators_never_cartesian_or_global_window(spark, docs):
    """Round-8 additions must keep the 100 TB plan contracts:
    no CartesianProduct anywhere; global_rank-based operators carry
    no UNPARTITIONED window (the single-task sort antipattern) — any
    Window in their plans must be partitioned."""
    from lindel_spark import sampling as SMP
    from lindel_spark.util import global_rank

    inter = spark.createDataFrame(
        [(u, u % 3) for u in range(30)], ["user_id", "item_id"])
    items = spark.createDataFrame([(i,) for i in range(10)], ["item_id"])
    plans = {
        "snm": plan_of(LD.sorted_neighborhood_pairs(docs, window=3)),
        "global_rank": plan_of(
            global_rank(docs.select("doc_id"), ["doc_id"])),
        "negatives": plan_of(SMP.negative_sample(inter, items, k=2)),
    }
    for name, p in plans.items():
        assert "CartesianProduct" not in p, name
    # round-9 default: rank via explicit content-derived boundaries —
    # the only Window is PARTITIONED on the pid column (never the
    # single-task unpartitioned sort), offsets arrive by broadcast,
    # and the one data shuffle is the window's hash exchange on pid
    # (no range repartition, no checkpoint materialization)
    p = plans["global_rank"].lower()
    assert "broadcasthashjoin" in p
    assert "rangepartitioning" not in p
    assert "hashpartitioning(__gr_pid" in p
    # the one Window is PARTITIONED on the pid column (its spec names
    # __gr_pid) — never the single-task unpartitioned sort
    assert "windowspecdefinition(__gr_pid" in p


def test_substring_dedup_plan_never_cartesian(spark, docs):
    """Round-10 duplicated-span removal: gram-keyed equi-joins only —
    no cartesian, no broadcast nested loop anywhere in the plan."""
    p = plan_of(LD.substring_dup_spans(docs, k=8))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bloom_survivor_agg_projects_no_bitsets_downstream(spark,
                                                           tmp_path):
    """Round-10 distributed bloom probe: the survivor aggregate's
    output schema is (count, survivor paths) — the binary bitset
    column exists only below the aggregate, so nothing file-count- or
    bitset-sized can reach the driver."""
    from lindel_spark import profile as LP

    df = spark.range(2000).select((F.col("id") * 7).alias("key"))
    path = str(tmp_path / "bp")
    df.repartition(4).write.parquet(path)
    man = LP.file_bloom_manifest(spark, path, "key")
    pred = LP._bloom_probe_pred(14, 1 << 20, LP._BLOOM_K)
    agg = man.agg(
        F.count(F.lit(1)).alias("__total"),
        F.sort_array(F.collect_list(
            F.when(pred, F.col("file")))).alias("__keep"))
    assert [f.name for f in agg.schema.fields] == ["__total", "__keep"]
    p = plan_of(agg)
    # one aggregate, bit test evaluated inside it, no join/shuffle of
    # the bitsets other than the final single-row exchange
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_rrf_fusion_plan_keyed_only(spark, docs):
    """Round-10 RRF: union + one keyed aggregate + one window — no
    cartesian/BNLJ, nothing broadcast by the fusion itself."""
    from lindel_spark import retrieval as LR

    a = docs.select(F.col("doc_id").alias("query_id"),
                    F.col("doc_id").alias("doc_id"),
                    F.lit(1).alias("rank"))
    b = docs.select(F.col("doc_id").alias("query_id"),
                    (F.col("doc_id") + 1).alias("doc_id"),
                    F.lit(2).alias("rank"))
    p = plan_of(LR.reciprocal_rank_fusion([a, b], k=5))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "HashAggregate" in p


def test_round10_new_operators_plan_contracts(spark, docs):
    """Round-10 second-pass additions keep the 100 TB contracts:
    linkage is a (broadcast|shuffle) HASH equi-join on the block key
    — never cartesian/BNLJ; label propagation through knn_join's cell
    join is never cartesian; length-bucketed batching carries no
    unpartitioned window and gets its per-bucket offsets by
    broadcast; BPE pair counting is map + one partial-agged groupBy
    with a TakeOrdered cut, no shuffle-side sort of the full pairs."""
    from lindel_spark.linkage import LinkField, record_linkage
    from lindel_spark.packing import length_bucketed_batches
    from lindel_spark.text import bpe_pair_counts

    cust = spark.read.parquet(os.path.join(SF_DIR, "customer.parquet"))
    cust = cust.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_name", "c_nationkey", "c_mktsegment", "c_acctbal",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("balb"))
    p_link = plan_of(record_linkage(
        cust, "c_custkey", ["c_nationkey", "c_mktsegment", "balb"],
        [LinkField("c_name", "levenshtein", 0.6),
         LinkField("c_acctbal", "numeric", 0.4, 500.0)],
        threshold=0.9))
    assert "CartesianProduct" not in p_link
    assert "BroadcastNestedLoopJoin" not in p_link
    assert "HashJoin" in p_link  # blocked equi-join, broadcast or shuffled

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    from lindel_spark.similarity import propagate_labels
    p_prop = plan_of(propagate_labels(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1), k=3, n_centroids=4))
    assert "CartesianProduct" not in p_prop
    assert "BroadcastNestedLoopJoin" not in p_prop

    p_batch = plan_of(length_bucketed_batches(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                    "n_chars"),
        "doc_id", "n_chars", 64, 16)).lower()
    assert "cartesianproduct" not in p_batch
    # every window is partitioned (global_rank pid window) and the
    # per-bucket min/count offsets arrive via broadcast
    assert "windowspecdefinition(__gr_pid" in p_batch
    assert "broadcasthashjoin" in p_batch

    p_bpe = plan_of(bpe_pair_counts(docs, top_n=50))
    assert "TakeOrderedAndProject" in p_bpe
    assert "partial_count" in p_bpe or "partial count" in p_bpe.lower()


def test_round11_late_ops_no_cartesian(spark, li, docs):
    from lindel_spark.graph import bfs_distances
    from lindel_spark.retrieval import trigram_backoff_logprob
    from lindel_spark.rules import frequent_triples

    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok").filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    srcs = li.select(F.col("l_partkey").cast("long")
                     .alias("node")).limit(5)
    baskets = li.select(F.col("l_orderkey").alias("basket"),
                        F.col("l_partkey").alias("item"))
    model = docs.filter(F.col("doc_id") % 2 == 0)
    targ = docs.filter(F.col("doc_id") % 2 == 1)
    for name, df in [
        ("bfs", bfs_distances(edges, srcs, max_hops=2)),
        ("triples", frequent_triples(baskets, "basket", "item", 2)),
        ("trigram", trigram_backoff_logprob(model, targ)),
    ]:
        p = plan_of(df)
        assert "CartesianProduct" not in p, name
        if name == "trigram":
            # exactly one BNLJ: the ONE-ROW (N, V) stats broadcast —
            # the pagerank dangling-mass pattern, bounded by
            # construction; the gram joins themselves must hash
            # ("formatted" prints each node twice: tree + details)
            assert p.count("BroadcastNestedLoopJoin") == 2, name
        else:
            assert "BroadcastNestedLoopJoin" not in p, name


def test_random_projection_stays_jvm_side(spark):
    from lindel_spark.similarity import random_project

    emb = spark.createDataFrame(
        [(0, [1.0] * 8)], "vec_id long, embedding array<float>")
    p = plan_of(random_project(emb, in_dim=8, out_dim=4))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_drift_report_broadcasts_stats_not_rows(spark):
    from lindel_spark.profile import distribution_drift

    ref = spark.range(100).select(F.col("id").cast("double").alias("v"))
    cur = spark.range(100).select(F.col("id").cast("double").alias("v"))
    p = plan_of(distribution_drift(ref, cur, ["v"], bins=10))
    assert "CartesianProduct" not in p
    # the per-column stats ride broadcast joins; row frames never do
    assert "BroadcastExchange" in p


def test_link_prediction_no_cartesian(spark, li):
    from lindel_spark.graph import link_prediction
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").cast("long").alias("dst"))
    edges = (a.join(b, "ok").filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    p = plan_of(link_prediction(edges, max_middle_degree=64))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_tfidf_cosine_pairs_no_cartesian(docs):
    # the only nested loop allowed is the one-row broadcast of the
    # corpus-constants frame (the repo's standard crossJoin(broadcast)
    # pattern); the PAIR join itself must be a term-keyed equi-join
    from lindel_spark.retrieval import tfidf_cosine_pairs
    p = plan_of(tfidf_cosine_pairs(docs, threshold=0.5, max_df=100))
    assert "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) \
        or ("BroadcastHashJoin" in p)


def test_dbscan_epsilon_pairs_cell_keyed(spark):
    # the epsilon-neighborhood must ride the Morton-cell equi-join,
    # never a distance cross join
    from lindel_spark.clustering import dbscan_2d
    pts = spark.createDataFrame(
        [(i, float(i % 7), float(i % 5)) for i in range(100)],
        ["id", "x", "y"])
    p = plan_of(dbscan_2d(pts, "id", "x", "y", eps=0.5, min_pts=3))
    assert "CartesianProduct" not in p


def test_phrase_search_postings_filtered_in_scan(docs):
    from lindel_spark.retrieval import phrase_search
    p = plan_of(phrase_search(docs, "hash join"))
    assert "CartesianProduct" not in p
    # the phrase-vocabulary filter must sit below the explode result
    # aggregation (term IN (...) is a pushable In predicate)
    assert "hash" in p and "join" in p


def test_filtered_knn_pushes_predicate_into_scan(spark):
    """filtered_knn: the attribute predicate must reach the parquet
    scan (PushedFilters) on the corpus side — a label-scoped search
    over 100 TB reads matching row groups, it does not
    scan-then-discard — and the cell join stays an equi-join."""
    import numpy as np

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    cents = np.eye(4, 16)  # any (nc, d) matrix binds the plan
    df = LS.filtered_knn(emb, emb.limit(5), F.col("label") < 5,
                         k=3, centroids=cents, nprobe=2)
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("LessThan(label,5)" in ln for ln in pushed), pushed
