"""Headline benchmark: BASELINE.md protocol + pipeline-operator timings.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "bench_total", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": <sf>, "rows": {...}}

Encode/decode queries are forced through the ``noop`` sink so Catalyst
cannot prune the measured column; timings are the median of 3 runs for
the scan-shaped queries and a single run for the write-shaped ones.

Self-adjudication (round 11 — three rounds of host drift manufactured
false 2x-bar breaches on unchanged code): the artifact now carries

- ``canary``: one fixed cheap entry (``morton_native_i32x2``) re-timed
  BEFORE and AFTER the suite; post/pre >> 1 on identical code means
  the session itself slowed while the suite ran.
- ``over_bar_reruns``: every entry whose in-suite median exceeds 1.5x
  of its BASELINE.md anchor (``RERUN_BAR_X`` in
  ``lindel_spark/bench_anchors.py``; the GRADING contract stays 2x =
  ``OVER_BAR_X``) is AUTOMATICALLY re-measured in a FRESH subprocess
  (own JVM, setup restricted to that entry via ``--only``), and both
  numbers land in the artifact with a mechanical verdict: isolated
  median back under 1.5x -> "drift", between 1.5x and 2x ->
  "elevated_in_band" (in contract, watch), over 2x -> "regression"
  (noise-band entries like pagerank are labeled as such).

``python bench.py --only a,b`` runs just those entries (fresh session,
entry-scoped setup) and prints the same one-line JSON — the subprocess
face of the adjudicator, also usable by hand.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# callers parse the last stdout line from a fixed-size tail of the
# output; warn well before the result line could outgrow it
SLIM_LINE_WARN_BYTES = 6000


def _sf() -> float:
    base = os.path.basename(SF_DIR.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _rerun_isolated(names: list[str], timeout_s: int = 900) -> dict:
    """Re-measure entries in a FRESH subprocess (own JVM, own session).

    Parses the one-line JSON the ``--only`` invocation prints; returns
    {} (with a stderr note) on any failure — adjudication must never
    take the bench run down with it.
    """
    import subprocess
    cmd = [sys.executable, os.path.abspath(__file__),
           "--only", ",".join(names)]
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_BENCH_OUT", None)  # don't clobber the artifact
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True,
                              timeout=timeout_s, env=env)
        for line in reversed(proc.stdout.strip().splitlines()):
            line = line.strip()
            if line.startswith("{"):
                return json.loads(line)
        print(f"BENCH ADJUDICATE WARNING: no JSON from isolated rerun "
              f"(rc={proc.returncode})", file=sys.stderr)
    except Exception as ex:  # timeout, parse, spawn
        print(f"BENCH ADJUDICATE WARNING: {type(ex).__name__}: {ex}",
              file=sys.stderr)
    return {}


def main(only: set[str] | None = None, fast: bool = False) -> None:
    from lindel_spark.contract import assert_data_contract
    # fail loudly on driver-layout drift; allow_missing because derived
    # scale-up dirs (.scale/sf1) carry only the benchmarked tables
    assert_data_contract(SF_DIR, allow_missing=True)

    from lindel_spark import dedup as LD
    from lindel_spark import functions as LF
    from lindel_spark import similarity as LS
    from lindel_spark import text as LT
    from lindel_spark import write as LW
    from lindel_spark.bench_anchors import (
        ANCHORS, NOISE_BAND, OVER_BAR_X, RERUN_BAR_X, host_factor)
    from lindel_spark.session import get_spark

    def need(*names: str) -> bool:
        # setup gate: in --only mode, build just the artifacts the
        # selected entries touch — an isolated rerun of one entry must
        # not pay (or be perturbed by) the full-suite setup
        return only is None or bool(only.intersection(names))

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(CPUS))
    # harness-only driver knob (see lindel_spark.session.get_spark)
    os.environ.setdefault("SPARK_GRAFT_MAX_RESULT", "4g")
    spark = get_spark("lindel-bench")
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    n_li = li.count()  # warms the JVM + caches file listings
    n_docs = docs.count()
    n_emb = emb.count()

    i2 = [F.col("l_orderkey").cast("int"), F.col("l_partkey").cast("int")]
    d2 = [F.col("l_extendedprice"), F.col("l_discount")]

    def q_hilbert_i32(_):
        _noop(li.select(LF.hilbert_encode(i2, "int32").alias("h")))

    def q_hilbert_f64(_):
        _noop(li.select(LF.hilbert_encode(d2, "float64").alias("h")))

    def q_morton_native_i32(_):
        _noop(li.select(LF.morton_encode_native(i2, "int32").alias("m")))

    def q_morton_udf_i32(_):
        _noop(li.select(LF.morton_encode(i2, "int32").alias("m")))

    def q_decode_rt_i32(_):
        h = LF.hilbert_encode(i2, "int32")
        _noop(li.select(LF.hilbert_decode(h, 2, input_width=64).alias("d")))

    def q_zorder_write(tmp):
        LW.zorder_write(li, i2, os.path.join(tmp, "z"), elem="int32",
                        num_files=16)

    def q_plain_write(tmp):
        li.repartition(16).write.mode("overwrite").parquet(
            os.path.join(tmp, "p"))

    def q_text_stats(_):
        _noop(LT.text_stats(docs))

    def q_dedup_near(_):
        _noop(LD.near_dup_pairs(docs))

    def q_knn_fast(_):
        queries_df = emb.filter(F.col("vec_id") % 50 == 0)
        _noop(LS.brute_force_knn_fast(emb, queries_df, k=10))

    def q_dedup_simhash(_):
        _noop(LD.simhash_near_dup_pairs(docs))

    def q_asof(_):
        from lindel_spark.joins import asof_join
        from lindel_spark.sources import load_events
        # dual-schema loader: ts normalized to timestamp[us] whichever
        # layout the generator wrote (see sources.load_events)
        ev = load_events(spark, SF_DIR)
        ev = ev.withColumn("tus", F.unix_micros("ts"))
        clicks = ev.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "tus")
        purch = (ev.filter(F.col("event_type") == "purchase")
                 .groupBy("user_id", "tus").agg(F.max("value").alias("value")))
        _noop(asof_join(clicks, purch, on="user_id",
                        left_ts="tus", right_ts="tus", value_cols=["value"]))

    def q_winnow_fps(_):
        from lindel_spark import text as LTT
        _noop(LTT.winnow_fingerprints(docs))

    def q_embedding_ops(_):
        u = LS.quantize_embeddings(LS.normalize_embeddings(emb))
        _noop(u.select("vec_id", "unit", "q"))

    def q_embedding_ops_fast(_):
        _noop(LS.normalize_quantize_fast(emb).select("vec_id", "unit", "q"))

    def q_knn_ivf(_):
        queries_df = emb.filter(F.col("vec_id") % 50 == 0)
        _noop(LS.ivf_knn(emb, queries_df, k=10, n_centroids=16, nprobe=8))

    if need("knn_ivf_probe"):
        _ivf_centroids = LS.train_centroids(emb, 16)

    def q_knn_ivf_probe(_):
        # steady-state cost: codebook pretrained (the production shape)
        queries_df = emb.filter(F.col("vec_id") % 50 == 0)
        _noop(LS.ivf_knn(emb, queries_df, k=10, n_centroids=16, nprobe=8,
                         centroids=_ivf_centroids))

    _auto_nc, _auto_np = LS.auto_ivf_config(n_emb)
    if need("knn_ivf_auto", "knn_join_dist", "knn_ivfpq_refined",
            "knn_join_pq_dist", "ivf_store_pruned_scan",
            "ivf_store_full_scan", "knn_graph_mutual"):
        _ivf_auto_centroids = LS.train_centroids(emb, _auto_nc)
    if need("knn_pq_refined"):
        _pq_books = LS.train_pq(emb, m=8, ks=256)
    if need("knn_ivfpq_refined", "knn_join_pq_dist"):
        # round-12 IVFADC default: mean-anchored coarse cells +
        # residual-trained books
        _ivfpq_centroids = LS.train_centroids(emb, _auto_nc,
                                              spherical=False)
        _pq_books_res = LS.train_pq(emb, m=8, ks=256,
                                    centroids=_ivfpq_centroids)
    # codes are the *stored* representation — materialize to parquet
    # and read back, so the timed scans survive the per-entry
    # clearCache() (a persist() would be silently dropped and the
    # timings would re-measure encoding)
    _store = tempfile.mkdtemp(prefix="lindel_bench_store_")
    if need("knn_pq_refined"):
        LS.pq_encode(emb, _pq_books).write.mode("overwrite").parquet(
            os.path.join(_store, "pq_codes"))
        _pq_codes = spark.read.parquet(os.path.join(_store, "pq_codes"))

    def q_knn_pq_refined(_):
        # production shape: ADC scan over stored 8-byte codes, then
        # exact re-score of top-80 candidates per query
        queries_df = emb.filter(F.col("vec_id") % 50 == 0)
        _noop(LS.pq_knn(_pq_codes, queries_df, _pq_books, k=10,
                        refine_with=emb, refine=8))

    def q_knn_ivf_auto(_):
        # scale-correct operating point: n_centroids ~ sqrt(corpus),
        # probe ~12% — what ivf_knn picks by default at any SF
        queries_df = emb.filter(F.col("vec_id") % 50 == 0)
        _noop(LS.ivf_knn(emb, queries_df, k=10, n_centroids=_auto_nc,
                         nprobe=_auto_np, centroids=_ivf_auto_centroids))

    def q_knn_join_dist(_):
        # fully-distributed query side (no driver collect): cell-keyed
        # shuffle equi-join at the auto IVF operating point — the path
        # a 10M-query batch would take (round-8, similarity.knn_join)
        queries_df = emb.filter(F.col("vec_id") % 50 == 0)
        _noop(LS.knn_join(emb, queries_df, k=10,
                          centroids=_ivf_auto_centroids,
                          nprobe=_auto_np))

    if need("knn_ivfpq_refined", "knn_join_pq_dist"):
        LS.ivf_pq_encode(emb, _ivfpq_centroids, _pq_books_res) \
            .write.mode("overwrite").parquet(
                os.path.join(_store, "ivfpq_codes"))
        _ivfpq_codes = spark.read.parquet(
            os.path.join(_store, "ivfpq_codes"))  # cell+code stored form

    def q_knn_ivfpq_refined(_):
        # cell pruning x code compression: scan nprobe cells of 8-byte
        # codes, exact-refine survivors — the billion-scale shape
        queries_df = emb.filter(F.col("vec_id") % 50 == 0)
        _noop(LS.ivf_pq_knn(emb, queries_df, k=10,
                            centroids=_ivfpq_centroids,
                            codebooks=_pq_books_res, codes=_ivfpq_codes,
                            nprobe=_auto_np, refine_with=emb, refine=8))

    def q_knn_join_pq_dist(_):
        # round 9: the DISTRIBUTED query side over the same stored
        # codes — queries join codes on the cell id instead of
        # collecting to the driver; the shape a 10M-query batch takes
        queries_df = emb.filter(F.col("vec_id") % 50 == 0)
        _noop(LS.knn_join_pq(_ivfpq_codes, queries_df,
                             _ivfpq_centroids, _pq_books_res, k=10,
                             nprobe=_auto_np, refine_with=emb,
                             refine=8))

    # IVF store: hive-partitioned by cell — the storage half of IVF.
    # The pruned entry reads nprobe cells via partition pruning; the
    # full entry reads the whole store. Scanned-bytes ratio is measured
    # from the store layout itself and emitted as `ivf_store` evidence.
    _ivf_store = os.path.join(_store, "ivf_store")
    _store_total_b = _probed_b = 0
    if need("ivf_store_pruned_scan", "ivf_store_full_scan"):
        LS.ivf_write(emb, _ivf_store, centroids=_ivf_auto_centroids)
        _probe_cells = sorted(
            int(d.split("=", 1)[1]) for d in os.listdir(_ivf_store)
            if d.startswith("cell=")
        )[:_auto_np]

        def _dir_bytes(p):
            total = 0
            for root, _dirs, files in os.walk(p):
                for f in files:
                    total += os.path.getsize(os.path.join(root, f))
            return total

        _store_total_b = _dir_bytes(_ivf_store)
        _probed_b = sum(
            _dir_bytes(os.path.join(_ivf_store, f"cell={c}"))
            for c in _probe_cells
        )

    def q_ivf_store_pruned(_):
        _noop(LS.ivf_scan_cells(spark, _ivf_store, _probe_cells)
              .select("vec_id", "embedding"))

    def q_ivf_store_full(_):
        _noop(spark.read.parquet(_ivf_store).select("vec_id", "embedding"))

    def q_spatial_join(_):
        from lindel_spark.joins import spatial_range_join
        pts = emb.select(
            F.col("vec_id").cast("long").alias("id"),
            (F.element_at("embedding", 1).cast("double") * 1000).alias("x"),
            (F.element_at("embedding", 2).cast("double") * 1000).alias("y"),
        )
        _noop(spatial_range_join(pts, pts, ["x", "y"], ["x", "y"], 25.0))

    # --- round-7 pipeline entries ---------------------------------
    def q_bm25(_):
        from lindel_spark import retrieval as LR
        toks = LT.tokens(LT.normalize_text(F.col("text")))
        qd = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("query_id"),
            F.array_join(F.slice(toks, 1, 5), " ").alias("query"))
        _noop(LR.bm25_topk(docs, qd, k=10))

    def q_lm_quality(_):
        from lindel_spark import retrieval as LR
        _noop(LR.unigram_logprob(docs))

    def q_cms_heavy_hitters(_):
        from lindel_spark import sketch as SK
        terms = docs.select(F.explode(
            LT.tokens(LT.normalize_text(F.col("text")))).alias("term"))
        _noop(SK.heavy_hitters(terms, k=20))

    # steady-state semantic dedup: quantizer pretrained (same protocol
    # as the IVF entries)
    _sem_nc, _ = LS.auto_ivf_config(n_emb)
    if need("semantic_dedup"):
        _sem_centroids = LS.train_centroids(emb, _sem_nc)

    def q_semantic_dedup(_):
        _noop(LS.semantic_dedup(emb, threshold=0.35,
                                centroids=_sem_centroids))

    def q_merge_upsert(_):
        from lindel_spark.dedup import latest_by_key
        from lindel_spark.sources import load_events
        cut = 1705795200000000  # 2024-01-21T00:00:00Z
        ev = load_events(spark, SF_DIR).select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_id").cast("long").alias("event_id"),
            F.unix_micros("ts").alias("tus"), "event_type", "value")
        target = latest_by_key(ev.filter(F.col("tus") < cut),
                               "user_id", ["tus", "event_id"])
        updates = latest_by_key(
            ev.filter(F.col("tus") >= cut),
            "user_id", ["tus", "event_id"],
        ).withColumn("is_delete", F.col("event_type") == "error")
        _noop(LW.merge_upsert(target, updates, "user_id",
                              delete_col="is_delete"))

    # --- round-7 (cont.): history / range-join / runtime-filter ----
    def _ev_long():
        from lindel_spark.sources import load_events
        return load_events(spark, SF_DIR).select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_id").cast("long").alias("event_id"),
            F.unix_micros("ts").alias("tus"), "event_type", "value")

    def q_scd2(_):
        from lindel_spark.history import scd2_build
        _noop(scd2_build(_ev_long(), "user_id", ["tus", "event_id"],
                         ["event_type"]))

    def q_interval_overlap(_):
        from lindel_spark.joins import interval_overlap_join
        span = 30 * 60 * 1_000_000
        ev = _ev_long()
        ivl = ev.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("event_id").alias("iid"),
            F.col("tus").alias("s"), (F.col("tus") + span).alias("e"))
        _noop(interval_overlap_join(ev, ivl, on="user_id",
                                    point_ts="tus", start="s",
                                    end="e", grain=span)
              .groupBy("user_id", "event_id")
              .agg(F.count(F.lit(1)).alias("n_cover")))

    def q_bloom_semi(_):
        from lindel_spark.joins import bloom_semi_join
        orders = spark.read.parquet(
            os.path.join(SF_DIR, "orders.parquet"))
        dim = (spark.read.parquet(os.path.join(SF_DIR,
                                               "customer.parquet"))
               .filter((F.col("c_mktsegment") == "BUILDING")
                       & (F.col("c_acctbal") > 5000))
               .select(F.col("c_custkey").alias("o_custkey")))
        _noop(bloom_semi_join(orders, dim, on="o_custkey")
              .groupBy("o_orderpriority")
              .agg(F.count(F.lit(1)).alias("n")))

    def q_tfidf(_):
        from lindel_spark.retrieval import tfidf_topk
        _noop(tfidf_topk(docs, k=3))

    def q_ohlc(_):
        from lindel_spark.timeseries import ohlc
        ev = _ev_long().withColumn(
            "day_s", F.date_format(
                F.timestamp_micros("tus"), "yyyy-MM-dd"))
        _noop(ohlc(ev, ["user_id", "day_s"], "tus", "value",
                   "event_id"))

    def q_pagerank(_):
        from pyspark.sql import Window as _W

        from lindel_spark.graph import pagerank
        ev = _ev_long()
        w = _W.partitionBy("user_id").orderBy("tus", "event_id")
        trans = (ev.withColumn("prev", F.lag("event_type").over(w))
                 .filter(F.col("prev").isNotNull())
                 .groupBy(F.col("prev").alias("src"),
                          F.col("event_type").alias("dst"))
                 .agg(F.count(F.lit(1)).cast("double").alias("w")))
        _noop(pagerank(trans, iterations=5, weight="w"))

    def q_audio_features(_):
        from lindel_spark.multimodal import audio_features
        blobs = docs.select(
            F.col("doc_id").alias("id"),
            F.encode("text", "UTF-8").alias("content"))
        _noop(audio_features(blobs, frame_samples=32))

    def q_corpus_prep(_):
        from lindel_spark.pipeline import prepare_corpus
        _noop(prepare_corpus(docs))

    _orders_path = os.path.join(SF_DIR, "orders.parquet")
    _cust_path = os.path.join(SF_DIR, "customer.parquet")

    def q_bucketed_join_cycle(tmp):
        # write both sides bucketed on the join key, then join with
        # zero Exchange — the write-once/join-free pattern end to end
        orders = spark.read.parquet(_orders_path)
        cust = spark.read.parquet(_cust_path)
        LW.bucketed_write(orders, "bench_orders_b", "o_custkey", 16,
                          path=os.path.join(tmp, "ob"))
        LW.bucketed_write(cust, "bench_cust_b", "c_custkey", 16,
                          path=os.path.join(tmp, "cb"))
        ob = spark.table("bench_orders_b")
        cb = spark.table("bench_cust_b")
        _noop(ob.join(cb, ob.o_custkey == cb.c_custkey)
              .groupBy("c_mktsegment")
              .agg(F.count(F.lit(1)).alias("n")))

    from lindel_spark.sources import load_events_raw
    n_clicks = -1
    if need("asof_join_events", "merge_upsert_events"):
        try:
            n_clicks = (
                load_events_raw(spark, SF_DIR)
                .filter(F.col("event_type") == "click").count()
            )  # = asof result rows (one output row per left click)
        except Exception as ex:
            print(f"BENCH SETUP WARNING events: {ex}", file=sys.stderr)

    scan_shaped = [
        ("hilbert_encode_i32x2", q_hilbert_i32, n_li),
        ("hilbert_encode_f64x2", q_hilbert_f64, n_li),
        ("morton_native_i32x2", q_morton_native_i32, n_li),
        ("morton_udf_i32x2", q_morton_udf_i32, n_li),
        ("hilbert_decode_rt_i32x2", q_decode_rt_i32, n_li),
        ("text_stats", q_text_stats, n_docs),
        ("dedup_near_pairs", q_dedup_near, n_docs),
        ("dedup_simhash_pairs", q_dedup_simhash, n_docs),
        ("knn_brute_fast", q_knn_fast, n_emb),
        ("asof_join_events", q_asof, n_clicks),
        ("spatial_range_join", q_spatial_join, n_emb),
        ("winnow_fingerprints", q_winnow_fps, n_docs),
        ("embedding_ops", q_embedding_ops, n_emb),
        ("embedding_ops_fast", q_embedding_ops_fast, n_emb),
        ("knn_ivf", q_knn_ivf, n_emb),
        ("knn_ivf_probe", q_knn_ivf_probe, n_emb),
        ("knn_ivf_auto", q_knn_ivf_auto, n_emb),
        ("knn_join_dist", q_knn_join_dist, n_emb),
        ("knn_pq_refined", q_knn_pq_refined, n_emb),
        ("knn_ivfpq_refined", q_knn_ivfpq_refined, n_emb),
        ("knn_join_pq_dist", q_knn_join_pq_dist, n_emb),
        ("ivf_store_pruned_scan", q_ivf_store_pruned, n_emb),
        ("ivf_store_full_scan", q_ivf_store_full, n_emb),
        ("bm25_topk", q_bm25, n_docs),
        ("lm_quality", q_lm_quality, n_docs),
        ("cms_heavy_hitters", q_cms_heavy_hitters, n_docs),
        ("semantic_dedup", q_semantic_dedup, n_emb),
        ("merge_upsert_events", q_merge_upsert, n_clicks),
        ("scd2_history", q_scd2, -1),
        ("interval_overlap", q_interval_overlap, -1),
        ("bloom_semi_join", q_bloom_semi, -1),
        ("tfidf_topk", q_tfidf, n_docs),
        ("ohlc_daily", q_ohlc, -1),
        ("pagerank_transitions", q_pagerank, -1),
        ("audio_features", q_audio_features, n_docs),
        ("corpus_prep", q_corpus_prep, n_docs),
    ]

    # manifest index: z-ordered layout written ONCE at setup; the
    # pruned entry reads only files whose [min,max] intersect the
    # predicate, the full entry filter-scans everything (round 8)
    from lindel_spark import profile as LP
    _mstore = os.path.join(_store, "manifest_z")
    _mlo, _mhi = 1000, int(n_li * 0.02) + 1000
    _mstats = None
    if need("manifest_pruned_scan", "manifest_full_scan"):
        LW.zorder_write(li, [F.col("l_orderkey").cast("int"),
                             F.col("l_partkey").cast("int")],
                        _mstore, elem="int32", num_files=32)
        _manifest = LP.file_minmax_manifest(spark, _mstore, ["l_orderkey"])
        _mhits, _mstats = LP.manifest_pruned_read(
            spark, _mstore, _manifest, {"l_orderkey": (_mlo, _mhi)})

    def q_manifest_pruned(_):
        hits, _st = LP.manifest_pruned_read(
            spark, _mstore, _manifest,
            {"l_orderkey": (_mlo, _mhi)})
        _noop(hits)

    def q_manifest_full(_):
        _noop(spark.read.parquet(_mstore).filter(
            (F.col("l_orderkey") >= _mlo)
            & (F.col("l_orderkey") <= _mhi)))

    # round 9: the incremental store's read path over its PERSISTED
    # manifest — built once here at setup, never re-swept per query.
    # round 10: the same store also carries a persisted BLOOM index on
    # l_orderkey (built once at init, off the clock) so the equality
    # probe entry measures pure index-read + survivor-scan cost.
    _zsel_store = os.path.join(_store, "zsel")
    if need("zorder_store_select", "zorder_store_lookup"):
        LW.zorder_store_init(li, [F.col("l_orderkey").cast("int"),
                                  F.col("l_partkey").cast("int")],
                             _zsel_store, stat_cols=["l_orderkey"],
                             bloom_cols=["l_orderkey"],
                             elem="int32", num_files=32)

    def q_zorder_store_select(_):
        hits, _st = LW.zorder_store_select(
            spark, _zsel_store, {"l_orderkey": (_mlo, _mhi)})
        _noop(hits)

    def q_zorder_store_lookup(_):
        hits, _st = LW.zorder_store_lookup(
            spark, _zsel_store, "l_orderkey", _mlo)
        _noop(hits)

    def q_substring_dedup(_):
        _noop(LD.substring_dup_spans(docs, k=8))

    def q_hybrid_rrf(_):
        from lindel_spark import retrieval as LR
        from lindel_spark import similarity as _LS
        from pyspark.sql import Window as _W
        toks = LT.tokens(LT.normalize_text(F.col("text")))
        qdf = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("query_id"),
            F.array_join(F.slice(toks, 1, 5), " ").alias("query"))
        bm = LR.bm25_topk(docs, qdf, k=10, rank_round=4) \
            .select("query_id", "doc_id", "rank")
        qe = F.broadcast(emb.filter(F.col("vec_id") % 97 == 0).select(
            F.col("vec_id").cast("long").alias("query_id"),
            F.col("embedding").alias("__qv")))
        from lindel_spark.util import ensure_parallelism as _ep2
        # the corpus side is one parquet split at sf0.1, so the
        # interpreted cosine fold below otherwise runs single-task
        # (guide §2.5 input layout); values unchanged
        ce = _ep2(emb).select(F.col("vec_id").cast("long").alias("doc_id"),
                              F.col("embedding").alias("__cv"))
        sc = (qe.crossJoin(ce)
              .filter(F.col("query_id") != F.col("doc_id"))
              .select("query_id", "doc_id",
                      _LS.cosine_similarity(F.col("__qv"),
                                            F.col("__cv")).alias("cos")))
        wq = _W.partitionBy("query_id").orderBy(
            F.round(F.col("cos"), 9).desc(), F.col("doc_id").asc())
        ann = (sc.withColumn("rank", F.row_number().over(wq))
               .filter(F.col("rank") <= 10)
               .select("query_id", "doc_id", "rank"))
        _noop(LR.reciprocal_rank_fusion([bm, ann], k=5))

    def q_record_linkage(_):
        from lindel_spark.linkage import LinkField, record_linkage
        c = spark.read.parquet(_cust_path).select(
            F.col("c_custkey").cast("long").alias("c_custkey"),
            "c_name", "c_nationkey", "c_mktsegment", "c_acctbal",
            F.floor(F.col("c_acctbal") / 1000).cast("long")
            .alias("balb"))
        _noop(record_linkage(
            c, "c_custkey",
            ["c_nationkey", "c_mktsegment", "balb"],
            [LinkField("c_name", "levenshtein", 0.6),
             LinkField("c_acctbal", "numeric", 0.4, 500.0)],
            threshold=0.9))

    # --- round-11 entries (first measurements become anchors) ------
    def q_bpe_train(_):
        # 8 merges over the full docs corpus: per iteration one pair
        # aggregate + one bounded argmax + a map-only replace
        _noop(LT.bpe_train(docs, num_merges=8))

    _bpe_merges = [("e", "s"), ("es", "t"), ("t", "h"), ("th", "e"),
                   ("i", "n"), ("a", "n"), ("o", "n"), ("e", "r")]

    def q_bpe_encode(_):
        # steady-state tokenization under a pretrained merge table:
        # one map-only expression chain over the corpus
        _noop(LT.bpe_encode(docs, _bpe_merges).select(
            "doc_id", "n_bpe_tokens"))

    def q_kll_quantiles(_):
        from lindel_spark import sketch as SK
        sk = SK.kll_sketch(li, "l_extendedprice",
                           ["l_orderkey", "l_linenumber"])
        _noop(SK.kll_quantiles(sk, [0.25, 0.5, 0.75, 0.9, 0.99]))

    _bm25_store_dir = os.path.join(_store, "bm25_idx")
    if need("bm25_store_topk"):
        from lindel_spark import retrieval as _LRS
        _LRS.bm25_index_init(docs, _bm25_store_dir)

    def q_bm25_store(_):
        # steady-state store-served BM25: postings+df+stats persisted
        # at setup (off the clock), queries pay only the filtered
        # reads + scoring — the production shape after index build
        from lindel_spark import retrieval as LR
        toks = LT.tokens(LT.normalize_text(F.col("text")))
        qd = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("query_id"),
            F.array_join(F.slice(toks, 1, 5), " ").alias("query"))
        _noop(LR.bm25_topk_store(spark, _bm25_store_dir, qd, k=10))

    def q_triangles(_):
        from lindel_spark.graph import triangle_count
        a = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").cast("long").alias("src"))
        b = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").cast("long").alias("dst"))
        edges = (a.join(b, "ok")
                 .filter(F.col("src") < F.col("dst"))
                 .select("src", "dst").distinct())
        _noop(triangle_count(edges))

    def q_cc_star(_):
        from lindel_spark.graph import connected_components
        pairs = LD.simhash_near_dup_pairs(docs)
        _noop(connected_components(pairs, src="id_a", dst="id_b"))

    def q_label_propagation(_):
        # nprobe=4/16: the realistic ANN operating point (the
        # registry query pins the exact all-probe path; here the
        # price of exactness would be |probes| x |seeds| scoring)
        from lindel_spark.similarity import propagate_labels
        seeds = emb.filter(F.col("vec_id") % 2 == 0)
        probes = emb.filter(F.col("vec_id") % 2 == 1)
        _noop(propagate_labels(seeds, probes, k=5, n_centroids=16,
                               nprobe=4))

    scan_shaped += [
        ("manifest_pruned_scan", q_manifest_pruned, n_li),
        ("manifest_full_scan", q_manifest_full, n_li),
        ("zorder_store_select", q_zorder_store_select, n_li),
        ("zorder_store_lookup", q_zorder_store_lookup, n_li),
        ("substring_dedup", q_substring_dedup, n_docs),
        ("hybrid_rrf_topk", q_hybrid_rrf, n_docs),
        ("record_linkage", q_record_linkage, -1),
        ("label_propagation", q_label_propagation, n_emb),
        ("bpe_train_8", q_bpe_train, n_docs),
        ("bpe_encode", q_bpe_encode, n_docs),
        ("kll_quantiles", q_kll_quantiles, n_li),
        ("bm25_store_topk", q_bm25_store, n_docs),
        ("triangle_counts", q_triangles, n_li),
        ("cc_star_simhash", q_cc_star, n_docs),
    ]

    def q_trigram_backoff(_):
        from lindel_spark.retrieval import trigram_backoff_logprob
        model = docs.filter(F.col("doc_id") % 2 == 0)
        targ = docs.filter(F.col("doc_id") % 2 == 1)
        _noop(trigram_backoff_logprob(model, targ))

    def q_bfs_hops(_):
        from lindel_spark.graph import bfs_distances
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
        _noop(bfs_distances(edges, srcs, max_hops=2))

    def q_frequent_triples(_):
        from lindel_spark.rules import frequent_triples
        part = spark.read.parquet(os.path.join(SF_DIR, "part.parquet"))
        baskets = (li.join(part, li.l_partkey == part.p_partkey)
                   .select(F.col("l_orderkey").alias("basket"),
                           F.col("p_brand").alias("item")))
        _noop(frequent_triples(baskets, "basket", "item",
                               max(2, int(60 * _sf() / 0.01))))

    def q_random_projection(_):
        from lindel_spark.similarity import random_project
        _noop(random_project(emb, "embedding", in_dim=64, out_dim=8)
              .select("vec_id", "projected"))

    def q_drift_report(_):
        from lindel_spark.profile import distribution_drift
        from lindel_spark.sources import load_events
        ev = load_events(spark, SF_DIR)
        ref = ev.filter(F.col("event_id") % 2 == 0)
        cur = ev.filter(F.col("event_id") % 2 == 1)
        _noop(distribution_drift(ref, cur, ["value", "user_id"],
                                 bins=10))

    def q_equidepth(_):
        from lindel_spark.profile import equidepth_histogram
        _noop(equidepth_histogram(li, "l_extendedprice", n_bins=16))

    scan_shaped += [
        ("trigram_backoff_lm", q_trigram_backoff, n_docs),
        ("bfs_hops_2", q_bfs_hops, n_li),
        ("frequent_triples", q_frequent_triples, n_li),
        ("random_projection", q_random_projection, n_emb),
        ("drift_report", q_drift_report, -1),
        ("equidepth_histogram", q_equidepth, n_li),
    ]

    def q_textrank(_):
        from lindel_spark.text import textrank_keywords
        _noop(textrank_keywords(docs, "text", window=2, iterations=5,
                                top_n=20))

    def q_pca_power(_):
        from lindel_spark.similarity import power_iteration_pca
        _noop(power_iteration_pca(emb, "embedding", iters=8))

    def q_ngram_novelty(_):
        from lindel_spark.text import ngram_novelty
        tgt = docs.filter(F.col("doc_id") % 2 == 1)
        ref = docs.filter(F.col("doc_id") % 2 == 0)
        _noop(ngram_novelty(tgt, ref, n=3))

    def q_hll_distinct(_):
        from lindel_spark.sketch import hll_estimate, hll_sketch
        _noop(hll_estimate(
            hll_sketch(li, ["l_returnflag"], "l_partkey", p=9), p=9))

    def q_acf_lags(_):
        from lindel_spark.sources import load_events
        from lindel_spark.timeseries import acf
        ev = load_events(spark, SF_DIR)
        _noop(acf(ev, ["event_type"], "ts", "value", "event_id",
                  lags=[1, 2, 8]))

    scan_shaped += [
        ("textrank_keywords", q_textrank, n_docs),
        ("pca_power_8", q_pca_power, n_emb),
        ("ngram_novelty", q_ngram_novelty, n_docs),
        ("hll_distinct", q_hll_distinct, n_li),
        ("acf_lags", q_acf_lags, -1),
    ]

    # round-12 operators
    def q_kcore(_):
        from lindel_spark.graph import kcore
        a = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").cast("long").alias("src"))
        b = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").cast("long").alias("dst"))
        edges = (a.join(b, "ok")
                 .filter(F.col("src") < F.col("dst"))
                 .select("src", "dst").distinct())
        # endpoint multiset via ONE explode (round 16): the
        # union-of-two-selects evaluated the co-purchase self-join
        # once per branch — identical degree table, identical k
        # (verified k=83 both forms at sf0.1)
        deg = (edges.select(F.explode(F.array("src", "dst")).alias("n"))
               .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
        k = int(deg.agg(
            F.expr("floor(percentile(d, 0.5) * 0.7)")).first()[0])
        _noop(kcore(edges, k=k, rounds=4))

    def q_langid_trained(_):
        from lindel_spark.text import LANG_SEEDS, langid_train, \
            trained_language_id
        seeds = spark.createDataFrame(
            [(c, s) for c, ss in sorted(LANG_SEEDS.items()) for s in ss],
            "lang string, text string")
        model = langid_train(seeds)
        _noop(trained_language_id(model, docs))

    if need("knn_opq_refined"):
        _opq_R = LS.opq_rotation(emb, m=8)
        _opq_books = LS.train_pq(emb, m=8, ks=256, rotation=_opq_R)
        LS.pq_encode(emb, _opq_books, rotation=_opq_R) \
            .write.mode("overwrite").parquet(
                os.path.join(_store, "opq_codes"))
        _opq_codes = spark.read.parquet(os.path.join(_store, "opq_codes"))

    def q_knn_opq_refined(_):
        # rotated ADC scan over stored codes + exact refine — the
        # same production shape as knn_pq_refined, one rotation away
        queries_df = emb.filter(F.col("vec_id") % 50 == 0)
        _noop(LS.pq_knn(_opq_codes, queries_df, _opq_books, k=10,
                        rotation=_opq_R, refine_with=emb, refine=8))

    scan_shaped += [
        ("kcore_copurchase", q_kcore, n_li),
        ("langid_trained", q_langid_trained, n_docs),
        ("knn_opq_refined", q_knn_opq_refined, n_emb),
    ]

    # round-12 session-2 operators
    def q_link_prediction(_):
        from lindel_spark.graph import link_prediction
        a = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").cast("long").alias("src"))
        b = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").cast("long").alias("dst"))
        edges = (a.join(b, "ok")
                 .filter(F.col("src") < F.col("dst"))
                 .select("src", "dst").distinct())
        _noop(link_prediction(edges, max_middle_degree=64))

    def q_tfidf_cosine(_):
        from lindel_spark.retrieval import tfidf_cosine_pairs
        _noop(tfidf_cosine_pairs(docs, threshold=0.5, max_df=100))

    def q_spearman(_):
        from lindel_spark.profile import spearman_corr
        pairs = li.select(
            F.col("l_extendedprice").alias("x"),
            (F.col("l_extendedprice") * F.col("l_discount")
             + F.col("l_quantity")).alias("y"))
        _noop(spearman_corr(pairs, "x", "y"))

    def q_kaplan_meier(_):
        from lindel_spark.sources import load_events
        from lindel_spark.timeseries import kaplan_meier
        ev = load_events(spark, SF_DIR).filter(
            F.col("user_id").isNotNull())
        spans = (ev.groupBy("user_id")
                 .agg(F.floor((F.unix_micros(F.max("ts"))
                               - F.unix_micros(F.min("ts")))
                              / F.lit(86400000000.0)).alias("t"),
                      F.max(F.when(F.col("event_type") == "purchase",
                                   1).otherwise(0)).alias("e")))
        _noop(kaplan_meier(spans, "t", "e"))

    def q_lof(_):
        from lindel_spark.similarity import lof
        _noop(lof(emb, k=10))

    def q_dbscan(_):
        from lindel_spark.clustering import dbscan_2d
        sup = spark.read.parquet(os.path.join(SF_DIR,
                                              "supplier.parquet"))
        pts = sup.select(
            F.col("s_suppkey").cast("long").alias("id"),
            ((F.col("s_suppkey") % 17) * 10).cast("double").alias("x"),
            (((F.col("s_suppkey") / 17).cast("long") % 13) * 10)
            .cast("double").alias("y"))
        _noop(dbscan_2d(pts, "id", "x", "y", eps=0.5, min_pts=3))

    scan_shaped += [
        ("link_prediction", q_link_prediction, n_li),
        ("tfidf_cosine_pairs", q_tfidf_cosine, n_docs),
        ("spearman_corr", q_spearman, n_li),
        ("kaplan_meier", q_kaplan_meier, -1),
        ("lof_embeddings", q_lof, n_emb),
        ("dbscan_suppliers", q_dbscan, -1),
    ]

    # round-13 entries (first measurement this round becomes the
    # anchor — the bench_anchors.py protocol)
    def _copurchase_weighted():
        a = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").cast("long").alias("src"))
        b = li.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_partkey").cast("long").alias("dst"))
        return (a.join(b, "ok")
                .filter(F.col("src") < F.col("dst"))
                .groupBy("src", "dst")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .select("src", "dst",
                        (F.lit(1.0) / F.col("cnt")).alias("weight")))

    def q_sssp(_):
        from lindel_spark.graph import sssp_distances
        srcs = (li.filter(F.col("l_partkey") % 50 == 0)
                .select(F.col("l_partkey").cast("long").alias("node"))
                .distinct())
        _noop(sssp_distances(_copurchase_weighted(), srcs, rounds=3))

    def q_holt_winters(_):
        from lindel_spark.sources import load_events
        from lindel_spark.timeseries import holt_winters_forecast
        ev = load_events(spark, SF_DIR)
        hourly = (ev.groupBy("event_type",
                             F.date_trunc("hour", "ts").alias("hour"))
                  .agg(F.sum(F.col("value").cast("double")).alias("v")))
        _noop(holt_winters_forecast(hourly, ["event_type"], "hour",
                                    "v", "hour", period=24, window=48))

    def q_bootstrap_ci(_):
        from lindel_spark.profile import poisson_bootstrap_ci
        from lindel_spark.sources import load_events
        ev = load_events(spark, SF_DIR)
        _noop(poisson_bootstrap_ci(ev, "value", "event_id",
                                   keys=["event_type"],
                                   n_replicas=64))

    def q_knn_graph_mutual(_):
        from lindel_spark.similarity import knn_graph
        _noop(knn_graph(emb, k=10, centroids=_ivf_auto_centroids,
                        nprobe=_auto_np, mutual=True))

    def q_ppr(_):
        from pyspark.sql import Window as _W

        from lindel_spark.graph import personalized_pagerank
        ev = _ev_long()
        w = _W.partitionBy("user_id").orderBy("tus", "event_id")
        trans = (ev.withColumn("prev", F.lag("event_type").over(w))
                 .filter(F.col("prev").isNotNull())
                 .groupBy(F.col("prev").alias("src"),
                          F.col("event_type").alias("dst"))
                 .agg(F.count(F.lit(1)).cast("double").alias("w")))
        seeds = spark.createDataFrame([("purchase",)], "node string")
        _noop(personalized_pagerank(trans, seeds, iterations=5,
                                    weight="w"))

    scan_shaped += [
        ("sssp_copurchase", q_sssp, n_li),
        ("holt_winters_hourly", q_holt_winters, -1),
        ("bootstrap_ci_events", q_bootstrap_ci, -1),
        ("knn_graph_mutual", q_knn_graph_mutual, n_emb),
        ("ppr_transitions", q_ppr, -1),
    ]

    # round-14 entries (first measurement this round becomes the
    # anchor)
    def q_betweenness(_):
        from lindel_spark.graph import betweenness_centrality
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
        _noop(betweenness_centrality(edges, srcs, max_depth=2))

    def q_hw_horizon(_):
        from lindel_spark.sources import load_events
        from lindel_spark.timeseries import holt_winters_horizon
        ev = load_events(spark, SF_DIR)
        hourly = (ev.groupBy("event_type",
                             F.date_trunc("hour", "ts").alias("hour"))
                  .agg(F.sum(F.col("value").cast("double")).alias("v")))
        _noop(holt_winters_horizon(hourly, ["event_type"], "hour",
                                   "v", "hour", period=24, window=48,
                                   horizon=36))

    def q_graph_knn_search(_):
        from lindel_spark.similarity import (graph_knn_search,
                                             knn_graph,
                                             train_centroids)
        cents = train_centroids(emb, 16)
        g = knn_graph(emb, k=16, centroids=cents)
        qs = emb.filter(F.col("vec_id") % 50 == 0)
        _noop(graph_knn_search(g, emb, qs, k=10, hops=3,
                               beam=max(48, n_emb // 200),
                               centroids=cents, seed_nprobe=2))

    def q_linear_probe(_):
        from lindel_spark.features import linear_fit
        from lindel_spark.sources import load_events
        ev = load_events(spark, SF_DIR)
        feats = ev.filter(F.col("ts").isNotNull()).select(
            F.col("value").alias("y"),
            F.hour("ts").cast("double").alias("hour"),
            (F.col("user_id") % 7).cast("double").alias("u7"))
        _noop(linear_fit(feats, "y", ["hour", "u7"]))

    def q_friedman(_):
        from lindel_spark.profile import friedman_test
        from lindel_spark.sources import load_events
        ev = load_events(spark, SF_DIR)
        m = (ev.filter(F.col("user_id").isNotNull()
                       & F.col("event_type").isNotNull())
             .groupBy(F.col("user_id").alias("b"),
                      F.col("event_type").alias("t"))
             .agg(F.count(F.lit(1)).cast("double").alias("v")))
        _noop(friedman_test(m, "b", "t", "v"))

    scan_shaped += [
        ("betweenness_copurchase", q_betweenness, n_li),
        ("hw_horizon_hourly", q_hw_horizon, -1),
        ("graph_knn_search", q_graph_knn_search, n_emb),
        ("linear_probe_events", q_linear_probe, -1),
        ("friedman_events", q_friedman, -1),
    ]

    # --- round-15 entries ------------------------------------------

    def q_kmeans_embeddings(_):
        from lindel_spark.clustering import kmeans_lloyd
        _noop(kmeans_lloyd(emb, k=8, rounds=3))

    def q_logistic_probe(_):
        from lindel_spark.features import logistic_fit
        from lindel_spark.sources import load_events
        ev = load_events(spark, SF_DIR)
        feats = (ev.filter(F.col("value").isNotNull()
                           & F.col("ts").isNotNull()
                           & F.col("user_id").isNotNull())
                 .select((F.col("value") > 34).cast("double")
                         .alias("y"),
                         F.hour("ts").cast("double").alias("hour"),
                         (F.col("user_id") % 7).cast("double")
                         .alias("u7")))
        _noop(logistic_fit(feats, "y", ["hour", "u7"], rounds=3))

    def q_isotonic_events(_):
        from lindel_spark.evaluation import isotonic_calibrate
        from lindel_spark.sources import load_events
        ev = load_events(spark, SF_DIR)
        pairs = (ev.filter(F.col("value").isNotNull())
                 .select((F.col("value") / 500.0).alias("s"),
                         ((F.col("value") * 10) % 7 < 3)
                         .cast("long").alias("y")))
        _noop(isotonic_calibrate(pairs, "s", "y", n_bins=64))

    def q_ar2_events(_):
        from lindel_spark.sources import load_events
        from lindel_spark.timeseries import ar2_forecast
        ev = load_events(spark, SF_DIR)
        _noop(ar2_forecast(ev, ["event_type"], "ts", "value",
                           "event_id", horizon=3))

    def q_ktruss_copurchase(_):
        from lindel_spark.graph import ktruss, project_bipartite
        edges = project_bipartite(li, "l_orderkey", "l_partkey")
        _noop(ktruss(edges, k=14, rounds=2))

    def q_mmr_rerank(_):
        from lindel_spark.similarity import (brute_force_knn,
                                             mmr_rerank)
        queries_df = emb.filter(F.col("vec_id") % 50 == 0)
        pool = brute_force_knn(emb, queries_df, k=20)
        _noop(mmr_rerank(pool, emb, k=5, lam=0.7))

    scan_shaped += [
        ("kmeans_embeddings", q_kmeans_embeddings, n_emb),
        ("logistic_probe_events", q_logistic_probe, -1),
        ("isotonic_events", q_isotonic_events, -1),
        ("ar2_events", q_ar2_events, -1),
        ("ktruss_copurchase", q_ktruss_copurchase, n_li),
        ("mmr_rerank", q_mmr_rerank, n_emb),
    ]

    def q_zorder_store_cycle(tmp):
        import shutil as _sh
        store = os.path.join(tmp, "zstore")
        _sh.rmtree(store, ignore_errors=True)
        cols = [F.col("l_orderkey").cast("int"),
                F.col("l_partkey").cast("int")]
        LW.zorder_store_init(li.filter("l_orderkey % 5 != 0"), cols,
                             store, elem="int32", num_files=8)
        LW.zorder_store_append(li.filter("l_orderkey % 5 = 0"), store)
        LW.zorder_store_maintain(spark, store, cols, tail_ratio=0.01,
                                 elem="int32", num_files=8)

    write_shaped = [
        ("zorder_write_i32x2", q_zorder_write, n_li),
        ("plain_write", q_plain_write, n_li),
        ("zorder_store_cycle", q_zorder_store_cycle, n_li),
    ]
    if os.path.exists(_orders_path) and os.path.exists(_cust_path):
        write_shaped.append(
            ("bucketed_join_cycle", q_bucketed_join_cycle, -1))

    entries = scan_shaped + write_shaped
    if fast:
        # --fast tier (round 12): skip the NOISE_BAND scheduling-floor
        # entries (~33 s of the ~109 s full run at r11) so iteration
        # loops get tighter reps; the full tier stays the artifact of
        # record (BASELINE.md round-12 addendum)
        entries = [(n, f, r) for n, f, r in entries
                   if n not in NOISE_BAND]
    if only is not None:
        unknown = only - {n for n, _f, _r in entries}
        if unknown:
            raise SystemExit(f"bench --only: unknown entries {unknown}")
        entries = [(n, f, r) for n, f, r in entries if n in only]

    queries: dict[str, float] = {}
    rows: dict[str, int] = {}
    reps: dict[str, list] = {}
    errors: dict[str, str] = {}
    tmp = tempfile.mkdtemp(prefix="lindel_bench_")

    def _time_entry(fn) -> list[float]:
        spark.catalog.clearCache()
        fn(tmp)  # warmup: codegen compile + JIT off the clock
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(tmp)
            times.append(time.perf_counter() - t0)
        return times

    # machine-state canary: one fixed cheap entry timed before and
    # after the suite on identical code — post/pre tells a uniformly
    # drifting host apart from any per-entry regression
    canary_entry = "morton_native_i32x2"
    canary = {"entry": canary_entry}
    try:
        canary["pre"] = round(
            statistics.median(_time_entry(q_morton_native_i32)), 4)
    except Exception as ex:
        print(f"BENCH CANARY WARNING: {ex}", file=sys.stderr)
    try:
        for name, fn, n in entries:
            # Isolate entries: operators that persist intermediates
            # (dedup signatures, winnow fps) must not carry cached
            # blocks into the next entry's timings. Fault-isolate too:
            # one broken query must never zero out the whole run's
            # numbers (round-5 incident: an AnalysisException in one
            # warmup produced an empty BENCH artifact).
            try:
                times = _time_entry(fn)
            except Exception as ex:
                errors[name] = f"{type(ex).__name__}: {ex}"[:300]
                print(f"BENCH ERROR {name}: {errors[name]}",
                      file=sys.stderr)
                continue
            queries[name] = round(statistics.median(times), 4)
            rows[name] = n
            # per-rep times alongside the median (round 10): host
            # drift vs regression is adjudicable from the artifact
            # alone — a wide rep spread on unchanged code is drift, a
            # tight-but-slower spread is a real regression
            reps[name] = [round(t, 4) for t in times]
        try:
            canary["post"] = round(
                statistics.median(_time_entry(q_morton_native_i32)), 4)
            if canary.get("pre"):
                canary["post_pre_ratio"] = round(
                    canary["post"] / canary["pre"], 3)
        except Exception as ex:
            print(f"BENCH CANARY WARNING: {ex}", file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(_store, ignore_errors=True)

    if only is not None:
        # subprocess face of the adjudicator: one line, no artifact
        # write, no recursive over-bar pass
        print("\n" + json.dumps({
            "only": sorted(only), "queries": queries, "reps": reps,
            "canary": canary, "sf": _sf(),
            **({"errors": errors} if errors else {}),
        }), flush=True)
        return

    # --- self-adjudication pass (round 11; trigger lowered round 14)
    # any anchored entry over the RERUN bar (1.5x — VERDICT r13 item 2:
    # the 1.5-1.95x drift tail needed manual prose every round) is
    # re-measured in a FRESH subprocess (own JVM, entry-scoped setup);
    # the artifact records both numbers and a mechanical verdict, so a
    # drifted session can no longer flag unchanged code.  Verdict
    # ladder vs the 2x GRADING contract (OVER_BAR_X, unchanged):
    #   isolated <= 1.5x -> "drift" (suite/host context, in band)
    #   1.5x < isolated <= 2x -> "elevated_in_band" (watch, in contract)
    #   isolated > 2x -> "regression"
    over_bar_reruns: dict[str, dict] = {}
    for name, sec in queries.items():
        anchor = ANCHORS.get(name)
        if not anchor or sec <= RERUN_BAR_X * anchor:
            continue
        rec = {"anchor": anchor, "in_suite": sec,
               "in_suite_ratio": round(sec / anchor, 3)}
        iso = _rerun_isolated([name])
        iso_sec = iso.get("queries", {}).get(name)
        if iso_sec is None:
            rec["verdict"] = "rerun_failed"
        else:
            rec["isolated"] = iso_sec
            rec["isolated_ratio"] = round(iso_sec / anchor, 3)
            rec["isolated_reps"] = iso.get("reps", {}).get(name)
            cpre = iso.get("canary", {}).get("pre")
            rec["isolated_canary_pre"] = cpre
            # canary-normalize (round 15): the rerun subprocess's own
            # canary measures THIS host vs the anchor-protocol canary
            # anchor; dividing out measured host slowness (clamped >=1
            # — a fast host never inflates) keeps a 2x-slower rerun
            # host from stamping unchanged code "regression" (the r14
            # linear_probe_events false flag). Raw ratio stays above.
            hf = host_factor(cpre)
            rec["host_factor"] = round(hf, 3)
            norm = iso_sec / anchor / hf
            rec["canary_norm_ratio"] = round(norm, 3)
            if name in NOISE_BAND:
                rec["verdict"] = "noise_band"
            elif norm <= RERUN_BAR_X:
                rec["verdict"] = "drift"
            elif norm <= OVER_BAR_X:
                rec["verdict"] = "elevated_in_band"
            else:
                rec["verdict"] = "regression"
        over_bar_reruns[name] = rec

    out = {
        "metric": "bench_total",
        "value": round(sum(queries.values()), 4),
        "unit": "sec",
        "queries": queries,
        "sf": _sf(),
        "rows": rows,
        "reps": reps,
        "canary": canary,
        "over_bar_reruns": over_bar_reruns,
        "manifest": _mstats,
        "ivf_store": {
            "n_centroids": _auto_nc,
            "nprobe": _auto_np,
            "total_bytes": _store_total_b,
            "probed_bytes": _probed_b,
            "scan_fraction": round(_probed_b / max(_store_total_b, 1), 4),
        },
    }
    if errors:
        out["errors"] = errors
    payload = json.dumps(out)
    # Persist the FULL artifact atomically to a stable in-repo path —
    # the committed evidence copy.
    result_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_LOCAL_LAST.json"))
    tmp_path = result_path + ".tmp"
    with open(tmp_path, "w") as fh:
        fh.write(payload + "\n")
    os.replace(tmp_path, result_path)
    # The driver keeps only a fixed-size TAIL of stdout and parses the
    # final line; the full payload overflowed that window in rounds
    # 7, 8 and again 14 ("parsed": null — the line's HEAD was
    # clipped) as entries accumulated. Round 16: the line carries
    # ONLY the graded fields (metric/value/queries/sf) with per-query
    # seconds rounded to 3 decimals (~2.5 kB at 91 entries, with
    # headroom for 120+) plus two adjudication scalars: the canary's
    # post/pre ratio (host drift) and the over-bar rerun count; the
    # detail (canary, over_bar_reruns, reps, rows, manifest,
    # ivf_store, errors) lives in the committed artifact above.
    slim = {
        "metric": out["metric"], "value": out["value"],
        "unit": out["unit"],
        "queries": {n: round(v, 3) for n, v in out["queries"].items()},
        "sf": out["sf"],
        "canary_ratio": canary.get("post_pre_ratio"),
        "n_over_bar": len(over_bar_reruns),
    }
    if errors:
        slim["n_errors"] = len(errors)
    line = json.dumps(slim)
    if len(line) > SLIM_LINE_WARN_BYTES:
        print(f"BENCH WARNING: stdout result line is {len(line)} bytes "
              f"(> {SLIM_LINE_WARN_BYTES}); a tail-window parse may "
              f"clip it", file=sys.stderr)
    sys.stdout.flush()
    # leading newline: if the capture merges stderr, a dangling
    # carriage-return progress fragment would otherwise share the
    # JSON's line and break a last-line parse
    print("\n" + line, flush=True)


if __name__ == "__main__":
    _only = None
    _fast = False
    argv = sys.argv[1:]
    if "--fast" in argv:
        _fast = True
        argv = [a for a in argv if a != "--fast"]
    if argv and argv[0] == "--only":
        if len(argv) < 2 or not argv[1]:
            raise SystemExit(
                "usage: bench.py [--fast] [--only entry1,entry2]")
        _only = {s for s in argv[1].split(",") if s}
    main(only=_only, fast=_fast)
