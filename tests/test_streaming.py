"""Structured Streaming tests: streaming results == batch results, and
the z-order foreachBatch sink clusters every micro-batch."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from lindel_spark import streaming as ST


@pytest.fixture(scope="module")
def events(spark):
    from lindel_spark.sources import load_events

    return load_events(spark, "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def stream_src(events, tmp_path_factory):
    """Events split into 2 files so availableNow yields micro-batches."""
    d = str(tmp_path_factory.mktemp("stream_src"))
    events.repartition(2).write.mode("overwrite").parquet(d)
    return d


def _rollup_key(rows):
    return sorted(
        (r.window_start, r.event_type, r.n_events, str(r.sum_value))
        for r in rows
    )


def test_streaming_rollup_matches_batch(spark, events, stream_src,
                                        tmp_path_factory):
    schema = events.schema
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(stream_src))
    rolled = ST.windowed_rollup(src, window="1 hour", watermark="2 hours")
    q = (rolled.select(
            F.unix_timestamp("window_start").alias("window_start"),
            "event_type", "n_events", "sum_value")
         .writeStream.outputMode("complete")
         .format("memory").queryName("rollup_t")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM rollup_t").collect()
    want = (ST.windowed_rollup(events, window="1 hour")
            .select(F.unix_timestamp("window_start").alias("window_start"),
                    "event_type", "n_events", "sum_value").collect())
    assert _rollup_key(got) == _rollup_key(want)


def test_zorder_stream_sink(spark, tmp_path_factory):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    src_dir = str(tmp_path_factory.mktemp("zsrc"))
    li.repartition(2).write.mode("overwrite").parquet(src_dir)
    out = str(tmp_path_factory.mktemp("zout") / "z")
    ckpt = str(tmp_path_factory.mktemp("ckpt"))

    src = (spark.readStream.schema(li.schema)
           .option("maxFilesPerTrigger", "1").parquet(src_dir))
    writer = ST.zorder_stream_writer(
        src,
        [F.col("l_orderkey").cast("int"), F.col("l_partkey").cast("int")],
        out, elem="int32", num_files=2, checkpoint=ckpt,
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(120)

    rb = spark.read.parquet(out)
    assert rb.count() == li.count()
    assert sorted(rb.columns) == sorted(li.columns)  # key column dropped
    # each micro-batch produced clustered files
    assert len(glob.glob(os.path.join(out, "*.parquet"))) >= 2


def test_windowed_rollup_without_user_col(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:10:00", "a", 1.0), ("2024-01-01 00:20:00", "a", 2.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    r = ST.windowed_rollup(df, user_col=None).collect()
    assert len(r) == 1
    assert "approx_users" not in r[0].asDict()
    assert float(r[0].sum_value) == 3.0


def test_first_seen_dedup_matches_batch(spark, events, stream_src):
    """applyInPandasWithState streaming dedup emits exactly the batch
    dropDuplicates (key, fp) set, across micro-batch boundaries."""
    schema = spark.read.parquet(stream_src).schema
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(stream_src))
    # coarse fingerprint with plenty of cross-batch repeats
    with_fp = src.withColumn(
        "fp", (F.col("event_id") % 25).cast("long"))
    deduped = ST.first_seen_dedup(with_fp, key_col="user_id", fp_col="fp")
    q = (deduped.writeStream.outputMode("update")
         .format("memory").queryName("dedup_t")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.user_id, r.fp)
           for r in spark.sql("SELECT * FROM dedup_t").collect()}
    batch = spark.read.parquet(stream_src).withColumn(
        "fp", (F.col("event_id") % 25).cast("long"))
    want = {(r.user_id, r.fp)
            for r in batch.dropDuplicates(["user_id", "fp"]).collect()}
    assert got == want and len(got) > 0


def test_first_seen_dedup_state_expiry(spark, tmp_path_factory):
    """With state_ttl set, a key idle past the TTL has its state
    dropped (ProcessingTimeTimeout) — the same fingerprint re-emits on
    its next appearance instead of being suppressed forever."""
    import time

    src_dir = str(tmp_path_factory.mktemp("ttl_src"))
    schema = "user_id long, fp long"

    def write_rows(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src_dir)

    def poll(pred, timeout_s=60):
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            rows = [(r.user_id, r.fp)
                    for r in spark.sql("SELECT * FROM ttl_t").collect()]
            if pred(rows):
                return rows
            time.sleep(0.5)
        raise AssertionError(f"poll timed out; last rows={rows}")

    write_rows([(1, 10)])
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(src_dir))
    deduped = ST.first_seen_dedup(
        src, key_col="user_id", fp_col="fp", state_ttl="2 seconds")
    q = (deduped.writeStream.outputMode("update")
         .format("memory").queryName("ttl_t")
         .trigger(processingTime="500 milliseconds").start())
    try:
        poll(lambda rows: (1, 10) in rows)
        time.sleep(3)                      # idle past the 2 s TTL
        write_rows([(2, 20)])              # batch that sweeps expired keys
        poll(lambda rows: (2, 20) in rows)
        write_rows([(1, 10)])              # state gone -> re-emits
        got = poll(lambda rows: rows.count((1, 10)) == 2)
        assert got.count((2, 20)) == 1
    finally:
        q.stop()


def test_first_seen_dedup_no_ttl_suppresses_forever(spark, tmp_path_factory):
    """Without state_ttl the same fingerprint stays suppressed across
    micro-batches (lifetime state) — the bounded-keyspace default."""
    src_dir = str(tmp_path_factory.mktemp("nottl_src"))
    schema = "user_id long, fp long"
    spark.createDataFrame([(1, 10)], schema).coalesce(1) \
        .write.mode("append").parquet(src_dir)
    spark.createDataFrame([(1, 10), (2, 20)], schema).coalesce(1) \
        .write.mode("append").parquet(src_dir)
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(src_dir))
    q = (ST.first_seen_dedup(src, key_col="user_id", fp_col="fp")
         .writeStream.outputMode("update")
         .format("memory").queryName("nottl_t")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = [(r.user_id, r.fp)
            for r in spark.sql("SELECT * FROM nottl_t").collect()]
    assert rows.count((1, 10)) == 1 and rows.count((2, 20)) == 1


def test_interval_join_stream_matches_batch(spark, events, stream_src):
    """Watermarked stream-stream interval join emits exactly the batch
    pairs (clicks x purchases within the 30-minute lookback)."""
    schema = events.schema

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), "user_id", "ts")
        purch = df.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.col("value").alias("pval"))
        return clicks, purch

    def src():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1").parquet(stream_src))

    clicks_s = sides(src())[0]
    purch_s = sides(src())[1]
    joined = ST.interval_join(
        clicks_s, purch_s, on="user_id", lookback="30 minutes",
        left_watermark="2 hours", right_watermark="2 hours")
    q = (joined.select("click_id", "user_id",
                       F.unix_micros("ts").alias("cus"),
                       F.unix_micros("ts_r").alias("pus"), "pval")
         .writeStream.outputMode("append")
         .format("memory").queryName("ij_t")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.sql("SELECT * FROM ij_t").collect()}

    bc, bp = sides(spark.read.parquet(stream_src))
    want = {tuple(r) for r in ST.interval_join(
        bc, bp, on="user_id", lookback="30 minutes")
        .select("click_id", "user_id",
                F.unix_micros("ts").alias("cus"),
                F.unix_micros("ts_r").alias("pus"), "pval").collect()}
    assert got == want and len(want) > 0


def test_gapfill_rollup_semantics(spark):
    """Missing buckets appear zero-filled with LOCF values; present
    buckets keep their own sums."""
    df = spark.createDataFrame(
        [("2024-01-01 00:10:00", "a", 1.0),
         ("2024-01-01 00:20:00", "a", 2.0),
         # hour 01 and 02 empty for "a"
         ("2024-01-01 03:40:00", "a", 5.0),
         ("2024-01-01 02:00:00", "b", 7.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = {(r.event_type, str(r.bucket)): r
            for r in ST.gapfill_rollup(df, window="1 hour").collect()}
    a0 = rows[("a", "2024-01-01 00:00:00")]
    a1 = rows[("a", "2024-01-01 01:00:00")]
    a2 = rows[("a", "2024-01-01 02:00:00")]
    a3 = rows[("a", "2024-01-01 03:00:00")]
    assert (a0.n_events, a0.gap_filled, a0.sum_value_locf) == (2, False, 3.0)
    assert (a1.n_events, a1.gap_filled, a1.sum_value_locf) == (0, True, 3.0)
    assert (a2.n_events, a2.gap_filled, a2.sum_value_locf) == (0, True, 3.0)
    assert (a3.n_events, a3.gap_filled, a3.sum_value_locf) == (1, False, 5.0)
    # key "b" spans a single bucket: no fill rows, own value
    assert len([k for k in rows if k[0] == "b"]) == 1
    b2 = rows[("b", "2024-01-01 02:00:00")]
    assert (b2.n_events, b2.gap_filled, b2.sum_value_locf) == (1, False, 7.0)


def test_gapfill_rollup_span_guard(spark):
    """A key whose span/grain exceeds max_buckets fails fast with an
    actionable message instead of building a multi-million-entry map."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", "wide", 1.0),
         ("2024-01-01 02:00:00", "wide", 2.0),   # 121 one-minute buckets
         ("2024-01-01 00:30:00", "ok", 3.0)],    # 1 bucket — never trips
        "ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    with pytest.raises(SparkRuntimeException,
                       match="gapfill_rollup.*wide.*max_buckets"):
        ST.gapfill_rollup(df, window="1 minute", max_buckets=50).collect()
    # same data is fine at a coarser grain or a raised cap
    assert ST.gapfill_rollup(df, window="1 hour").count() == 4
    got = ST.gapfill_rollup(df, window="1 minute", max_buckets=121)
    assert got.filter(F.col("event_type") == "wide").count() == 121


def test_ivf_stream_ingest_matches_batch_store(spark, tmp_path_factory):
    """Streaming IVF ingest: micro-batched appends under the original
    quantizer produce exactly the store a batch build of the full
    corpus would (same (vec_id, cell) set)."""
    import lindel_spark.similarity as LS

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 150)
    new = emb.filter(F.col("vec_id") >= 150)

    store = str(tmp_path_factory.mktemp("ivfst") / "ivf")
    C = LS.ivf_write(old, store, n_centroids=8)

    src_dir = str(tmp_path_factory.mktemp("ivfsrc"))
    new.repartition(3).write.mode("overwrite").parquet(src_dir)
    ckpt = str(tmp_path_factory.mktemp("ivfckpt"))
    src = (spark.readStream.schema(emb.schema)
           .option("maxFilesPerTrigger", "1").parquet(src_dir))
    q = (ST.ivf_stream_ingest(src, store, C, checkpoint=ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.vec_id, r.cell) for r in
           spark.read.parquet(store).select("vec_id", "cell").collect()}
    want = {(r.vec_id, r.c) for r in emb.select(
        "vec_id",
        F.element_at(LS._cell_assign_udf(C, 1)(F.col("embedding")), 1)
        .alias("c")).collect()}
    assert got == want


def test_compact_parquet_reduces_files_losslessly(spark, tmp_path_factory):
    from lindel_spark.write import compact_parquet

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    frag = str(tmp_path_factory.mktemp("frag") / "f")
    li.repartition(32).write.mode("overwrite").parquet(frag)
    dst = str(tmp_path_factory.mktemp("comp") / "c")
    stats = compact_parquet(spark, frag, dst, target_file_mb=64)
    assert stats["files_after"] < stats["files_before"]
    assert stats["rows"] == li.count()
    rb = spark.read.parquet(dst)
    assert rb.count() == li.count()
    a = li.agg(F.sum("l_orderkey"), F.sum("l_partkey")).first()
    b = rb.agg(F.sum("l_orderkey"), F.sum("l_partkey")).first()
    assert tuple(a) == tuple(b)
    # sorted variant clusters for range predicates
    dst2 = str(tmp_path_factory.mktemp("comp2") / "c")
    stats2 = compact_parquet(spark, frag, dst2, target_file_mb=64,
                             sort_cols=["l_orderkey"])
    assert stats2["rows"] == li.count()


def test_sliding_rollup_stream_matches_batch(spark, events, stream_src):
    schema = events.schema
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(stream_src))
    rolled = ST.sliding_rollup(src, window="1 hour", slide="15 minutes",
                               watermark="2 hours")
    q = (rolled.select(
            F.unix_timestamp("window_start").alias("ws"),
            "event_type", "n_events",
            F.col("sum_value").cast("string").alias("sum_value"))
         .writeStream.outputMode("complete")
         .format("memory").queryName("slide_t")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM slide_t").collect())
    want = sorted(tuple(r) for r in ST.sliding_rollup(
        events, window="1 hour", slide="15 minutes").select(
            F.unix_timestamp("window_start").alias("ws"),
            "event_type", "n_events",
            F.col("sum_value").cast("string").alias("sum_value")).collect())
    assert got == want
    # every event appears in exactly window/slide = 4 windows
    n_events = events.count()
    assert sum(r[2] for r in want) == 4 * n_events


def test_incremental_agg_sink_equals_batch_recompute(spark, tmp_path_factory):
    """The streaming materialized view (per-batch state merge, history
    never re-read) converges to exactly the batch aggregate, across
    micro-batch boundaries; the versioned store keeps only the latest
    two versions."""
    import os

    src_dir = str(tmp_path_factory.mktemp("mv_src"))
    store = str(tmp_path_factory.mktemp("mv_store"))
    ckpt = str(tmp_path_factory.mktemp("mv_ckpt"))
    schema = "k long, v double"
    # three files -> three micro-batches with overlapping keys
    for i in range(3):
        spark.createDataFrame(
            [(j % 5, float(i * 100 + j)) for j in range(40)], schema
        ).coalesce(1).write.mode("append").parquet(src_dir)

    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(src_dir))
    q = ST.incremental_agg_sink(
        src, store, ["k"],
        {"cnt": ("count", "*"), "sum_v": ("sum", "v"),
         "mx": ("max", "v")},
        checkpoint=ckpt,
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = {r.k: (r.cnt, round(r.sum_v, 6), r.mx)
           for r in ST.read_agg_store(spark, store).collect()}
    batch = spark.read.parquet(src_dir).groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("sum_v"),
        F.max("v").alias("mx"))
    want = {r.k: (r.cnt, round(r.sum_v, 6), r.mx)
            for r in batch.collect()}
    assert got == want and len(got) == 5
    vdirs = [d for d in os.listdir(store) if d.startswith("v=")]
    assert len(vdirs) <= 2  # pruned to the latest two


def test_incremental_agg_sink_rejects_bad_agg(spark, tmp_path_factory):
    import pytest as _p
    src = (spark.readStream.schema("k long, v double")
           .parquet(str(tmp_path_factory.mktemp("x"))))
    with _p.raises(ValueError, match="unsupported state agg"):
        ST.incremental_agg_sink(src, "/tmp/nope", ["k"],
                                {"m": ("avg", "v")})


def test_read_agg_store_empty_returns_none(spark, tmp_path_factory):
    assert ST.read_agg_store(
        spark, str(tmp_path_factory.mktemp("empty_store"))) is None


def test_stream_static_broadcast_enrichment(spark, tmp_path_factory):
    """Stream-static dimension join: a micro-batched fact stream
    enriched against a static dim — the broadcast-enrichment pattern
    (no stateful join, no watermark needed; the dim re-resolves per
    batch)."""
    src_dir = str(tmp_path_factory.mktemp("enrich_src"))
    schema = "k long, v double"
    for i in range(2):
        spark.createDataFrame(
            [(j % 4, float(j + i * 10)) for j in range(20)], schema
        ).coalesce(1).write.mode("append").parquet(src_dir)
    dim = spark.createDataFrame(
        [(0, "bronze"), (1, "silver"), (2, "gold")],
        "k long, tier string")
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(src_dir))
    enriched = src.join(F.broadcast(dim), "k", "left")
    q = (enriched.writeStream.outputMode("append")
         .format("memory").queryName("enrich_t")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM enrich_t").collect()
    assert len(rows) == 40
    tiers = {r.k: r.tier for r in rows}
    assert tiers[0] == "bronze" and tiers[2] == "gold"
    assert tiers[3] is None  # unmatched keys survive the left join


def test_drop_duplicates_within_watermark(spark, tmp_path_factory):
    """Spark's built-in watermarked dedup (state bounded by the
    watermark, unlike plain dropDuplicates' forever-state) suppresses
    in-window duplicate event ids across micro-batches."""
    import datetime

    src_dir = str(tmp_path_factory.mktemp("wmdd_src"))
    schema = "event_id long, ts timestamp, v double"
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    # duplicates of id 1 land in DIFFERENT files (micro-batches),
    # all within the 10-minute watermark window
    spark.createDataFrame(
        [(1, ts(0), 1.0), (2, ts(5), 2.0)], schema
    ).coalesce(1).write.mode("append").parquet(src_dir)
    spark.createDataFrame(
        [(1, ts(20), 9.0), (3, ts(30), 3.0)], schema
    ).coalesce(1).write.mode("append").parquet(src_dir)

    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(src_dir))
    deduped = (src.withWatermark("ts", "10 minutes")
               .dropDuplicatesWithinWatermark(["event_id"]))
    q = (deduped.writeStream.outputMode("append")
         .format("memory").queryName("wmdd_t")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM wmdd_t").collect()
    ids = sorted(r.event_id for r in rows)
    assert ids == [1, 2, 3]  # the cross-batch duplicate of id 1 dropped
    assert {r.v for r in rows if r.event_id == 1} == {1.0}  # first wins


def test_zorder_store_stream_sink_lossless_and_maintained(
        spark, tmp_path_factory):
    """Streaming ingest into the incremental z-order store: contents
    equal the batch union across micro-batches, and the periodic
    maintenance folds the tail back into a clustered base."""
    import os

    from lindel_spark.write import zorder_store_read

    src_dir = str(tmp_path_factory.mktemp("zs_src"))
    store = str(tmp_path_factory.mktemp("zs_store") / "s")
    ckpt = str(tmp_path_factory.mktemp("zs_ckpt"))
    schema = "a int, b int, v double"
    for i in range(4):
        spark.createDataFrame(
            [((i * 1000 + j) % 500, (j * 7) % 500, float(j))
             for j in range(250)], schema
        ).coalesce(1).write.mode("append").parquet(src_dir)

    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(src_dir))
    q = ST.zorder_store_stream_sink(
        src, store, [F.col("a"), F.col("b")], maintain_every=2,
        tail_ratio=0.01, checkpoint=ckpt, elem="int32", num_files=2,
    ).trigger(availableNow=True).start()
    q.awaitTermination(180)

    got = zorder_store_read(spark, store)
    want = spark.read.parquet(src_dir)
    assert got.count() == want.count() == 1000
    assert got.agg(F.sum("v")).first()[0] == \
        want.agg(F.sum("v")).first()[0]
    # maintenance ran: store advanced past base-v0 (the previous base
    # is retained for time travel, so up to two versions exist)
    versions = sorted(d for d in os.listdir(store)
                      if d.startswith("base-v"))
    assert 1 <= len(versions) <= 2
    assert versions[-1] != "base-v0"


def test_zorder_store_stream_sink_with_stat_cols(spark,
                                                 tmp_path_factory):
    """Round-9: stat_cols flows to the store INIT only (maintain
    re-reads it from _META) — the stream sink must not leak it into
    zorder_write kwargs. After the run the store has a persisted
    manifest and a range select prunes without footer reads."""
    import os

    from lindel_spark.write import zorder_store_select

    src_dir = str(tmp_path_factory.mktemp("zsc_src"))
    store = str(tmp_path_factory.mktemp("zsc_store") / "s")
    ckpt = str(tmp_path_factory.mktemp("zsc_ckpt"))
    schema = "a int, b int, v double"
    for i in range(4):
        spark.createDataFrame(
            [((i * 1000 + j) % 500, (j * 7) % 500, float(j))
             for j in range(250)], schema
        ).coalesce(1).write.mode("append").parquet(src_dir)
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(src_dir))
    q = ST.zorder_store_stream_sink(
        src, store, [F.col("a"), F.col("b")], maintain_every=2,
        tail_ratio=0.01, checkpoint=ckpt, elem="int32", num_files=2,
        stat_cols=["a"],
    ).trigger(availableNow=True).start()
    q.awaitTermination(180)
    manifests = [d for d in os.listdir(store)
                 if d.startswith("manifest-v")]
    assert manifests, os.listdir(store)
    from lindel_spark import profile as LP
    orig = LP.file_minmax_manifest
    LP.file_minmax_manifest = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("footer sweep at select time"))
    try:
        hits, stats = zorder_store_select(spark, store,
                                          {"a": (0, 100)})
        want = spark.read.parquet(src_dir).filter("a <= 100").count()
        assert hits.count() == want
    finally:
        LP.file_minmax_manifest = orig


def test_zorder_store_stream_sink_with_bloom_cols(spark,
                                                  tmp_path_factory,
                                                  traced):
    """bloom_cols flows to the store INIT only (append and maintain
    re-read it from _META): every micro-batch append and every rebuilt
    base carries Parquet bloom filters, so an equality probe through
    the streamed store counts in at most the scan's 2 jobs and an
    absent key reads no records."""
    from lindel_spark.write import zorder_store_lookup

    src_dir = str(tmp_path_factory.mktemp("zbc_src"))
    store = str(tmp_path_factory.mktemp("zbc_store") / "s")
    ckpt = str(tmp_path_factory.mktemp("zbc_ckpt"))
    schema = "a int, b int, v double"
    for i in range(4):
        spark.createDataFrame(
            [((i * 1000 + j) % 500, (j * 7) % 500, float(j))
             for j in range(250)], schema
        ).coalesce(1).write.mode("append").parquet(src_dir)
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(src_dir))
    q = ST.zorder_store_stream_sink(
        src, store, [F.col("a"), F.col("b")], maintain_every=2,
        tail_ratio=0.01, checkpoint=ckpt, elem="int32", num_files=4,
        stat_cols=["a"], bloom_cols=["b"],
    ).trigger(availableNow=True).start()
    q.awaitTermination(180)
    hits, stats = zorder_store_lookup(spark, store, "b", 7)
    want = spark.read.parquet(src_dir).filter("b = 7").count()
    n, n_jobs, _ = traced(hits.count)
    assert n == want and n_jobs <= 2
    # b is not a stat column: min/max keeps every file
    assert stats["files_scanned"] == stats["files_total"]
    present = {(j * 7) % 500 for j in range(250)}
    absent = next(b for b in range(500) if b not in present)
    miss, _ = zorder_store_lookup(spark, store, "b", absent)
    n, n_jobs, records = traced(miss.count)
    assert (n, records) == (0, 0) and n_jobs <= 2


def test_bm25_index_stream_sink_equals_batch_index(
        spark, tmp_path_factory):
    """Streaming ingest into the persisted retrieval index: after the
    stream drains, store-served BM25 equals an index built in one
    batch over the same corpus (init on batch 0, incremental appends
    after, periodic maintenance folds)."""
    from pyspark.sql import functions as F

    from lindel_spark import retrieval as LR
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    src_dir = str(tmp_path_factory.mktemp("bm_src"))
    store = str(tmp_path_factory.mktemp("bm_store") / "idx")
    full = str(tmp_path_factory.mktemp("bm_full") / "idx")
    ckpt = str(tmp_path_factory.mktemp("bm_ckpt"))
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1) \
            .write.mode("append").parquet(src_dir)
    src = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", "1").parquet(src_dir))
    q = ST.bm25_index_stream_sink(
        src, store, maintain_every=2, tail_ratio=0.01,
        checkpoint=ckpt,
    ).trigger(availableNow=True).start()
    q.awaitTermination(180)

    LR.bm25_index_init(docs, full)
    from lindel_spark import text as LT
    toks = LT.tokens(LT.normalize_text(F.col("text")))
    qd = docs.filter(F.col("doc_id") % 31 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("query"))
    key = lambda df: sorted(  # noqa: E731
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in df.collect())
    assert key(LR.bm25_topk_store(spark, store, qd, k=5)) == \
        key(LR.bm25_topk_store(spark, full, qd, k=5))


def test_drift_stream_sink_per_batch_equals_batch_scoring(
        spark, tmp_path_factory):
    """Streaming drift monitor: each micro-batch's logged PSI/KL row
    equals drift_against run on that slice in batch mode, against a
    profile persisted and read back from parquet."""
    from pyspark.sql import functions as F

    from lindel_spark.profile import drift_against, drift_reference

    ev = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet").select(
        "event_id", "value")
    ref = ev.filter(F.col("event_id") % 3 == 0)
    prof_dir = str(tmp_path_factory.mktemp("drift_prof") / "p")
    drift_reference(ref, ["value"], bins=8).write.parquet(prof_dir)
    prof = spark.read.parquet(prof_dir)

    src_dir = str(tmp_path_factory.mktemp("drift_src"))
    log_dir = str(tmp_path_factory.mktemp("drift_log") / "log")
    slices = [ev.filter(F.col("event_id") % 3 == i) for i in (1, 2)]
    for s in slices:
        s.coalesce(1).write.mode("append").parquet(src_dir)
    src = (spark.readStream.schema("event_id long, value double")
           .option("maxFilesPerTrigger", "1").parquet(src_dir))
    q = ST.drift_stream_sink(src, prof, ["value"], log_dir, bins=8) \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)

    logged = spark.read.parquet(log_dir).collect()
    assert len(logged) == 2 and {r.batch_id for r in logged} == {0, 1}
    # match each logged row to one slice's batch scoring (file order
    # into batches is not guaranteed, so compare as multisets)
    want = sorted(
        (r.n_ref, r.n_cur, round(r.psi, 9), round(r.kl, 9))
        for s in slices
        for r in drift_against(s, prof, ["value"], bins=8).collect())
    got = sorted((r.n_ref, r.n_cur, round(r.psi, 9), round(r.kl, 9))
                 for r in logged)
    assert got == want
    # and the identical-slice sanity: scoring the reference against
    # itself reads stable
    self_psi = drift_against(ref, prof, ["value"],
                             bins=8).collect()[0].psi
    assert abs(self_psi) < 1e-12


def test_hll_sketch_streaming_matches_batch(spark, events, stream_src):
    """hll_sketch is select + groupBy-max, so it runs unchanged as a
    streaming aggregation; the drained register table must equal the
    batch sketch exactly (max is order/merge-insensitive)."""
    from lindel_spark.sketch import hll_sketch

    schema = events.schema
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", "1").parquet(stream_src))
    sk = hll_sketch(src, ["event_type"], "user_id", p=7)
    q = (sk.writeStream.outputMode("complete")
         .format("memory").queryName("hll_t")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM hll_t")
    want = hll_sketch(events, ["event_type"], "user_id", p=7)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_cusum_stream_matches_batch(spark, events, tmp_path_factory):
    """Stream-drained CUSUM alarms == the batch operator's alarm rows
    on a time-partitioned source (2 files split at the median ts, so
    micro-batch order respects event time per key)."""
    from lindel_spark.timeseries import cusum_changepoints

    d = str(tmp_path_factory.mktemp("cusum_src"))
    lo = events.orderBy("ts", "event_id").limit(events.count() // 2)
    hi = events.join(lo.select("event_id"), "event_id", "left_anti")
    lo.coalesce(1).write.parquet(d + "/p1")
    hi.coalesce(1).write.parquet(d + "/p2")
    src = (spark.readStream.schema(events.schema)
           .option("maxFilesPerTrigger", "1")
           .option("recursiveFileLookup", "true").parquet(d))
    alarms = ST.cusum_stream(src, "event_type", "ts", "value",
                             "event_id", target=50.0, slack=5.0,
                             threshold=200.0)
    q = (alarms.writeStream.outputMode("append")
         .format("memory").queryName("cusum_t")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.event_type, r.event_id, round(r.cusum_hi, 6),
            round(r.cusum_lo, 6))
           for r in spark.sql("SELECT * FROM cusum_t").collect()}
    batch = cusum_changepoints(
        events.filter(F.col("value").isNotNull()), ["event_type"],
        "ts", "value", "event_id", target=50.0, slack=5.0,
        threshold=200.0)
    want = {(r.event_type, r.event_id, round(r.cusum_hi, 6),
             round(r.cusum_lo, 6))
            for r in batch.filter("alarm_hi OR alarm_lo").collect()}
    assert got == want
    assert len(want) > 0  # the fixture must actually alarm


def test_conformal_stream_sink_matches_batch(spark, tmp_path_factory):
    """Streaming conformal monitor: each micro-batch's logged
    coverage equals the batch-mode P(s <= qhat) on that slice, and
    the offline qhat transfers unchanged."""
    from pyspark.sql import functions as F

    from lindel_spark.evaluation import conformal_split

    ev = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet").select(
        "event_id", F.col("value").cast("double").alias("s")).filter(
        F.col("s").isNotNull())
    cal = ev.filter(F.col("event_id") % 3 == 0)
    base = conformal_split(cal, cal, "s", alpha=0.1).collect()[0]
    qhat = base.qhat
    assert qhat is not None

    src_dir = str(tmp_path_factory.mktemp("conf_src"))
    log_dir = str(tmp_path_factory.mktemp("conf_log") / "log")
    slices = [ev.filter(F.col("event_id") % 3 == i) for i in (1, 2)]
    for s in slices:
        s.coalesce(1).write.mode("append").parquet(src_dir)
    src = (spark.readStream.schema("event_id long, s double")
           .option("maxFilesPerTrigger", "1").parquet(src_dir))
    q = ST.conformal_stream_sink(src, qhat, "s", log_dir, alpha=0.1) \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)

    logged = spark.read.parquet(log_dir).collect()
    assert len(logged) == 2 and {r.batch_id for r in logged} == {0, 1}
    want = sorted(
        (s.count(),
         round(s.filter(F.col("s") <= qhat).count() / s.count(), 9))
        for s in slices)
    got = sorted((r.n, round(r.coverage, 9)) for r in logged)
    assert got == want
    for r in logged:
        assert r.qhat == qhat and r.target == pytest.approx(0.9)
        # exchangeable slices: coverage should sit near/above target
        assert r.coverage > 0.8


def test_holt_winters_stream_matches_replay(spark, tmp_path_factory):
    """Stream-drained HW monitor == a NumPy replay of the identical
    recursion (warm-up 2*period buffered rows, then
    forecast-before-update), on a time-partitioned 3-batch source."""
    import numpy as np

    from lindel_spark import streaming as ST

    rng = np.random.RandomState(4)
    m, n = 4, 60
    xs = (20 + 0.3 * np.arange(n)
          + np.array([3, -1, -2, 0] * (n // 4))
          + rng.randn(n) * 0.1)
    rows = [("k", int(i), float(xs[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    d = str(tmp_path_factory.mktemp("hw_src"))
    for lo, hi, p in ((0, 20, "p1"), (20, 40, "p2"), (40, 60, "p3")):
        (df.filter((F.col("t") >= lo) & (F.col("t") < hi))
         .coalesce(1).write.parquet(f"{d}/{p}"))
    src = (spark.readStream.schema(df.schema)
           .option("maxFilesPerTrigger", "1")
           .option("recursiveFileLookup", "true").parquet(d))
    mon = ST.holt_winters_stream(src, "k", "t", "v", "t", period=m,
                                 alpha=0.3, beta=0.1, gamma=0.2)
    q = (mon.writeStream.outputMode("append")
         .format("memory").queryName("hw_t")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.t: (r.forecast, r.resid)
           for r in spark.sql("SELECT * FROM hw_t").collect()}

    # replay
    a, b, g = 0.3, 0.1, 0.2
    level = xs[:m].mean()
    trend = (xs[m:2 * m].mean() - xs[:m].mean()) / m
    seasons = [xs[j] - level for j in range(m)]
    for t in range(m, 2 * m):
        sm = seasons[t - m]
        ln = a * (xs[t] - sm) + (1 - a) * (level + trend)
        trend = b * (ln - level) + (1 - b) * trend
        seasons[t % m] = g * (xs[t] - ln) + (1 - g) * sm
        level = ln
    want = {}
    for t in range(2 * m, n):
        ph = t % m
        f = level + trend + seasons[ph]
        want[t] = (f, xs[t] - f)
        ln = a * (xs[t] - seasons[ph]) + (1 - a) * (level + trend)
        trend = b * (ln - level) + (1 - b) * trend
        seasons[ph] = g * (xs[t] - ln) + (1 - g) * seasons[ph]
        level = ln
    assert set(got) == set(want)
    for t in want:
        assert got[t][0] == pytest.approx(want[t][0], abs=1e-9), t
        assert got[t][1] == pytest.approx(want[t][1], abs=1e-9), t
    # the monitor actually tracks: residuals are small vs the signal
    resids = np.array([abs(v[1]) for v in want.values()])
    assert np.median(resids) < 1.0


def test_linear_probe_stream_equals_batch_fit(spark, tmp_path_factory):
    """Stream-drained cumulative probe == the batch linear_fit over
    the union (Gram moments are exactly mergeable; 1e-9 — float add
    order across batch boundaries is the only divergence)."""
    import numpy as np

    from lindel_spark import streaming as ST
    from lindel_spark.features import linear_fit

    rng = np.random.RandomState(12)
    n = 90
    x0 = rng.randn(n) * 2.0
    x1 = rng.randn(n)
    y = 1.5 + 2.0 * x0 - 0.7 * x1 + rng.randn(n) * 0.2
    rows = [(int(i), float(y[i]), float(x0[i]), float(x1[i]))
            for i in range(n)]
    df = spark.createDataFrame(rows, "t long, y double, "
                                     "x0 double, x1 double")
    d = str(tmp_path_factory.mktemp("lp_src"))
    for lo, hi, p in ((0, 30, "p1"), (30, 60, "p2"), (60, 90, "p3")):
        (df.filter((F.col("t") >= lo) & (F.col("t") < hi))
         .coalesce(1).write.parquet(f"{d}/{p}"))
    src = (spark.readStream.schema(df.schema)
           .option("maxFilesPerTrigger", "1")
           .option("recursiveFileLookup", "true").parquet(d))
    out = str(tmp_path_factory.mktemp("lp_out"))
    q = ST.linear_probe_stream_sink(src, "y", ["x0", "x1"], out) \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)

    coef = spark.read.parquet(out + "/coef")
    last = coef.orderBy(F.col("batch_id").desc()).collect()[0]
    assert last.n == n
    want = linear_fit(df, "y", ["x0", "x1"]).collect()[0]
    assert last.intercept == pytest.approx(want.intercept, abs=1e-9)
    assert last["coef_x0"] == pytest.approx(want["coef_x0"],
                                            abs=1e-9)
    assert last["coef_x1"] == pytest.approx(want["coef_x1"],
                                            abs=1e-9)
    assert last.r2 == pytest.approx(want.r2, abs=1e-9)
    # one coefficient row per batch, n strictly growing
    ns = [r.n for r in coef.orderBy("batch_id").collect()]
    assert len(ns) == 3 and ns == sorted(ns) and ns[-1] == n
