"""Structured-Streaming surface: curve-clustered sinks + event rollups.

The reference is batch-only (a DuckDB extension has no streaming
surface); its functions are stateless scalar maps, so they are
streaming-safe for free. This module packages the idiomatic streaming
compositions a lindel user needs:

* :func:`zorder_stream_writer` — the reference's motivating workload
  (cluster-then-write, docs/README.md:56-70) as a ``foreachBatch``
  sink: every micro-batch is range-partitioned and sorted along the
  curve before appending, so each batch's files carry tight row-group
  min/max stats and historical queries skip row groups exactly like
  the batch path.
* :func:`windowed_rollup` — event-time tumbling-window aggregation
  with a watermark (late-data bound). Works identically on batch
  frames (window() is engine-shared), which is how the driver's
  correctness gate exercises it.
* :func:`sessionize` — native ``session_window`` gap sessionization,
  batch and streaming.

State at scale: windowed aggs keep one row of state per (window, key)
bounded by the watermark horizon; no custom state store needed.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lindel_spark import write as LW
from lindel_spark.util import local_frame


def zorder_stream_writer(
    stream_df: DataFrame,
    cols: Sequence,
    path: str,
    elem="int32",
    curve: str = "hilbert",
    num_files: int | None = None,
    checkpoint: str | None = None,
):
    """``writeStream`` sink that z-order-clusters every micro-batch.

    Returns the DataStreamWriter (caller picks trigger and starts).
    Each micro-batch runs the same repartitionByRange + sortWithin-
    Partitions + parquet-append pipeline as :func:`~lindel_spark.write.
    zorder_write`; the curve key never lands in the output.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        LW.zorder_write(
            batch_df, cols, path, elem=elem, curve=curve,
            num_files=num_files, mode="append",
        )

    writer = stream_df.writeStream.foreachBatch(write_batch)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def ivf_stream_ingest(
    stream_df: DataFrame,
    path: str,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str | None = None,
):
    """``writeStream`` sink that keeps an IVF store live: every
    micro-batch of new vectors is assigned under the store's ORIGINAL
    quantizer and appended into its ``cell=`` partitions
    (:func:`~lindel_spark.similarity.ivf_append` per batch).

    The streaming half of the build/query/maintain ANN lifecycle:
    readers keep partition pruning while the index grows; no
    recluster, no state store (assignment is a stateless map).
    Compact with :func:`~lindel_spark.write.compact_parquet` when the
    per-batch files accumulate. Returns the DataStreamWriter (caller
    picks trigger and starts).
    """
    from lindel_spark import similarity as LS

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        LS.ivf_append(batch_df, path, centroids,
                      id_col=id_col, vec_col=vec_col)

    writer = stream_df.writeStream.foreachBatch(write_batch)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def windowed_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str | None = None,
    user_col: str | None = "user_id",
) -> DataFrame:
    """Tumbling-window rollup: (window_start, key, n_events, sum_value
    [, approx_users]). Pass ``watermark`` on streaming input to bound
    state and admit late data up to that horizon; omit it for batch
    frames. ``approx_users`` (HLL distinct count of ``user_col``) is
    emitted only when ``user_col`` is set — pass ``None`` for frames
    without a user column.

    ``sum_value`` aggregates in DECIMAL so results are bit-stable under
    reordering (stream vs batch vs oracle all agree exactly).
    """
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("sum_value"),
    ]
    if user_col is not None:
        aggs.append(F.approx_count_distinct(user_col).alias("approx_users"))
    return (
        df.groupBy(F.window(ts_col, window).alias("w"), F.col(key_col))
        .agg(*aggs)
        .select(
            F.col("w.start").alias("window_start"),
            F.col(key_col),
            "n_events",
            "sum_value",
            *(["approx_users"] if user_col is not None else []),
        )
    )


def multi_grain_rollup(
    df: DataFrame,
    grains: Sequence[str] = ("1 hour", "1 day"),
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Hypertable-style multi-resolution rollup: one frame holding the
    tumbling-window aggregate at every grain, tagged by a ``grain``
    column. Each grain is an independent map-side-combined aggregation
    of the shared scan; Spark reuses the exchange where possible.
    Coarser grains are *not* re-aggregated from finer ones, so any
    grain set is valid (not just nested ones).
    """
    parts = []
    for g in grains:
        parts.append(
            windowed_rollup(df, ts_col, key_col, value_col, window=g)
            .withColumn("grain", F.lit(g))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def first_seen_dedup(
    stream_df: DataFrame,
    key_col: str = "user_id",
    fp_col: str = "fp",
    state_ttl: str | None = None,
) -> DataFrame:
    """Streaming exact-dedup with custom state: emit each (key,
    fingerprint) pair the *first* time it is seen, drop every later
    occurrence. The custom-stateful-operator pattern
    (``applyInPandasWithState``) the built-in ``dropDuplicates``
    cannot express once you need per-key state control or timeouts.

    State per key is the set of seen fingerprints (an array column in
    the state store — scales with distinct fingerprints per key, not
    events). ``state_ttl`` (a duration string, e.g. ``'30 minutes'``)
    switches on ``ProcessingTimeTimeout``: a key idle for the TTL has
    its state dropped by the state store — its fingerprints may re-emit
    if seen again later, which is the standard bounded-state trade for
    an unbounded keyspace. ``state_ttl=None`` keeps state for the
    stream's lifetime, which is correct for bounded keyspaces (exact
    streaming dedup is impossible with less state — use SimHash
    banding upstream to shrink the domain).

    Batch equivalence: the emitted set equals
    ``df.dropDuplicates([key, fp])`` (pytest-checked via a real
    ``availableNow`` stream against the batch result); expiry is
    pytest-checked with a real two-trigger stream where idle keys
    re-emit after the TTL.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_f = stream_df.schema[key_col]
    fp_f = stream_df.schema[fp_col]
    out_schema = T.StructType([key_f, fp_f])
    state_schema = T.StructType([
        T.StructField("seen", T.ArrayType(fp_f.dataType)),
    ])
    mode = (GroupStateTimeout.ProcessingTimeTimeout if state_ttl
            else GroupStateTimeout.NoTimeout)
    # PySpark's setTimeoutDuration takes int millis, not a duration
    # string like the Scala API — parse once on the driver
    ttl_ms = (int(pd.Timedelta(state_ttl).total_seconds() * 1000)
              if state_ttl else None)

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            # idle past the TTL: drop the fingerprint set entirely
            state.remove()
            yield pd.DataFrame(columns=[key_col, fp_col])
            return
        seen = set(state.get[0]) if state.exists else set()
        outs = []
        for pdf in pdfs:
            fresh_in_batch = ~pdf[fp_col].duplicated()
            unseen = ~pdf[fp_col].isin(seen)
            kept = pdf.loc[fresh_in_batch & unseen, [key_col, fp_col]]
            seen.update(kept[fp_col])
            outs.append(kept)
        state.update((list(seen),))
        if ttl_ms is not None:
            # deadline renews on every batch that touches the key, so
            # only *idle* keys expire
            state.setTimeoutDuration(ttl_ms)
        yield pd.concat(outs) if outs else pd.DataFrame(
            columns=[key_col, fp_col])

    return stream_df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", mode,
    )


def gapfill_rollup(
    df: DataFrame,
    window: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    max_buckets: int = 100_000,
) -> DataFrame:
    """Dense per-key time-bucket rollup: every bucket between a key's
    first and last event exists in the output — missing buckets carry
    ``n_events = 0``, ``gap_filled = true``, and the value sum of the
    most recent preceding non-empty bucket (last-observation-carried-
    forward). The hypertable-style gap-filled aggregate (continuous
    charts, rate baselines) that a plain groupBy cannot produce.

    Plan — one pass over the raw events: rollup shuffle on (key,
    bucket), then ONE per-key aggregation that carries min/max bounds
    AND a bucket→aggregate map (per-key payload = span/grain entries —
    bounded by the time span, never by event count); the dense spine
    is a map-side ``sequence``/``explode`` with in-row map lookups, so
    no second base scan and no spine join exist at all (a naive
    bounds-then-join formulation recomputes the whole rollup lineage
    twice). LOCF is a single ordered window per key. Batch-only: the
    spine needs each key's closed [min, max] bucket range, which an
    unbounded stream cannot know — on streams use
    :func:`windowed_rollup` and gap-fill downstream.

    ``max_buckets`` bounds the per-key dense spine (span / grain): the
    single-row bucket map and the explode are sized by it, so a key
    spanning years at a fine grain would otherwise build a multi-
    million-entry map in one row. The guard is an in-plan
    ``raise_error`` (no extra scan) with the offending key, its bucket
    count, and the fix (coarser ``window`` or higher ``max_buckets``).
    """
    bucket = F.window(F.col(ts_col), window)["start"]
    rolled = (
        df.groupBy(bucket.alias("bucket"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("__sv"),
        )
    )
    per_key = rolled.groupBy(key_col).agg(
        F.min("bucket").alias("__mn"),
        F.max("bucket").alias("__mx"),
        F.map_from_entries(
            F.collect_list(F.struct(
                F.col("bucket"),
                F.struct(F.col("__n"), F.col("__sv")),
            ))
        ).alias("__m"),
    )
    # span/grain guard: pure column arithmetic per key, raised inside
    # the plan (distributed, zero extra scans)
    grain_s = F.unix_timestamp(
        F.timestamp_seconds(F.lit(0)) + F.expr(f"interval {window}"))
    n_buckets = (
        (F.unix_timestamp("__mx") - F.unix_timestamp("__mn")) / grain_s
    ).cast("long") + F.lit(1)
    mn_guarded = F.when(
        n_buckets > F.lit(int(max_buckets)),
        F.raise_error(F.format_string(
            "LINDEL: gapfill_rollup key '%s' spans %s buckets at grain '"
            + window + "' (max_buckets=" + str(int(max_buckets))
            + "); use a coarser window= or raise max_buckets=",
            F.col(key_col).cast("string"), n_buckets.cast("string"),
        )).cast("timestamp"),
    ).otherwise(F.col("__mn"))
    dense = per_key.select(
        key_col,
        F.explode(F.sequence(
            mn_guarded, F.col("__mx"), F.expr(f"interval {window}")
        )).alias("bucket"),
        F.col("__m")[F.col("bucket")].alias("__v"),
    )
    w = (
        Window.partitionBy(key_col).orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(
        key_col,
        F.col("bucket"),
        F.coalesce(F.col("__v.__n"), F.lit(0)).cast("long")
        .alias("n_events"),
        F.col("__v").isNull().alias("gap_filled"),
        F.last(F.col("__v.__sv"), ignorenulls=True).over(w).cast("double")
        .alias("sum_value_locf"),
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback: str = "30 minutes",
    left_watermark: str | None = None,
    right_watermark: str | None = None,
) -> DataFrame:
    """Stream-stream (or batch) event-interval join: pair each left
    row with right rows of the same key whose timestamp falls in
    ``[left_ts - lookback, left_ts]`` — the "click joined to purchases
    in the last N minutes" shape.

    On streams both sides need a watermark: Spark then bounds the join
    state to the watermark horizon plus the interval and ages rows out
    — the only way a stream-stream join is runnable indefinitely. The
    time bound also keeps the *batch* plan from degenerating into an
    unbounded per-key cross product: rows pair at most within the
    lookback window, and the range predicate rides the equi-join on
    the key. Semantics are identical batch vs streaming (pytest
    replays the same data both ways).

    Column naming: right-side ``on`` is dropped after the join; the
    right timestamp is exposed as ``{right_ts}_r``; every other right
    column keeps its name (callers select/alias before joining when
    both sides share names).
    """
    if left_watermark is not None:
        left = left.withWatermark(left_ts, left_watermark)
    if right_watermark is not None:
        right = right.withWatermark(right_ts, right_watermark)
    r_ts_out = f"{right_ts}_r"
    r = right.withColumnRenamed(right_ts, r_ts_out).withColumnRenamed(
        on, f"__{on}_r")
    cond = (
        (left[on] == r[f"__{on}_r"])
        & (r[r_ts_out] >= left[left_ts] - F.expr(f"INTERVAL {lookback}"))
        & (r[r_ts_out] <= left[left_ts])
    )
    return left.join(r, cond, "inner").drop(f"__{on}_r")


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based sessions per user: (user_id, session_start,
    session_end, n_events). Native ``session_window`` — merges windows
    within ``gap``, identical semantics batch and streaming."""
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(
            F.session_window(F.col(ts_col), gap).alias("s"),
            F.col(user_col),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            F.col(user_col),
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def sliding_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding (hopping) window rollup: every event lands in
    window/slide overlapping windows — the trailing-metrics shape
    ("last hour, refreshed every 15 min"). Identical batch and
    streaming semantics like :func:`windowed_rollup`; with a
    watermark, state is bounded by (window/slide) open windows per
    key. Sums aggregate in DECIMAL so stream, batch, and oracle agree
    bit-for-bit. Returns (window_start, key, n_events, sum_value).
    """
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(
            F.window(ts_col, window, slide).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col(key_col),
            "n_events",
            "sum_value",
        )
    )


def _agg_store_last_applied(spark, store_path: str) -> int | None:
    """Highest committed batch id of an :func:`incremental_agg_sink`
    store — max over the append-only ``_commits/v{N}`` log, or None
    when no batch is committed."""
    from lindel_spark import fs as _fs

    vs = _fs.committed_versions(spark, _fs.join(store_path, "_commits"))
    return vs[-1] if vs else None


def read_agg_store(spark, store_path: str) -> DataFrame | None:
    """Latest version of an :func:`incremental_agg_sink` store, or
    ``None`` when no version has been committed yet."""
    from lindel_spark import fs as _fs

    v = _agg_store_last_applied(spark, store_path)
    if v is None:
        return None
    return spark.read.parquet(_fs.join(store_path, f"v={v}"))


def incremental_agg_sink(
    stream_df: DataFrame,
    store_path: str,
    keys: list[str],
    state_aggs: dict[str, tuple[str, str]],
    checkpoint: str | None = None,
):
    """Streaming materialized view: maintain a per-key aggregate store
    that is always equal to the batch aggregate over everything seen.

    Each micro-batch is reduced to a partial state (one row per key
    touched in the batch — map-side combined) and merged with the
    store via :func:`lindel_spark.history.merge_agg_states`; the raw
    history is never re-read, so refresh cost is O(batch + store
    keys), the property that makes a 100 TB-history view maintainable.

    ``state_aggs`` maps state column → ``(fn, src_col)`` with fn in
    ``count | sum | min | max`` (``count`` takes any src). The store
    is versioned: ``v=<batch_id>`` directories plus an APPEND-ONLY
    ``_commits/v{batch_id}`` log (latest = max committed id) — no
    mutable marker exists, so no crash can leave the store markerless
    (the round-8 failure mode where a torn ``_LATEST`` rewrite made a
    restart silently reset accumulated state to one batch). Data
    directories of stale versions are pruned, keeping the latest two;
    commit files are tiny and kept (they ARE the log). All
    metadata I/O goes through the Hadoop FileSystem API
    (:mod:`lindel_spark.fs`), so ``store_path`` may be any
    Hadoop-reachable URI. Read it back with :func:`read_agg_store`.

    Exactly-once: foreachBatch may replay a batch after a failure; a
    replayed ``batch_id`` at or below the max committed id is skipped.
    A crash between the ``v=`` write and its commit leaves an
    uncommitted directory that the replay simply overwrites. Writer
    contract: Structured Streaming guarantees exactly one live writer
    per checkpoint; a misconfigured second writer fails loudly on the
    duplicate version commit instead of clobbering
    (:func:`lindel_spark.fs.commit_new`).
    """
    from lindel_spark import fs as _fs
    from lindel_spark.history import merge_agg_states

    _MERGE_OF = {"count": "sum", "sum": "sum", "min": "min",
                 "max": "max"}
    for col, (fn, _src) in state_aggs.items():
        if fn not in _MERGE_OF:
            raise ValueError(
                f"LINDEL: unsupported state agg {fn!r} for {col!r}; "
                f"supported: {sorted(_MERGE_OF)}")
    merges = {c: _MERGE_OF[fn] for c, (fn, _s) in state_aggs.items()}

    def batch_state(batch_df: DataFrame) -> DataFrame:
        aggs = []
        for col, (fn, src) in state_aggs.items():
            if fn == "count":
                aggs.append(F.count(F.lit(1)).cast("long").alias(col))
            else:
                aggs.append(getattr(F, fn)(src).alias(col))
        return batch_df.groupBy(*keys).agg(*aggs)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = None
        last_applied = _agg_store_last_applied(spark, store_path)
        if last_applied is not None:
            if batch_id <= last_applied:
                return  # replayed batch: already folded into the store
            prev = spark.read.parquet(
                _fs.join(store_path, f"v={last_applied}"))
        state = batch_state(batch_df)
        merged = (merge_agg_states([prev, state], keys, merges)
                  if prev is not None else
                  state.select(*keys, *merges))
        vdir = _fs.join(store_path, f"v={batch_id}")
        merged.write.mode("overwrite").parquet(vdir)
        _fs.commit_new(
            spark, _fs.join(store_path, "_commits", f"v{batch_id}"))
        # prune data dirs of all but the latest two COMMITTED versions
        # (an uncommitted v= dir is a crashed write: prune it too)
        committed = set(_fs.committed_versions(
            spark, _fs.join(store_path, "_commits")))
        keep = set(sorted(committed)[-2:])
        for d in _fs.list_names(spark, store_path):
            if not d.startswith("v="):
                continue
            if int(d.split("=", 1)[1]) not in keep:
                _fs.delete(spark, _fs.join(store_path, d),
                           recursive=True)

    writer = stream_df.writeStream.foreachBatch(write_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def zorder_store_stream_sink(
    stream_df: DataFrame,
    path: str,
    cols,
    maintain_every: int = 5,
    tail_ratio: float = 0.1,
    checkpoint: str | None = None,
    **zorder_kwargs,
):
    """Stream into a self-maintaining z-order store: every micro-batch
    fast-appends to the store's tail (no sort in the hot path); every
    ``maintain_every`` batches the amortized re-cluster runs if the
    tail crossed ``tail_ratio``. The streaming completion of the
    reference's flagship workload — continuous ingest AND row-group
    skipping, reconciled by compaction instead of per-batch sorting.

    First batch initializes the store (clustered) if none exists.
    """
    from lindel_spark.write import (zorder_store_append,
                                    zorder_store_init,
                                    zorder_store_maintain,
                                    _zstore_latest)

    # init-only knobs: append/maintain re-read the index config from
    # the store _META — a bloom_cols= sink writes Parquet bloom filters
    # into every micro-batch append and every amortized re-cluster
    init_only = {
        k: zorder_kwargs.pop(k)
        for k in ("stat_cols", "bloom_cols")
        if k in zorder_kwargs
    }
    init_only.setdefault("stat_cols", None)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _zstore_latest(spark, path) is None:
            zorder_store_init(batch_df, cols, path,
                              **init_only, **zorder_kwargs)
            return
        zorder_store_append(batch_df, path)
        if maintain_every > 0 and (batch_id + 1) % maintain_every == 0:
            zorder_store_maintain(spark, path, cols,
                                  tail_ratio=tail_ratio,
                                  **zorder_kwargs)

    writer = stream_df.writeStream.foreachBatch(write_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def bm25_index_stream_sink(
    stream_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    maintain_every: int = 10,
    tail_ratio: float = 0.1,
    checkpoint: str | None = None,
):
    """Stream documents into the persisted retrieval index
    (:func:`lindel_spark.retrieval.bm25_index_init`): every
    micro-batch runs the INCREMENTAL append — postings for the new
    docs only, df/length stats as algebraic deltas — and every
    ``maintain_every`` batches the amortized tail fold runs if the
    postings tail crossed ``tail_ratio``. The retrieval twin of
    :func:`zorder_store_stream_sink`: continuous ingest, queries stay
    served from the store at any point (``bm25_topk_store`` /
    ``tfidf_topk_store`` read base + tail). First batch initializes
    the index if none exists. Batches are assumed to carry NEW doc
    ids (the append contract)."""
    from lindel_spark.retrieval import (_rstore_latest,
                                        bm25_index_append,
                                        bm25_index_init,
                                        bm25_index_maintain)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _rstore_latest(spark, path) is None:
            bm25_index_init(batch_df, path, id_col, text_col)
            return
        bm25_index_append(batch_df, path, id_col, text_col)
        if maintain_every > 0 and (batch_id + 1) % maintain_every == 0:
            bm25_index_maintain(spark, path, tail_ratio=tail_ratio)

    writer = stream_df.writeStream.foreachBatch(write_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def drift_stream_sink(
    stream_df: DataFrame,
    reference: DataFrame,
    columns,
    path: str,
    bins: int = 10,
    checkpoint: str | None = None,
):
    """Serving-time drift monitor: every micro-batch is scored
    against a STORED :func:`lindel_spark.profile.drift_reference`
    profile (computed once on the training snapshot) and the
    per-column PSI/KL rows land append-only under ``path`` tagged
    with the batch id — the feature-drift alarm feed for a model
    serving on streaming input. Per batch the cost is one map-side
    bin count over the batch plus a broadcast join against the
    vocabulary-sized profile; the reference is never rescanned.

    Each logged row is the exact :func:`drift_against` of that batch
    slice (pytest-pinned: stream-drain ≡ per-slice batch scoring), so
    PSI thresholds calibrated offline transfer unchanged. Batches are
    windows here; to alarm on coarser grains, aggregate the logged
    bin counts downstream or re-window upstream of the sink."""
    from lindel_spark.profile import drift_against

    cols = list(columns)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (drift_against(batch_df, reference, cols, bins)
         .withColumn("batch_id", F.lit(batch_id).cast("long"))
         .write.mode("append").parquet(path))

    writer = stream_df.writeStream.foreachBatch(write_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def cusum_stream(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak: str,
    target: float,
    slack: float,
    threshold: float,
) -> DataFrame:
    """Streaming CUSUM drift alarms — the continuous face of
    :func:`lindel_spark.timeseries.cusum_changepoints`: per key the
    state store carries exactly two scalars (``s⁺``, ``s⁻``), each
    micro-batch advances the recursion over its rows in ``(ts,
    tiebreak)`` order and emits the rows whose cumulative sum crosses
    ``threshold`` — the alarm feed, not the full series. O(1) state
    per key forever, regardless of stream volume.

    Ordering contract: rows are sequenced within each micro-batch and
    batches are assumed time-ordered per key (the usual contract for
    any sequential statistic over a stream — an out-of-order late
    event perturbs the running sums the way it would any online
    monitor). Stream-drain ≡ batch alarms is pytest-pinned on a
    time-partitioned source.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_f = stream_df.schema[key_col]
    out_schema = T.StructType([
        key_f,
        stream_df.schema[ts_col],
        stream_df.schema[tiebreak],
        T.StructField("value", T.DoubleType()),
        T.StructField("cusum_hi", T.DoubleType()),
        T.StructField("cusum_lo", T.DoubleType()),
        T.StructField("alarm_hi", T.BooleanType()),
        T.StructField("alarm_lo", T.BooleanType()),
    ])
    state_schema = T.StructType([
        T.StructField("s_hi", T.DoubleType()),
        T.StructField("s_lo", T.DoubleType()),
    ])
    t, k_, h = float(target), float(slack), float(threshold)

    def fn(key, pdfs, state):
        # whole-batch NumPy via the drawdown identity (with carry-in
        # state s0 >= 0 and c_t = s0 + cumsum(d):
        # s_t = c_t - min(0, running_min(c)) == the max(0, s+d)
        # recursion, exactly) - no per-row Python
        import numpy as np

        s_hi, s_lo = (state.get if state.exists else (0.0, 0.0))
        outs = []
        # concat BEFORE sorting: a group's micro-batch can span
        # several Arrow chunks, and chunk boundaries are arbitrary —
        # sorting per chunk would run the recursion time-disordered
        # (review catch, round 11)
        chunks = [p for p in pdfs if len(p)]
        for pdf in ([pd.concat(chunks)] if chunks else []):
            pdf = pdf.sort_values([ts_col, tiebreak])
            pdf = pdf[pdf[value_col].notna()]
            if len(pdf) == 0:
                continue
            x = pdf[value_col].to_numpy(dtype="float64")
            c_hi = s_hi + np.cumsum(x - t - k_)
            c_lo = s_lo + np.cumsum(-(x - t) - k_)
            shi = c_hi - np.minimum(np.minimum.accumulate(c_hi), 0.0)
            slo = c_lo - np.minimum(np.minimum.accumulate(c_lo), 0.0)
            s_hi, s_lo = float(shi[-1]), float(slo[-1])
            mask = (shi > h) | (slo > h)
            if mask.any():
                sel = pdf.loc[mask]
                outs.append(pd.DataFrame({
                    key_col: key[0],
                    ts_col: sel[ts_col].to_numpy(),
                    tiebreak: sel[tiebreak].to_numpy(),
                    "value": x[mask],
                    "cusum_hi": shi[mask],
                    "cusum_lo": slo[mask],
                    "alarm_hi": shi[mask] > h,
                    "alarm_lo": slo[mask] > h,
                }))
        state.update((s_hi, s_lo))
        yield (pd.concat(outs) if outs else pd.DataFrame(
            columns=[key_col, ts_col, tiebreak, "value", "cusum_hi",
                     "cusum_lo", "alarm_hi", "alarm_lo"]))

    return (stream_df.groupBy(key_col).applyInPandasWithState(
        fn, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout))


def conformal_stream_sink(
    stream_df: DataFrame,
    qhat: float,
    score_col: str,
    path: str,
    alpha: float = 0.1,
    checkpoint: str | None = None,
):
    """Serving-time conformal coverage monitor — the streaming face
    of :func:`lindel_spark.evaluation.conformal_split`: the
    calibration-fold threshold ``qhat`` is computed ONCE offline
    (exact ⌈(n+1)(1−α)⌉ order statistic) and every micro-batch logs
    its empirical coverage ``P(score ≤ qhat)`` append-only under
    ``path`` tagged with the batch id. Exchangeability guarantees
    per-batch expected coverage ≥ 1−α, so a sustained drop is a
    DRIFT ALARM with a finite-sample guarantee — the
    distribution-free sibling of :func:`drift_stream_sink`'s PSI/KL
    (which needs a binning) and :func:`cusum_stream` (which needs a
    target). Per batch: one map-side aggregate, zero joins, zero
    state.

    Each logged row is exactly what the batch-side coverage leg of
    ``conformal_split`` computes on that slice (pytest-pinned:
    stream-drain ≡ per-slice batch scoring), so α calibrated offline
    transfers unchanged.
    """
    qh, a = float(qhat), float(alpha)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df
         .select(F.col(score_col).cast("double").alias("s"))
         .filter(F.col("s").isNotNull())
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.avg(F.when(F.col("s") <= qh, 1.0).otherwise(0.0))
              .alias("coverage"))
         .select("n", "coverage",
                 F.lit(qh).alias("qhat"),
                 F.lit(1.0 - a).alias("target"),
                 (F.col("coverage") < F.lit(1.0 - a)).alias("below"),
                 F.lit(batch_id).cast("long").alias("batch_id"))
         .write.mode("append").parquet(path))

    writer = stream_df.writeStream.foreachBatch(write_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def holt_winters_stream(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak: str,
    period: int,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
):
    """Streaming one-step-ahead Holt–Winters monitor — the continuous
    face of :func:`lindel_spark.timeseries.holt_winters_forecast`:
    per key the state store carries the triple-smoothing state
    (level, trend, one seasonal slot per phase — ``period + 2``
    doubles, O(1) forever), each arriving row is FIRST scored against
    the forecast made before seeing it (``forecast = l + b +
    s[phase]``, ``resid = x − forecast`` — the anomaly feed) and then
    folded into the recursion. The first ``2·period`` rows per key
    are the warm-up window: buffered, used for exactly the batch
    operator's cold start (first-period mean level, period-gap trend,
    ``x_i − l₀`` seasonals, recursion over the second period), no
    output — so a key's stream state after warm-up equals
    ``holt_winters_forecast(window=2·period)``'s state on those rows
    (pytest-pinned via NumPy replay).

    Ordering contract: rows sequence within a micro-batch by ``(ts,
    tiebreak)`` and batches are assumed time-ordered per key (the
    :func:`cusum_stream` contract — any online recursion shares it).
    The recursion is inherently sequential, so the fold is a per-row
    Python loop over the micro-batch — bounded by batch size, not
    stream history, and the monitor shape (alarm on big residuals)
    wants per-row forecasts anyway.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if period < 2:
        raise ValueError("period must be >= 2")
    m = int(period)
    a, b_, g_ = float(alpha), float(beta), float(gamma)

    key_f = stream_df.schema[key_col]
    # tiebreak may BE the ts column (a unique timestamp) — emit it once
    id_cols = [ts_col] if tiebreak == ts_col else [ts_col, tiebreak]
    out_schema = T.StructType(
        [key_f]
        + [stream_df.schema[c] for c in id_cols]
        + [T.StructField("value", T.DoubleType()),
           T.StructField("forecast", T.DoubleType()),
           T.StructField("resid", T.DoubleType())])
    state_schema = T.StructType([
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("seasons", T.ArrayType(T.DoubleType())),
        T.StructField("pos", T.LongType()),
        T.StructField("buf", T.ArrayType(T.DoubleType())),
    ])

    def fn(key, pdfs, state):
        if state.exists:
            level, trend, seasons, pos, buf = state.get
            seasons = list(seasons) if seasons is not None else None
            buf = list(buf) if buf is not None else []
        else:
            level, trend, seasons, pos, buf = None, None, None, 0, []
        outs = []
        chunks = [p for p in pdfs if len(p)]
        for pdf in ([pd.concat(chunks)] if chunks else []):
            pdf = pdf.sort_values([ts_col, tiebreak])
            pdf = pdf[pdf[value_col].notna()]
            if len(pdf) == 0:
                continue
            xs = pdf[value_col].to_numpy(dtype="float64")
            fc = [None] * len(xs)
            rs = [None] * len(xs)
            for i, x in enumerate(xs):
                if seasons is None:
                    buf.append(float(x))
                    pos += 1
                    if len(buf) == 2 * m:
                        # batch cold start over the warm-up window
                        level = sum(buf[:m]) / float(m)
                        trend = (sum(buf[m:2 * m]) - sum(buf[:m])) \
                            / float(m * m)
                        seasons = [buf[j] - level for j in range(m)]
                        for t in range(m, 2 * m):
                            sm = seasons[t - m]
                            ln = a * (buf[t] - sm) \
                                + (1.0 - a) * (level + trend)
                            trend = b_ * (ln - level) \
                                + (1.0 - b_) * trend
                            seasons[t % m] = g_ * (buf[t] - ln) \
                                + (1.0 - g_) * sm
                            level = ln
                        buf = []
                    continue
                phase = pos % m
                f = level + trend + seasons[phase]
                fc[i], rs[i] = f, float(x) - f
                ln = a * (float(x) - seasons[phase]) \
                    + (1.0 - a) * (level + trend)
                trend = b_ * (ln - level) + (1.0 - b_) * trend
                seasons[phase] = g_ * (float(x) - ln) \
                    + (1.0 - g_) * seasons[phase]
                level = ln
                pos += 1
            mask = [f is not None for f in fc]
            if any(mask):
                sel = pdf.loc[mask]
                cols = {key_col: key[0]}
                for c in id_cols:
                    cols[c] = sel[c].to_numpy()
                cols["value"] = sel[value_col].to_numpy(dtype="float64")
                cols["forecast"] = [f for f in fc if f is not None]
                cols["resid"] = [r for r in rs if r is not None]
                outs.append(pd.DataFrame(cols))
        state.update((level, trend, seasons, pos, buf))
        yield (pd.concat(outs) if outs else pd.DataFrame(
            columns=[key_col, *id_cols, "value", "forecast", "resid"]))

    return (stream_df.groupBy(key_col).applyInPandasWithState(
        fn, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout))


def linear_probe_stream_sink(
    stream_df: DataFrame,
    y_col: str,
    x_cols,
    path: str,
    ridge: float = 0.0,
    checkpoint: str | None = None,
):
    """Continuously-retrained linear probe
    (:func:`lindel_spark.features.linear_fit` as a stream): every
    micro-batch reduces to its Gram moment row (the SAME one-scan
    aggregate the batch trainer runs — bounded scalars, never rows),
    the moments APPEND to ``path/state``, and the probe re-solves
    over the cumulative sums, appending one coefficient row per
    batch to ``path/coef`` tagged ``(batch_id, n, r2, intercept,
    coef_<x>…)``. Because Gram moments are EXACTLY mergeable
    (they're sums), the streaming fit over slices equals the batch
    fit over the union — pytest-pinned at 1e-9 (float add order
    across batch boundaries is the only divergence).

    The serving-time story: a quality/toxicity/length probe that
    tracks the live corpus without ever re-reading history — per
    batch cost is one map-side aggregate over the batch plus a read
    of the TINY state directory (one moment row per batch seen;
    compact by rewriting ``state`` offline if batch count grows
    unbounded). Crash/replay-safe the append-only way: a replayed
    batch_id overwrites its own ``state/b=<id>`` partition rather
    than double-counting — WITH a ``checkpoint``. Without one, a
    RESTARTED stream reuses batch ids 0, 1, … and would silently
    overwrite early state partitions while leaving later ones, mixing
    two runs' Gram moments into a wrong cumulative fit; the sink
    detects exactly that (batch 0 arriving against a state directory
    that already holds later batches) and raises (ADVICE r14) — pass
    ``checkpoint`` for restartable streams, or clear ``path`` between
    runs.
    """
    from lindel_spark import fs as _fs
    from lindel_spark.features import _solve_one

    if isinstance(x_cols, str):
        x_cols = [x_cols]
    x_cols = list(x_cols)
    d = len(x_cols)
    if not 1 <= d <= 64:
        raise ValueError("linear_probe_stream_sink: 1 <= d <= 64")

    moment_cols = (["n", "sy", "syy"]
                   + [c for i in range(d)
                      for c in (f"sx{i}", f"sx{i}y")]
                   + [f"sx{i}x{j}" for i in range(d)
                      for j in range(i, d)])

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from lindel_spark.features import _gram_aggs

        spark = batch_df.sparkSession
        if int(batch_id) == 0 and _fs.exists(spark, path + "/state"):
            stale = [n for n in _fs.list_names(spark, path + "/state")
                     if n.startswith("b=") and n != "b=0"]
            if stale:
                raise ValueError(
                    "linear_probe_stream_sink: batch 0 arrived but "
                    f"{path}/state already holds later batches "
                    f"({sorted(stale)[:3]}…) — a restart without a "
                    "checkpoint would mix two runs' Gram moments. "
                    "Pass checkpoint= or clear the path.")
        keep, aggs = _gram_aggs(y_col, x_cols)
        part = (batch_df.filter(keep).agg(*aggs)
                .withColumn("b", F.lit(int(batch_id))))
        # replay-safe: a replayed batch overwrites its own partition
        # (dynamic mode — STATIC overwrite would wipe every other
        # batch's state)
        (part.coalesce(1).write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("b").parquet(path + "/state"))
        state = spark.read.parquet(path + "/state")
        merged = state.agg(
            F.sum("n").cast("long").alias("n"),
            *[F.sum(c).alias(c) for c in moment_cols if c != "n"]
        ).collect()[0]
        out = _solve_one(merged, d, float(ridge))
        schema = ("batch_id long, n long, r2 double, intercept "
                  "double, " + ", ".join(f"`coef_{c}` double"
                                         for c in x_cols))
        # coef rows are ALSO batch-partitioned with dynamic
        # overwrite: a replayed batch rewrites its own coefficient
        # row instead of appending a disagreeing duplicate (the
        # replayed solve would see a larger cumulative state)
        (local_frame(spark, [tuple([int(batch_id)] + list(out))],
                     schema)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(path + "/coef"))

    writer = stream_df.writeStream.foreachBatch(write_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def cluster_assign_stream_sink(
    stream_df: DataFrame,
    centroids,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str | None = None,
):
    """Streaming cluster-assignment monitor: every micro-batch of
    embeddings is assigned to FIXED centroids (a trained
    :func:`lindel_spark.clustering.kmeans_lloyd` /
    ``cluster_centroids`` snapshot, passed as ``[(cluster,
    [coords…]), …]`` or a 2-D array-like) via the same broadcast
    argmin plan as the batch :func:`assign_clusters`, and the
    per-batch per-cluster occupancy ``(batch_id, cluster, n,
    sum_dist2)`` appends to ``path/counts`` — the live "is the
    corpus drifting away from its clusters" readout (rising
    ``sum_dist2/n`` or a starving cluster = retrain signal).

    Replay-safe the :func:`linear_probe_stream_sink` way: each
    batch's rows land in their own ``b=<id>`` partition with DYNAMIC
    partition overwrite, so a replayed batch overwrites itself and
    never double-counts — and the same batch-0 RESTART guard
    applies: a checkpoint-less restart reuses batch ids and would
    silently mix two runs' partitions, so batch 0 arriving against a
    counts directory that already holds later batches raises.
    Because assignments to fixed centroids are stateless per row,
    the stream drained over any slicing equals the batch assignment
    over the union — pytest-pinned exactly.
    """
    from lindel_spark import fs as _fs
    from lindel_spark.clustering import assign_clusters

    rows = []
    for i, c in enumerate(centroids):
        if isinstance(c, (tuple, list)) and len(c) == 2 \
                and not isinstance(c[1], (int, float)):
            rows.append((int(c[0]), [float(x) for x in c[1]]))
        else:
            rows.append((int(i), [float(x) for x in c]))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if int(batch_id) == 0 and _fs.exists(spark, path + "/counts"):
            stale = [n for n in _fs.list_names(spark,
                                               path + "/counts")
                     if n.startswith("b=") and n != "b=0"]
            if stale:
                raise ValueError(
                    "cluster_assign_stream_sink: batch 0 arrived "
                    f"but {path}/counts already holds later batches "
                    f"({sorted(stale)[:3]}…) — a restart without a "
                    "checkpoint would mix two runs' occupancy. Pass "
                    "checkpoint= or clear the path.")
        cent = local_frame(spark, rows, "c long, cvec array<double>")
        assign = assign_clusters(batch_df, cent, id_col=id_col,
                                 vec_col=vec_col)
        out = (assign.groupBy("cluster")
               .agg(F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum("dist2").alias("sum_dist2"))
               .withColumn("b", F.lit(int(batch_id))))
        (out.coalesce(1).write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("b").parquet(path + "/counts"))

    writer = stream_df.writeStream.foreachBatch(write_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer
