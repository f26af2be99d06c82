"""Cluster-preserving Parquet writes keyed on a space-filling curve.

This is the product the reference exists for (docs/README.md:51-72):
``ORDER BY hilbert_encode([...])`` before ``COPY TO ... PARQUET`` so
Parquet row-group min/max statistics cluster and scans skip row
groups.  On Spark the idiomatic, shuffle-bounded formulation is
``repartitionByRange(k, key).sortWithinPartitions(key)`` — a single
range-partitioning shuffle plus a per-partition external sort, which
scales to 1000-executor clusters (a global ``orderBy`` has the same
shuffle shape, but repartitionByRange + sortWithinPartitions makes the
file-per-partition layout explicit and lets callers pick ``k`` to
target their output file size).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lindel_spark.functions import (
    hilbert_encode,
    morton_encode,
    morton_encode_native,
)
from lindel_spark.types import elem_type, encode_output_bits

_KEY = "__lindel_zorder_key__"


def zorder_key(cols: Sequence, elem: str | None = "int32",
               curve: str = "hilbert", df: DataFrame | None = None) -> Column:
    """The sort-key Column for a z-order/hilbert clustering of ``cols``.

    Picks the cheapest bit-identical implementation: the pure-Column
    (whole-stage codegen) Morton path when legal, else the JVM encode
    UDF.  On 4M int32 pairs (``scripts/curve_cost_probe.py``,
    ``local[4]``) the codegen Morton key costs ~10–30 ns per row per
    core above the scan, the JVM Morton UDF ~85–120 ns and the JVM
    Hilbert key ~145–165 ns.  For 128-bit keys the key is big-endian
    binary, whose lexicographic order equals unsigned numeric order, so range
    partitioning still clusters correctly.
    ``elem=None`` + ``df=`` infers the element type from the schema.
    """
    from lindel_spark.functions import _resolve_elem

    elem = _resolve_elem(list(cols), elem, df)
    et = elem_type(elem)
    total = encode_output_bits(et.bits, len(cols))
    if curve == "morton":
        if not et.is_float and total <= 64:
            return morton_encode_native(cols, elem)
        return morton_encode(list(cols), elem, output="auto")
    if curve != "hilbert":
        raise ValueError(f"LINDEL: unknown curve {curve!r}")
    return hilbert_encode(list(cols), elem, output="auto")


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_file_mb: int = 512,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> dict:
    """Small-files compaction: rewrite a parquet dataset into
    ~``target_file_mb``-sized files, optionally re-clustered.

    Streaming sinks and incremental appends (e.g. :func:`ivf_append`,
    per-microbatch writers) accrete many small files; at cluster scale
    each file costs a task, a footer read, and a NameNode/listing
    entry, so scan throughput degrades long before data size does.
    This is the maintenance pass: file count is derived from the
    *actual on-disk bytes* (never a row-count guess, which breaks on
    wide rows), and with ``sort_cols`` the rewrite range-partitions +
    sorts so downstream scans also get row-group skipping — pass the
    same keys you'd give :func:`zorder_write` for 1-D predicates.

    Scale shape: one shuffle (round-robin ``repartition`` or range
    partition), no driver data path; the listing walk is
    metadata-only. Returns ``{files_before, files_after, bytes,
    rows}`` for audit logs.
    """
    from lindel_spark import fs as _fs

    total_bytes, files_before = _fs.du_suffix(spark, src_path)
    n_files = max(1, round(total_bytes / (target_file_mb * (1 << 20))))
    df = spark.read.parquet(src_path)
    if sort_cols:
        out = (df.repartitionByRange(n_files, *[F.col(c) for c in sort_cols])
               .sortWithinPartitions(*[F.col(c) for c in sort_cols]))
    else:
        out = df.repartition(n_files)
    out.write.mode(mode).parquet(dst_path)
    _after_bytes, files_after = _fs.du_suffix(spark, dst_path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total_bytes,
        "rows": spark.read.parquet(dst_path).count(),
    }


def zorder_write(
    df: DataFrame,
    cols: Sequence,
    path: str,
    elem: str | None = "int32",
    curve: str = "hilbert",
    num_files: int | None = None,
    mode: str = "overwrite",
    format: str = "parquet",
    partition_by: Sequence[str] | None = None,
    **writer_options,
) -> None:
    """Write ``df`` clustered along a space-filling curve over ``cols``.

    Equivalent of the reference's motivating recipe
    (docs/README.md:56-70) as one call:

        zorder_write(df, ["pickup_x", "pickup_y"], path, elem="int32")

    ``elem=None`` infers the element type from ``df.schema`` when
    ``cols`` are plain column names.

    ``num_files`` bounds output file count (defaults to Spark's
    shuffle parallelism).  The curve key is dropped before writing.

    With ``partition_by``, rows are hive-partitioned on those columns
    and curve-clustered *within* each partition: one range shuffle on
    (partition cols, key) keeps each task writing a contiguous slice
    of one partition directory — no small-files explosion, and range
    predicates get partition pruning AND row-group skipping.

    ``repartitionByRange`` derives its bounds by *sampling the child
    plan*, so the curve key is evaluated twice: once for the range
    sampler, once for the shuffle.  That is cheaper than caching the
    keyed input: with the JVM kernel, bench.py's ``zorder_write_i32x2``
    (sf0.1, 4 cores) took 2.3 s re-evaluating the key and 3.7 s with
    the keyed frame persisted between the two jobs.
    """
    keyed = df.withColumn(_KEY, zorder_key(cols, elem, curve, df=df))
    range_cols = (
        [F.col(c) for c in partition_by] if partition_by else []
    ) + [F.col(_KEY)]
    if num_files is not None:
        ranged = keyed.repartitionByRange(num_files, *range_cols)
    else:
        ranged = keyed.repartitionByRange(*range_cols)
    out = ranged.sortWithinPartitions(*range_cols).drop(_KEY)
    writer = out.write.mode(mode).format(format)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in writer_options.items():
        writer = writer.option(k, v)
    writer.save(path)


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key_cols,
    delete_col: str | None = None,
) -> DataFrame:
    """MERGE INTO semantics over DataFrames: rows of ``updates``
    replace same-key rows of ``target`` (WHEN MATCHED THEN UPDATE),
    new keys are inserted (WHEN NOT MATCHED THEN INSERT), and — when
    ``delete_col`` names a boolean tombstone column on ``updates`` —
    matched keys whose update is a tombstone disappear (WHEN MATCHED
    AND delete THEN DELETE).

    Precondition: ``updates`` has at most one row per key (compact a
    changelog first with :func:`lindel_spark.dedup.latest_by_key`,
    which also produces the tombstone shape this consumes).

    Shape at scale: one anti-join keyed on ``key_cols`` plus a
    union — when ``updates`` is the typical small delta, Spark
    broadcasts it and the snapshot is rewritten in a single map-side
    pass with no shuffle of the target; a same-scale updates side
    degrades gracefully to a shuffled anti-join on the key.
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    survivors = target.join(
        updates.select(*key_cols).distinct(), key_cols, "left_anti")
    live = updates
    if delete_col is not None:
        live = updates.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))).drop(delete_col)
    return survivors.unionByName(live)


def bucketed_write(
    df: DataFrame,
    table: str,
    bucket_cols,
    n_buckets: int,
    sort_cols=None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) Parquet
    table: rows are hash-partitioned into ``n_buckets`` files per
    partition by ``bucket_cols`` at write time.

    This is the co-location contract that removes the join shuffle:
    two tables bucketed on their join key with the SAME bucket count
    sort-merge-join with NO Exchange on either side — the dominant
    shuffle of a repeated big-to-big join is paid once at write time
    and amortized over every subsequent join/aggregation on that key
    (asserted plan-level in tests/test_bucketing_join.py). At 100 TB
    this is the difference between re-shuffling the fact table per
    query and never shuffling it.

    Bucketed data must go through the session catalog
    (``saveAsTable``); pass ``path`` to put the files somewhere
    explicit (e.g. a temp dir in tests) instead of the warehouse dir.
    """
    if isinstance(bucket_cols, str):
        bucket_cols = [bucket_cols]
    if isinstance(sort_cols, str):
        sort_cols = [sort_cols]
    w = (df.write.format("parquet").mode(mode)
         .bucketBy(n_buckets, *bucket_cols))
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols,
    compare_cols=None,
) -> DataFrame:
    """Row-level diff between two snapshots of a keyed table:
    returns (key..., status) with status in
    ``added | removed | changed | unchanged``.

    ``compare_cols`` defaults to every shared non-key column; rows
    compare NULL-safely (``<=>``). The data-ops audit step between
    pipeline runs — count the statuses to alert on unexpected churn,
    or filter ``status != 'unchanged'`` as a poor-man's CDC extract.

    One full-outer join keyed on ``key_cols`` — the same shuffle
    shape as the merge that produced the snapshot; AQE handles skew.
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    if compare_cols is None:
        compare_cols = [c for c in old.columns
                        if c in set(new.columns) and c not in key_cols]
    o = old.select(*key_cols,
                   *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
                   F.lit(1).alias("__in_o"))
    n = new.select(*key_cols,
                   *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
                   F.lit(1).alias("__in_n"))
    j = o.join(n, key_cols, "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    status = (
        F.when(F.col("__in_o").isNull(), F.lit("added"))
        .when(F.col("__in_n").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*key_cols, status.alias("status"))


# ---------------------------------------------------------------------------
# incremental z-order store: append fast, re-cluster when degraded
# ---------------------------------------------------------------------------

def _zstore_commits(path: str) -> str:
    from lindel_spark import fs as _fs

    return _fs.join(path, "_commits")


def _zstore_commit(spark, path: str, v: int) -> None:
    from lindel_spark import fs as _fs

    _fs.commit_new(spark, _fs.join(_zstore_commits(path), f"v{v}"))


def _zstore_latest(spark, path: str) -> int | None:
    """Current base version: max of the append-only commit log
    (``_commits/v{N}``), or None when no version is committed."""
    from lindel_spark import fs as _fs

    vs = _fs.committed_versions(spark, _zstore_commits(path))
    return vs[-1] if vs else None


def _zstore_current(spark, path: str) -> tuple[int, dict, "StructType"]:
    """(latest version, ``_META`` record, read schema), read once per
    store op. ``_META`` is committed once at init, before the first
    version: ``stat_cols`` (min/max-indexed columns), ``bloom_cols``
    (columns whose Parquet files carry bloom filters) and the schema a
    read of the base returns, so no read re-infers it from footers."""
    import json

    from pyspark.sql.types import StructType

    from lindel_spark import fs as _fs

    v = _zstore_latest(spark, path)
    if v is None:
        raise FileNotFoundError(f"LINDEL: no zorder store at {path}")
    rec = json.loads(_fs.read_text(spark, _fs.join(path, "_META")))
    return v, rec, StructType.fromJson(rec["schema"])


# Bloom filters are Parquet's own split-block filters, sized from the
# data: the adaptive writer keeps a ladder of candidate filters, halving
# from parquet-mr's 1 MiB maximum down to its 32 B minimum (16 rungs),
# and writes the smallest one that holds the distinct values it saw.
_BLOOM_CANDIDATES = 16


def _bloom_options(bloom_cols) -> dict:
    """Parquet writer options that write a bloom filter per column
    chunk for each of ``bloom_cols``."""
    opts = ({"parquet.bloom.filter.adaptive.enabled": "true"}
            if bloom_cols else {})
    for c in bloom_cols:
        opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
        opts[f"parquet.bloom.filter.candidates.number#{c}"] = str(
            _BLOOM_CANDIDATES)
    return opts


def _write_manifest(spark, data_dir: str, manifest_dir: str,
                    stat_cols, files=None) -> None:
    """Build the per-file min/max manifest of ``data_dir`` (or of an
    explicit ``files`` subset) and commit it to ``manifest_dir`` as one
    ``part-<uuid>.parquet``, serialized on the driver and published by
    :func:`lindel_spark.fs.commit_new` (tmp file, then rename), so a
    reader never lists a torn part. Footers are read ONCE per written
    version, so reads never re-pay them. A base version's manifest
    (``files`` None) first clears ``manifest_dir`` of a crashed
    maintainer's leftovers."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lindel_spark import fs as _fs
    from lindel_spark.profile import file_minmax_manifest

    man = file_minmax_manifest(spark, data_dir, stat_cols, files=files)
    if files is None:
        _fs.delete(spark, manifest_dir, recursive=True)
    buf = pa.BufferOutputStream()
    pq.write_table(man, buf)
    _fs.commit_new(spark,
                   _fs.join(manifest_dir, f"part-{uuid.uuid4().hex}.parquet"),
                   buf.getvalue().to_pybytes())


def zorder_store_init(df: DataFrame, cols: Sequence, path: str,
                      stat_cols: Sequence[str] | None = None,
                      bloom_cols: Sequence[str] | None = None,
                      **zorder_kwargs) -> None:
    """Create an incremental z-order store: a curve-clustered ``base``
    plus a ``tail`` for cheap appends, with a PERSISTED per-file
    min/max manifest so range reads never re-sweep parquet footers.
    Layout::

        path/_commits/v{N}    -> append-only commit log (latest = max)
        path/_META            -> stat_cols/bloom_cols/schema (once)
        path/base-v{N}/       -> zorder_write output (clustered)
        path/manifest-v{N}/   -> per-file min/max stats for base-v{N}
        path/manifest-tail/   -> incremental stats, one part per append
        path/tail/            -> plain appended parquet (unclustered)

    ``stat_cols`` names the data columns indexed in the manifest (the
    columns range queries will prune on); it defaults to the
    plain-string entries of ``cols``. ``bloom_cols`` names columns
    whose Parquet files (base and tail alike) carry native bloom
    filters (https://github.com/apache/parquet-format/blob/master/BloomFilter.md),
    sized from the data by the adaptive writer — the point-lookup
    complement: min/max prunes RANGE predicates on clustered columns,
    a bloom filter lets the Parquet reader drop row groups for an
    EQUALITY probe on ANY column, clustered or not
    (:func:`zorder_store_lookup`). The manifest's footers are read
    ONCE per written base version (on the driver up to
    ``profile.MANIFEST_DRIVER_FILES`` files, by one distributed footer
    job above) and the manifest is committed as one Parquet part
    through :func:`lindel_spark.fs.commit_new` —
    :func:`zorder_store_select` then reads the stored manifest instead
    of sweeping footers per query, which is the whole point of a stats
    index at 10^5-10^6 files. ``_META`` also records the schema a read
    of the base returns, so reads never re-infer it.

    Versioned directories + an append-only commit log, never in-place
    rewrites — the object-store-safe pattern (no atomic directory
    overwrite exists on S3-likes; no committed object is ever
    rewritten or deleted, so there is no torn-marker window — see
    :mod:`lindel_spark.fs`). All metadata I/O goes through the Hadoop
    FileSystem API, so the store works on ``s3a://``/``hdfs://``
    paths.

    Writer contract: appends are multi-writer-safe (parquet append of
    distinct part files; tail stats are advisory and lag-tolerant),
    but init and :func:`zorder_store_maintain` assume ONE maintainer
    at a time — a racing maintainer fails loudly on the version commit
    (:func:`lindel_spark.fs.commit_new` refuses an existing version)
    instead of corrupting the store; true concurrent maintenance needs
    a log-structured table format (Delta/Iceberg), out of scope.
    Maintenance never loses concurrent appends (see
    :func:`zorder_store_maintain`'s tail snapshot).
    """
    import json

    from lindel_spark import fs as _fs

    retired = sorted({"bloom_m_bits", "bloom_k"} & set(zorder_kwargs))
    if retired:
        raise TypeError(
            f"LINDEL: {retired} no longer exist — bloom_cols are native "
            f"Parquet bloom filters sized from the data")
    if stat_cols is None:
        stat_cols = [c for c in cols if isinstance(c, str)]
    stat_cols = list(stat_cols)
    bloom_cols = list(bloom_cols or [])
    spark = df.sparkSession
    base = _fs.join(path, "base-v0")
    zorder_write(df, cols, base, **_bloom_options(bloom_cols),
                 **zorder_kwargs)
    if stat_cols:
        _write_manifest(spark, base, _fs.join(path, "manifest-v0"),
                        stat_cols)
    schema = json.loads(spark.read.parquet(base).schema.json())
    _fs.commit_new(spark, _fs.join(path, "_META"),
                   json.dumps({"stat_cols": stat_cols,
                               "bloom_cols": bloom_cols,
                               "schema": schema}))
    _zstore_commit(spark, path, 0)


def zorder_store_append(df: DataFrame, path: str) -> None:
    """Fast append: plain parquet into ``tail/`` — no sort, no
    shuffle beyond the write itself — plus INCREMENTAL manifest stats
    for exactly the files this append created (footers of the new
    files only, never a rescan of the resident tail). Reads stay
    correct (the store reader unions base + tail); tail stats let
    :func:`zorder_store_select` prune tail files too, and clustering
    degrades only until :func:`zorder_store_maintain` folds the tail.
    The tail files carry the same bloom filters as the base.

    The frame's column names and types must match the schema recorded
    at init (checked on the driver, no job); a mismatch raises
    ``ValueError``.

    Multi-writer-safe: data lands first, stats after, so a concurrent
    reader at worst scans a new file conservatively (stats are
    advisory — correctness never depends on a tail stats row being
    present)."""
    from lindel_spark import fs as _fs

    spark = df.sparkSession
    tail_dir = _fs.join(path, "tail")
    _v, meta, schema = _zstore_current(spark, path)
    # a read under the store's schema would silently drop or null a
    # mismatched column; nullability is not part of the check (Parquet
    # reads every column back nullable)
    want, got = ({f.name: f.dataType.simpleString() for f in st.fields}
                 for st in (schema, df.schema))
    if got != want:
        raise ValueError(
            f"LINDEL: appended frame does not match the store's schema: "
            f"frame has {sorted(got.items() - want.items())}, store has "
            f"{sorted(want.items() - got.items())}")
    stat_cols = meta["stat_cols"]
    before = set(_fs.list_files(spark, tail_dir)) if stat_cols else set()
    df.write.mode("append").options(
        **_bloom_options(meta["bloom_cols"])).parquet(tail_dir)
    if stat_cols:
        new_files = sorted(
            set(_fs.list_files(spark, tail_dir)) - before)
        if new_files:
            _write_manifest(spark, tail_dir,
                            _fs.join(path, "manifest-tail"),
                            stat_cols, files=new_files)


def zorder_store_read(spark, path: str,
                      version: int | None = None) -> DataFrame:
    """Store contents: latest base ∪ tail (if any). Pass ``version``
    to time-travel to a retained earlier base (maintenance keeps the
    previous version; the tail is NOT applied to historical reads —
    it belongs to the current version's timeline)."""
    from lindel_spark import fs as _fs

    v, _meta, schema = _zstore_current(spark, path)
    read = spark.read.schema(schema)
    if version is not None:
        vdir = _fs.join(path, f"base-v{version}")
        if not _fs.is_dir(spark, vdir):
            raise FileNotFoundError(
                f"LINDEL: version {version} not retained at {path}")
        return read.parquet(vdir)
    out = read.parquet(_fs.join(path, f"base-v{v}"))
    tail_files = _fs.list_files(spark, _fs.join(path, "tail"))
    if tail_files:
        out = out.unionByName(read.parquet(*tail_files))
    return _zstore_apply_deletes(spark, path, out)


def zorder_store_maintain(spark, path: str, cols: Sequence,
                          tail_ratio: float = 0.1,
                          **zorder_kwargs) -> dict:
    """Re-cluster when the unsorted tail exceeds ``tail_ratio`` of the
    base bytes: base ∪ tail is rewritten curve-clustered into
    ``base-v{N+1}``, the marker flips atomically, and the old base +
    the folded tail files are removed. Below the threshold it is a
    no-op (the tail's skipping loss isn't worth a full rewrite yet) —
    amortized, the store is rewritten O(log) times per doubling, the
    standard compaction amortization.

    Concurrency: the tail file list (and the tail-stats part list) is
    SNAPSHOTTED before the read — the rewrite folds exactly those
    files and deletes exactly those files, so rows appended by a
    concurrent :func:`zorder_store_append` between the read and the
    cleanup are never lost (they stay in the tail for the next
    maintenance pass). Only ONE maintainer may run at a time: a racer
    fails loudly on the version commit (append-only log, see
    :func:`zorder_store_init`) rather than corrupting the store.

    The new base is written with the store's bloom filters, and its
    manifest is rebuilt from the footers of the files the rewrite just
    produced and committed alongside it — reads keep paying zero
    footer I/O.

    Returns stats: ``{"rewritten": bool, "base_bytes": int,
    "tail_bytes": int}``.
    """
    from lindel_spark import fs as _fs

    v, meta, schema = _zstore_current(spark, path)
    base_dir = _fs.join(path, f"base-v{v}")
    tail_dir = _fs.join(path, "tail")
    bb, _nb = _fs.du_suffix(spark, base_dir)
    tb, _nt = _fs.du_suffix(spark, tail_dir)
    # tombstone snapshot (round 11): pending deletes always make the
    # rewrite worthwhile — the physical purge is the point — and the
    # snapshot bounds what this pass folds/clears, so keys tombstoned
    # by a concurrent delete mid-rewrite survive to the next pass
    dsnap = {
        c: _fs.list_files(spark, _fs.join(path, "deletes", c))
        for c in _zstore_delete_cols(spark, path)
    }
    dsnap = {c: fl for c, fl in dsnap.items() if fl}
    if not dsnap and (tb == 0 or (bb > 0 and tb / bb < tail_ratio)):
        return {"rewritten": False, "base_bytes": bb, "tail_bytes": tb}
    # snapshot stats parts BEFORE tail files: every part in this
    # snapshot describes only files visible in the later tail listing
    # (appends write data first, stats after), so deleting exactly
    # these two snapshots never orphans a live tail file's stats
    mtail_parts = _fs.list_files(spark, _fs.join(path, "manifest-tail"))
    tail_files = _fs.list_files(spark, tail_dir)
    read = spark.read.schema(schema)
    merged = read.parquet(base_dir)
    if tail_files:
        merged = merged.unionByName(read.parquet(*tail_files))
    if dsnap:
        merged = _zstore_apply_deletes(spark, path, merged,
                                       files=dsnap)
    new_base = _fs.join(path, f"base-v{v + 1}")
    zorder_write(merged, cols, new_base,
                 **_bloom_options(meta["bloom_cols"]), **zorder_kwargs)
    if meta["stat_cols"]:
        _write_manifest(spark, new_base,
                        _fs.join(path, f"manifest-v{v + 1}"),
                        meta["stat_cols"])
    _zstore_commit(spark, path, v + 1)
    # retain the immediately-previous base for time travel; prune older
    for d in _fs.list_names(spark, path):
        if (d.startswith(("base-v", "manifest-v"))
                and int(d.rsplit("-v", 1)[1]) < v):
            _fs.delete(spark, _fs.join(path, d), recursive=True)
    for f in tail_files + mtail_parts:
        _fs.delete(spark, f, recursive=False)
    # tombstones are physically folded into base-v{N+1}: clear exactly
    # the snapshotted files (a concurrent delete's parts stay pending)
    for fl in dsnap.values():
        for f in fl:
            _fs.delete(spark, f, recursive=False)
    return {"rewritten": True, "base_bytes": bb, "tail_bytes": tb}


def _zstore_pruned_read(spark, path: str, ranges: dict,
                        residual: Column, current: tuple
                        ) -> tuple[DataFrame, dict]:
    """The store's one read path: base and tail files that survive
    min/max pruning of ``ranges``, computed on the DRIVER from the
    persisted manifests (pyarrow + NumPy, no Spark job), scanned with
    the store's schema and filtered by ``residual``. A NULL stat never
    prunes; a listed tail file with no stats row yet (a concurrent
    append's stats still in flight) is scanned; a store without a
    manifest scans every base file. ``current`` is
    :func:`_zstore_current`'s snapshot."""
    from lindel_spark import fs as _fs
    from lindel_spark.profile import (_read_parquet_parts,
                                      _strip_file_scheme,
                                      minmax_survivor_stats,
                                      read_parquet_files)

    v, meta, schema = current
    base_dir = _fs.join(path, f"base-v{v}")
    stat_cols = meta["stat_cols"]
    man_parts = (_fs.list_files(spark, _fs.join(path, f"manifest-v{v}"))
                 if stat_cols else [])
    if man_parts:
        total, scan = minmax_survivor_stats(
            _read_parquet_parts(man_parts), ranges, stat_cols)
    else:
        scan = [_strip_file_scheme(f)
                for f in _fs.list_files(spark, base_dir)]
        total = len(scan)
    stats = {"files_total": total, "files_scanned": len(scan)}

    # normalize to the manifest's path form (list_files returns URIs,
    # the stats job records scheme-stripped paths)
    tail_files = [_strip_file_scheme(f)
                  for f in _fs.list_files(spark, _fs.join(path, "tail"))]
    tail_scan = tail_files
    # reading the explicit part list (not the directory) snapshots
    # against a concurrent maintainer draining the parts, and an
    # all-drained directory simply yields no parts (round-9 ADVICE)
    tail_parts = (_fs.list_files(spark, _fs.join(path, "manifest-tail"))
                  if stat_cols and tail_files else [])
    if tail_parts:
        mtail = _read_parquet_parts(tail_parts)
        _n, keep = minmax_survivor_stats(mtail, ranges, stat_cols)
        known, keep = set(mtail.column("file").to_pylist()), set(keep)
        # live listing is the source of truth: stats rows only ever
        # REMOVE a listed file from the scan, never add one
        tail_scan = [f for f in tail_files
                     if f not in known or f in keep]
    stats["tail_files_total"] = len(tail_files)
    stats["tail_files_scanned"] = len(tail_scan)

    files = scan + tail_scan
    out = (read_parquet_files(spark.read.schema(schema), files)
           .filter(residual)
           if files else spark.createDataFrame([], schema))
    # tombstones are always applied on current-timeline reads
    return _zstore_apply_deletes(spark, path, out), stats


def zorder_store_select(spark, path: str, ranges: dict
                        ) -> tuple[DataFrame, dict]:
    """Range-predicate read of an incremental z-order store with
    FILE-level pruning from the store's PERSISTED manifest (written
    once at init/maintain for the base, incrementally at append for
    the tail), pruned on the driver: NO Spark job runs before the data
    scan and NO parquet footer is opened at query time (a pytest pins
    zero footer reads). Per-file stats are tight on the base because
    it is z-ordered; tail files carry whatever ranges they have.

    ``ranges`` maps column -> (lo, hi) inclusive bounds (None open);
    a ``lo == hi`` range filters by equality, so Parquet bloom
    filters on a ``bloom_cols`` column can drop row groups too.
    Returns ``(df, stats)`` where stats carries the base's
    ``files_total`` / ``files_scanned`` plus ``tail_files_total`` /
    ``tail_files_scanned`` for skip-ratio audits.
    """
    from lindel_spark.profile import range_residual

    return _zstore_pruned_read(spark, path, ranges, range_residual(ranges),
                               _zstore_current(spark, path))


def zorder_store_lookup(spark, path: str, col: str, value,
                        value_type: str | None = None
                        ) -> tuple["DataFrame", dict]:
    """Equality-probe read of an incremental z-order store: ``col =
    value`` through :func:`zorder_store_select`'s driver-pruned read
    (min/max on ``(value, value)`` when ``col`` is a stat column); the
    Parquet reader then drops every row group whose bloom filter rules
    ``value`` out, so an absent key reads no records.

    ``col`` must be in the store's ``bloom_cols`` (recorded at init).
    Pass ``value_type`` to pin the probe literal to the column's Spark
    type when Python's literal type differs (e.g. ``'float'`` for a
    FloatType column); such a cast probe skips min/max pruning, whose
    bounds compare the uncast value. Returns ``(df, stats)`` like
    select: files_scanned counts min/max survivors, so it equals
    files_total when ``col`` is not a stat column.
    """
    current = _zstore_current(spark, path)
    if col not in current[1]["bloom_cols"]:
        raise ValueError(
            f"LINDEL: column {col!r} is not bloom-indexed in this store "
            f"(bloom_cols={current[1]['bloom_cols']}) — pass bloom_cols= at "
            f"zorder_store_init")
    if value_type is None:
        probe, ranges = F.lit(value), {col: (value, value)}
    else:
        probe, ranges = F.lit(value).cast(value_type), {}
    return _zstore_pruned_read(spark, path, ranges, F.col(col) == probe,
                               current)


# ---------------------------------------------------------------------------
# round 11: row-level deletes for the incremental z-order store
# ---------------------------------------------------------------------------

def _zstore_delete_cols(spark, path: str) -> list[str]:
    from lindel_spark import fs as _fs
    ddir = _fs.join(path, "deletes")
    if not _fs.is_dir(spark, ddir):
        return []
    return [d for d in _fs.list_names(spark, ddir)
            if _fs.list_files(spark, _fs.join(ddir, d))]


def _zstore_apply_deletes(spark, path: str, df: "DataFrame",
                          files: dict | None = None) -> "DataFrame":
    """Anti-join the store frame against every tombstone column's key
    set. Tombstones are advisory-until-maintained the same way tail
    stats are — but in the OTHER direction: reads must always apply
    them (a deleted row may still exist physically until the next
    maintenance rewrite). One keyed anti-join per tombstoned column;
    AQE broadcasts the key side while it is small."""
    from lindel_spark import fs as _fs
    cols = (sorted(files) if files is not None
            else _zstore_delete_cols(spark, path))
    for c in cols:
        parts = (files[c] if files is not None
                 else _fs.list_files(spark,
                                     _fs.join(path, "deletes", c)))
        if not parts or c not in df.columns:
            continue
        keys = spark.read.parquet(*parts).select(
            F.col("k").alias("__del_k")).distinct()
        df = df.join(keys, df[c] == F.col("__del_k"), "left_anti")
    return df


def zorder_store_delete(spark, path: str, key_col: str,
                        keys) -> int:
    """Row-level delete from the incremental store by key value —
    the GDPR/right-to-be-forgotten path: tombstone the keys NOW (an
    append-only parquet write, no data rewrite), physically drop the
    rows at the next :func:`zorder_store_maintain` rewrite. Every
    read path (:func:`zorder_store_read`, ``_select``, ``_lookup``)
    anti-joins the tombstones, so deletes are visible immediately;
    historical ``zorder_store_read(version=)`` reads are NOT
    affected (tombstones belong to the current timeline — the same
    contract the tail has).

    ``keys``: a one-column DataFrame or a Python list of values.
    Multi-writer safe (each call appends its own part files).
    Returns the number of distinct keys tombstoned by this call.
    """
    from lindel_spark import fs as _fs

    if _zstore_latest(spark, path) is None:
        raise FileNotFoundError(f"LINDEL: no zorder store at {path}")
    if isinstance(keys, DataFrame):
        kdf = keys.select(F.col(keys.columns[0]).alias("k")).distinct()
    else:
        keys = list(keys)
        if not keys:
            return 0
        kdf = spark.createDataFrame(
            [(k,) for k in keys], ["k"]).distinct()
    n = kdf.count()
    kdf.write.mode("append").parquet(
        _fs.join(path, "deletes", key_col))
    return n


def zorder_store_vacuum(spark, path: str,
                        keep_versions: int = 2) -> dict:
    """Retention vacuum for the incremental z-order store: keep the
    newest ``keep_versions`` committed base versions (with their
    manifests), physically delete everything older.
    :func:`zorder_store_maintain` hard-codes a keep-2 prune for time
    travel; vacuum makes retention a policy — and
    ``keep_versions=1`` is the GDPR COMPLETION step: after a
    tombstone purge rewrites ``base-v{N+1}``, the RETAINED previous
    base still physically holds the deleted rows until this runs.

    Only committed, older-than-retention versions are touched:
    directories numbered above the latest commit (an in-flight
    maintainer's work) are left alone, and the append-only commit
    log is never rewritten — a time-travel read of a vacuumed
    version fails loudly with the existing not-retained error. Pure
    metadata-layer deletes through the Hadoop FileSystem API
    (object-store-safe); the current timeline (base, tail, deletes,
    tail stats) is untouched. Returns ``{"latest", "kept",
    "deleted"}`` directory lists.
    """
    from lindel_spark import fs as _fs

    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    v = _zstore_latest(spark, path)
    if v is None:
        raise FileNotFoundError(f"LINDEL: no zorder store at {path}")
    cutoff = v - keep_versions + 1
    deleted: list[str] = []
    kept: list[str] = []
    for d in _fs.list_names(spark, path):
        if not d.startswith(("base-v", "manifest-v")):
            continue
        try:
            dv = int(d.rsplit("-v", 1)[1])
        except ValueError:
            continue
        if dv > v:
            continue  # in-flight maintainer's uncommitted work
        if dv < cutoff:
            _fs.delete(spark, _fs.join(path, d), recursive=True)
            deleted.append(d)
        else:
            kept.append(d)
    return {"latest": v, "kept": sorted(kept),
            "deleted": sorted(deleted)}
