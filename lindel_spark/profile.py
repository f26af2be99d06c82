"""One-pass dataset profiling: per-column null/distinct/min/max.

The pre-flight every training-data pipeline runs before trusting a new
drop: one aggregation pass over the table (no per-column jobs, no
collect loops) produces a long-format stats frame. Distinct counts are
exact by default (each adds an expand branch to the single aggregate —
fine for profiling runs); pass ``approx=True`` to switch to HLL
``approx_count_distinct`` for cheap continuous monitoring at 100 TB.
"""

from __future__ import annotations

import math
import os
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lindel_spark.util import local_frame


def profile_table(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    approx: bool = False,
) -> DataFrame:
    """(column, n_rows, n_nulls, n_distinct, min_str, max_str) per
    column — one shuffle-free aggregate, exploded to long format.

    min/max are stringified so heterogeneous column types share one
    schema; NULL-only columns yield NULL min/max.
    """
    cols = list(columns) if columns is not None else df.columns
    nd = (F.approx_count_distinct if approx else F.count_distinct)
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).cast("long")
            .alias(f"__nn_{c}"),
            nd(F.col(c)).cast("long").alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    row = df.agg(*aggs)
    structs = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"__nn_{c}").alias("n_nulls"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            F.col(f"__mn_{c}").alias("min_str"),
            F.col(f"__mx_{c}").alias("max_str"),
        )
        for c in cols
    ])
    return (
        row.select(F.col("__n").alias("n_rows"),
                   F.explode(structs).alias("s"))
        .select("s.column", "n_rows", "s.n_nulls", "s.n_distinct",
                "s.min_str", "s.max_str")
    )


def value_histogram(
    df: DataFrame,
    col: str,
    n_bins: int = 20,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equi-width histogram of a numeric column: (bin, lo, hi, n).
    Bounds default to the observed min/max (one tiny extra aggregate,
    broadcast back); the top edge closes into the last bin. Pure
    column math — bin = floor((v-lo)/(hi-lo)*n_bins) — identical in
    any engine, so the profile is oracle-replayable. One map-side-
    combined groupBy over at most ``n_bins`` keys. NULLs are skipped.
    """
    vals = df.select(F.col(col).cast("double").alias("v")).filter(
        F.col("v").isNotNull())
    if lo is None or hi is None:
        bounds = vals.agg(F.min("v").alias("__lo"),
                          F.max("v").alias("__hi"))
        vals = vals.crossJoin(F.broadcast(bounds))
    else:
        vals = vals.withColumn("__lo", F.lit(float(lo))) \
                   .withColumn("__hi", F.lit(float(hi)))
    width = F.col("__hi") - F.col("__lo")
    bin_ = F.when(width == 0, F.lit(0)).otherwise(
        F.least(
            F.lit(n_bins - 1),
            F.floor((F.col("v") - F.col("__lo")) / width * n_bins),
        )
    ).cast("long")
    return (
        vals.select(bin_.alias("bin"), "__lo", "__hi")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"),
             F.first("__lo").alias("range_lo"),
             F.first("__hi").alias("range_hi"))
        .select("bin", "n", "range_lo", "range_hi")
    )


def _strip_file_scheme(uri: str) -> str:
    """``file:/x`` / ``file:///x`` -> ``/x`` for executor-local opens."""
    if uri.startswith("file:"):
        rest = uri[len("file:"):]
        while rest.startswith("//"):
            rest = rest[1:]
        return rest
    return uri


def _arrow_path(path: str):
    """(pyarrow filesystem or None, path in it) for a local path OR a
    filesystem URI: plain and ``file:`` paths open directly;
    ``hdfs://`` / ``s3a://`` (→ ``s3://``) resolve a pyarrow
    filesystem from the URI scheme, so metadata reads work on a remote
    store instead of assuming a POSIX mount (round-8 ADVICE: the
    raw-path open broke exactly the object-store case
    :mod:`lindel_spark.fs` exists for)."""
    path = _strip_file_scheme(path)
    if "://" not in path:
        return None, path
    from pyarrow import fs as pafs

    # pyarrow speaks s3://; Hadoop's connector scheme is s3a://
    return pafs.FileSystem.from_uri(path.replace("s3a://", "s3://", 1))


def _open_footer(path: str):
    """(ParquetFile, file_bytes) for a local path OR a filesystem URI
    (executor-side helper for the footer readers)."""
    import pyarrow.parquet as pq

    filesystem, rel = _arrow_path(path)
    if filesystem is None:
        return pq.ParquetFile(rel), os.path.getsize(rel)
    info = filesystem.get_file_info(rel)
    return pq.ParquetFile(filesystem.open_input_file(rel)), info.size


def _read_parquet_parts(paths) -> "pa.Table":
    """Small Parquet parts (a store's own manifests) read on the
    driver into one Arrow table — metadata-sized, so no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = []
    for p in paths:
        filesystem, rel = _arrow_path(p)
        tables.append(pq.read_table(rel, filesystem=filesystem))
    return pa.concat_tables(tables)


_GLOB_SPECIAL = set("\\*?[]{},")


def read_parquet_files(reader, files: Sequence[str]) -> DataFrame:
    """``reader.parquet(*files)`` that lists its input on the driver.

    Spark lists more than ``parallelPartitionDiscovery.threshold`` (32)
    root paths with a Spark job of one task per path, before the scan.
    So the files are read through their parent directories, filtered by
    a ``pathGlobFilter`` alternation of their names: one directory per
    Spark write layout (a store's ``base-v{N}`` and ``tail``) is one
    root path whatever the file count.  Spark names files
    ``part-<task>-<write uuid>``, so within one dataset a name rarely
    recurs; where it does (a partitioned write puts one name in each
    partition directory a task wrote), the namesake is read too.
    Callers filter with the exact predicate, so that costs pruning,
    never rows.
    """
    dirs, names = {}, {}
    for f in files:
        d, name = f.rsplit("/", 1)
        dirs[d] = None
        names["".join("\\" + ch if ch in _GLOB_SPECIAL else ch
                      for ch in name)] = None
    return (reader.option("pathGlobFilter", "{" + ",".join(names) + "}")
            .parquet(*dirs))


def parquet_layout_report(spark, path: str) -> DataFrame:
    """Physical-layout audit of a parquet directory: one row per data
    file with (file, bytes, n_rows, n_row_groups) read from the
    footers — the input to small-files triage
    (:func:`lindel_spark.write.compact_parquet`) and clustering
    checks (tight per-file key ranges after
    :func:`~lindel_spark.write.zorder_write`).

    Footer reads run DISTRIBUTED: the file list parallelizes and each
    executor opens only footers (`pyarrow.parquet`), never data pages
    — at 100 TB this is a listing-bounded metadata job, not a scan.
    The listing itself goes through the Hadoop FileSystem API
    (:mod:`lindel_spark.fs`), so object-store paths list correctly;
    executor-side footer opens use local paths (``file:`` URIs are
    normalized — remote object-store footers would take a pyarrow
    filesystem handle, wired the same way).
    """
    from pyspark.sql import types as T

    from lindel_spark import fs as _fs

    files = sorted(
        _strip_file_scheme(f)
        for f in _fs.list_files(spark, path)
        if not f.rsplit("/", 1)[-1].startswith(("_", "."))
    )
    fdf = local_frame(spark, [(f,) for f in files], "file string") \
        .repartition(min(len(files), 64) or 1)
    out_schema = T.StructType([
        T.StructField("file", T.StringType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_row_groups", T.LongType()),
    ])

    def read_footers(batches):
        import pandas as pd

        for b in batches:
            rows = []
            for f in b["file"]:
                pf, nbytes = _open_footer(f)
                md = pf.metadata
                rows.append((f, nbytes, md.num_rows,
                             md.num_row_groups))
            yield pd.DataFrame(
                rows, columns=["file", "bytes", "n_rows",
                               "n_row_groups"])

    return fdf.mapInPandas(read_footers, out_schema)


def expectations_report(
    df: DataFrame,
    expectations: Sequence[tuple],
) -> DataFrame:
    """Deequ-style constraint validation in ONE aggregation pass.

    ``expectations`` is a sequence of tuples:

    * ``("not_null", col)`` — no NULLs allowed
    * ``("unique", col)`` — values distinct (NULLs ignored)
    * ``("range", col, lo, hi)`` — every non-NULL value in [lo, hi]
    * ``("regex", col, pattern, min_rate)`` — fraction of non-NULL
      values matching ``pattern`` is ≥ ``min_rate``
    * ``("accepted", col, values)`` — every non-NULL value ∈ values

    Returns long format ``(constraint, column, metric, passed)`` where
    ``metric`` is the measured satisfaction rate in [0, 1]. All checks
    compile into a single Catalyst aggregate — one table scan, no
    per-check jobs, no driver loops — so validating a 100 TB drop
    costs one pass regardless of how many constraints it carries.
    """
    aggs = [F.count(F.lit(1)).cast("double").alias("__n")]
    specs = []  # (constraint, column, metric_name, pass_expr_name)
    for i, exp in enumerate(expectations):
        kind, col = exp[0], exp[1]
        c = F.col(col)
        name = f"__m{i}"
        if kind == "not_null":
            metric = F.avg(F.when(c.isNotNull(), 1.0).otherwise(0.0))
            passed = F.col(name) >= 1.0
        elif kind == "unique":
            metric = (F.count_distinct(c).cast("double")
                      / F.count(c).cast("double"))
            passed = F.col(name) >= 1.0
        elif kind == "range":
            lo, hi = exp[2], exp[3]
            metric = F.avg(
                F.when(c.isNull(), None)
                .when((c >= F.lit(lo)) & (c <= F.lit(hi)), 1.0)
                .otherwise(0.0))
            passed = F.col(name) >= 1.0
        elif kind == "regex":
            pattern, min_rate = exp[2], exp[3]
            metric = F.avg(
                F.when(c.isNull(), None)
                .when(c.cast("string").rlike(pattern), 1.0)
                .otherwise(0.0))
            passed = F.col(name) >= float(min_rate)
        elif kind == "accepted":
            values = list(exp[2])
            metric = F.avg(
                F.when(c.isNull(), None)
                .when(c.isin(values), 1.0).otherwise(0.0))
            passed = F.col(name) >= 1.0
        else:
            raise ValueError(f"LINDEL: unknown expectation {kind!r}")
        aggs.append(metric.alias(name))
        specs.append((kind, col, name, passed))
    row = df.agg(*aggs)
    structs = F.array(*[
        F.struct(
            F.lit(kind).alias("constraint"),
            F.lit(col).alias("column"),
            F.coalesce(F.col(name), F.lit(1.0)).alias("metric"),
            F.coalesce(passed, F.lit(True)).alias("passed"),
        )
        for kind, col, name, passed in specs
    ])
    return (
        row.select(F.explode(structs).alias("s"))
        .select("s.constraint", "s.column", "s.metric", "s.passed")
    )


def k_anonymity_report(
    df: DataFrame,
    quasi_identifiers: Sequence[str],
    k: int,
) -> DataFrame:
    """Group sizes over the quasi-identifier tuple — the k-anonymity
    audit a dataset needs before release alongside pseudonymization.

    One row per equivalence class: the quasi-identifier values,
    ``group_n`` (class size), and ``anonymous`` (size ≥ k; classes
    below k identify individuals and need suppression or
    generalization). Map-side-combined groupBy on the QI tuple — one
    shuffle whose key count is the number of equivalence classes, not
    rows. The dataset's k-anonymity level is ``min(group_n)``.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    return (
        df.groupBy(*quasi_identifiers)
        .agg(F.count(F.lit(1)).alias("group_n"))
        .withColumn("anonymous", F.col("group_n") >= F.lit(k))
    )


def referential_integrity_report(
    pairs: Sequence[tuple],
) -> DataFrame:
    """Cross-table foreign-key audit: each entry is ``(name, child_df,
    child_key, parent_df, parent_key)``; the report has one row per
    relationship with child row count, orphan count (child keys
    absent from the parent, NULLs excluded), and ``intact``.

    Orphans are counted with a LEFT ANTI join against the parent's
    distinct keys — key-partitioned, broadcast when the parent is
    small, never a collect. The lakehouse pre-flight that catches
    broken ingestion ordering (children landing before parents).
    """
    out = None
    for name, child, child_key, parent, parent_key in pairs:
        keys = parent.select(
            F.col(parent_key).alias("__pk")).distinct()
        ch = child.select(F.col(child_key).alias("__ck")).filter(
            F.col("__ck").isNotNull())
        orphans = ch.join(keys, ch["__ck"] == keys["__pk"],
                          "left_anti")
        row = (
            ch.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
            .crossJoin(
                orphans.agg(F.count(F.lit(1)).cast("long")
                            .alias("n_orphans")))
            .select(
                F.lit(name).alias("relationship"),
                "n_child", "n_orphans",
                (F.col("n_orphans") == 0).alias("intact"),
            )
        )
        out = row if out is None else out.unionByName(row)
    if out is None:
        raise ValueError("pass at least one relationship")
    return out


# ---------------------------------------------------------------------------
# file-level min/max manifest index: build once, prune scans forever
# ---------------------------------------------------------------------------

# file-count bound for the driver-side footer reads: footers are O(KB)
# metadata reads, so the bound caps driver work, not data
MANIFEST_DRIVER_FILES = 64


def file_minmax_manifest(spark, path: str, cols, files=None) -> "pa.Table":
    """Per-file (min, max, n_rows) manifest for ``cols`` over a parquet
    dataset, read from FOOTERS only — the poor-man's table-format
    statistics index (what Delta/Iceberg keep in their metadata logs).

    Build it once after a :func:`lindel_spark.write.zorder_write` (or
    any clustered layout) and :func:`manifest_pruned_read` turns range
    predicates into file-level pruning BEFORE Spark's scan even
    lists row groups — at 100 TB with thousands of files this removes
    whole files from the task list, upstream of (and compounding with)
    parquet row-group skipping.

    Returns a pyarrow Table on the driver, one row per file: ``file``,
    ``n_rows`` and a ``min_<c>``/``max_<c>`` double pair per column
    (the min/max over the file's row-group statistics, padded 1 ulp
    outward; NULL when a row group has no statistics). Up to
    ``MANIFEST_DRIVER_FILES`` files the driver reads the footers
    itself, with no Spark job; above it the file list fans out to a
    distributed footer job whose rows are collected. Pass ``files`` to
    build stats for an explicit subset (e.g. the files one append just
    wrote — the incremental path of a persisted store manifest)
    instead of listing ``path``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    from lindel_spark import fs as _fs

    if isinstance(cols, str):
        cols = [cols]
    cols = list(cols)
    if files is None:
        files = _fs.list_files(spark, path)
    files = sorted(
        _strip_file_scheme(f)
        for f in files
        if not f.rsplit("/", 1)[-1].startswith(("_", "."))
    )
    schema = pa.schema(
        [("file", pa.string()), ("n_rows", pa.int64())]
        + [(f"{b}_{c}", pa.float64()) for c in cols for b in ("min", "max")])

    def footer_rec(f):
        import math
        from fractions import Fraction

        md = _open_footer(f)[0].metadata
        names = {md.schema.column(i).name: i
                 for i in range(md.num_columns)}
        rec = {"file": f, "n_rows": md.num_rows}
        for c in cols:
            lo, hi = None, None
            ci = names[c]
            # pyarrow cannot convert an int-backed decimal's statistics,
            # so a decimal's are read raw (an int, or big-endian two's
            # complement bytes) and scaled exactly
            dec = md.schema.column(ci)
            scale = dec.scale if dec.logical_type.type == "DECIMAL" else None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ci).statistics
                if st is None or not st.has_min_max:
                    lo, hi = None, None
                    break
                if scale is None:
                    mn, mx = float(st.min), float(st.max)
                else:
                    mn, mx = (float(Fraction(
                        int.from_bytes(r, "big", signed=True)
                        if isinstance(r, bytes) else r, 10 ** scale))
                        for r in (st.min_raw, st.max_raw))
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            if lo is not None:
                # int64 stats beyond 2^53 round to the nearest
                # double, which could round min UP / max DOWN
                # and wrongly prune a file the predicate needs;
                # pad 1 ulp outward so bounds stay conservative
                lo = math.nextafter(lo, -math.inf)
                hi = math.nextafter(hi, math.inf)
            rec[f"min_{c}"], rec[f"max_{c}"] = lo, hi
        return rec

    # size-bound routing (round-15; guide §1.2/§5): a footer is an
    # O(KB) metadata read, so for a small file list the driver reads
    # them directly — the distributed path pays a shuffle plus a
    # Python-worker spin-up to do ~0.1 s of work (measured 2–3 s per
    # call at 8 files). Above the bound the job fans out across
    # executors exactly as before; identical rows either way.
    if len(files) <= MANIFEST_DRIVER_FILES:
        return pa.Table.from_pylist([footer_rec(f) for f in files],
                                    schema=schema)

    fdf = local_frame(spark, [(f,) for f in files], "file string") \
        .repartition(min(len(files), 64))

    def read_stats(batches):
        import pandas as pd

        for b in batches:
            yield pd.DataFrame([footer_rec(f) for f in b["file"]],
                               columns=schema.names)

    return (fdf.mapInPandas(read_stats, from_arrow_schema(schema))
            .toArrow().cast(schema))


def minmax_survivor_stats(man: "pa.Table", ranges: dict,
                          prunable=None) -> tuple[int, list]:
    """(files_total, sorted surviving file paths) of a stats manifest:
    files whose [min, max] can intersect every predicate range. A NULL
    stat — or a column outside ``prunable`` / missing from the
    manifest — never prunes.

    ``man`` is the manifest as a pyarrow Table on the driver
    (:func:`file_minmax_manifest`, or a store's persisted parts read
    back, as table formats keep their transaction log), so pruning
    runs no Spark job. It is NumPy on the driver: a manifest is one row
    per file, and a million-row manifest prunes in well under a
    second."""
    import numpy as np
    import pyarrow as pa

    cols = set(man.column_names)
    keep = np.ones(man.num_rows, bool)
    for c, (lo, hi) in ranges.items():
        if prunable is not None and c not in prunable:
            continue
        if f"min_{c}" not in cols or f"max_{c}" not in cols:
            continue
        # a NULL stat arrives as NaN and keeps its file
        mn, mx = (np.asarray(man.column(f"{b}_{c}").to_pandas(), float)
                  for b in ("min", "max"))
        ok = np.ones(man.num_rows, bool)
        if lo is not None:
            ok &= mx >= float(lo)
        if hi is not None:
            ok &= mn <= float(hi)
        keep &= np.isnan(mn) | np.isnan(mx) | ok
    if "file" not in cols:
        return man.num_rows, []
    return man.num_rows, sorted(set(
        man.column("file").filter(pa.array(keep)).to_pylist()))


def range_residual(ranges: dict) -> Column:
    """The exact row filter of ``ranges`` (column -> inclusive (lo, hi),
    None open). A ``lo == hi`` range is an equality, the one predicate
    a Parquet bloom filter can answer."""
    residual = F.lit(True)
    for c, (lo, hi) in ranges.items():
        if lo is not None and lo == hi:
            residual = residual & (F.col(c) == F.lit(lo))
            continue
        if lo is not None:
            residual = residual & (F.col(c) >= F.lit(lo))
        if hi is not None:
            residual = residual & (F.col(c) <= F.lit(hi))
    return residual


def manifest_pruned_read(spark, path: str, manifest,
                         ranges: dict) -> tuple[DataFrame, dict]:
    """Scan only the files whose manifest [min, max] intersects every
    predicate range, then apply the exact residual filter.

    ``ranges`` maps column -> (lo, hi) inclusive bounds (None for
    open). Returns ``(df, stats)`` with
    ``stats = {"files_total", "files_scanned"}`` so callers can audit
    the pruning ratio. Correctness does not depend on the manifest
    being tight (a file with NULL stats is conservatively scanned);
    the residual filter re-applies the predicate row-level either way.

    ``manifest`` is the pyarrow Table from :func:`file_minmax_manifest`;
    :func:`minmax_survivor_stats` prunes it on the driver, so no Spark
    job runs for the pruning.
    """
    residual = range_residual(ranges)
    total, keep = minmax_survivor_stats(manifest, ranges)
    stats = {"files_total": total, "files_scanned": len(keep)}
    if not keep:
        df = spark.read.parquet(path).filter(residual).limit(0)
        return df, stats
    return read_parquet_files(spark.read, keep).filter(residual), stats


# ---------------------------------------------------------------------------
# per-file Bloom index: point-lookup file pruning on ANY column
# ---------------------------------------------------------------------------

_BLOOM_K = 7          # hash functions; with m/n ~ 14 bits/value -> fpp ~1%
_BLOOM_HEX = 15       # md5 hex chars folded into each position (60 bits)


def _bloom_positions_py(value, k: int, m: int) -> list:
    """Driver-side probe positions — the md5 scheme the build runs
    JVM-side, rendered with Python ``str()``. Only ``int`` and ``str``
    values render identically in Python and Spark's cast-to-string
    (floats: '1e+20' vs '1.0E20'; bools: 'True' vs 'true'), so the
    collected-rows probe path validates the type and points other
    types at the DataFrame-manifest path, where the probe is rendered
    by the SAME Spark cast the build used (round-9 ADVICE: the
    f-string rendering silently false-negatived on double/boolean)."""
    import hashlib

    if not isinstance(value, (int, str)) or isinstance(value, bool):
        raise TypeError(
            "LINDEL: collected-rows bloom probes support int/str values "
            "only (Python and Spark render other types differently, "
            "which would silently drop files) — pass the manifest as a "
            "DataFrame instead; that path renders the probe with the "
            "same Spark cast the build used, for any type")
    return [
        int(hashlib.md5(f"{i}:{value}".encode()).hexdigest()[:_BLOOM_HEX],
            16) % m
        for i in range(k)
    ]


def _bloom_probe_pred(value, m_bits: int, k: int,
                      value_type: str | None = None,
                      bits_col: str = "bits") -> "F.Column":
    """Membership predicate over a bloom-manifest ``bits`` column,
    entirely JVM-side column expressions: the probe value is rendered
    by the SAME ``cast(string)`` chain the build hashed (pass
    ``value_type`` to pin the literal to the indexed column's Spark
    type — e.g. 'float' when the data column is FloatType and the
    Python literal would otherwise arrive as a double), each of the
    ``k`` md5-mod-m positions is constant-folded by Catalyst, and the
    bit test is one byte-slice + AND per position. No bitset ever
    leaves the executors."""
    lit = F.lit(value)
    if value_type is not None:
        lit = lit.cast(value_type)
    val_str = lit.cast("string")
    pred = F.lit(True)
    for i in range(k):
        p = (F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}:"), val_str)),
                        1, _BLOOM_HEX),
            16, 10).cast("long") % m_bits)
        byte = F.conv(
            F.hex(F.substring(F.col(bits_col),
                              (F.floor(p / 8) + 1).cast("int"), 1)),
            16, 10).cast("int")
        # bit (p % 8) of the byte, little-endian like the build's
        # 1 << (idx % 8) pack; shiftleft needs a literal shift, so the
        # mask is floor(byte / 2^(p%8)) % 2 — exact for byte <= 255
        bit = (F.floor(
            byte / F.pow(F.lit(2.0), (p % 8).cast("double"))
        ).cast("int") % 2)
        pred = pred & (bit == 1)
    return pred


def file_bloom_manifest(spark, path: str, col: str,
                        m_bits: int = 1 << 20,
                        k: int = _BLOOM_K,
                        files=None) -> DataFrame:
    """Per-file BLOOM index over ``col``: one row per data file with a
    packed ``m_bits``-wide bitset of the column's value hashes — the
    point-lookup complement to :func:`file_minmax_manifest` (min/max
    prunes RANGE predicates on clustered columns; a Bloom filter
    prunes EQUALITY probes on any column, clustered or not, with no
    false negatives by construction).

    Build shape: one scan of ``col`` tagged with
    ``input_file_name()``, each value exploded to its ``k`` md5-mod-m
    positions (pure column expressions, whole-stage codegen), one
    map-side-combined ``collect_set`` per file, and a tiny Arrow pass
    packing positions into ``m_bits/8`` bytes. The manifest is
    file-count-sized metadata (128 KiB per file at the default m) —
    build it once after a write, store it next to the data, and
    :func:`bloom_pruned_read` turns point lookups into scans of only
    the files that can contain the probe value. This is the scan-once
    index trade every table format makes; the scan is the same cost
    as the write that produced the files.

    Pass ``files`` to index an explicit subset (the files one append
    just wrote — the incremental path of a persisted store manifest,
    same contract as :func:`file_minmax_manifest`).
    """
    from pyspark.sql import types as T

    pos_cols = [
        (F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{i}:"),
                               F.col(col).cast("string"))),
                1, _BLOOM_HEX),
            16, 10).cast("long") % m_bits).cast("long")
        for i in range(k)
    ]
    src = (spark.read.parquet(*files) if files is not None
           else spark.read.parquet(path))
    pos = (
        src
        .select(F.input_file_name().alias("file"),
                F.explode(F.array(*pos_cols)).alias("p"))
        .groupBy("file")
        .agg(F.collect_set("p").alias("ps"))
    )
    out_schema = T.StructType([
        T.StructField("file", T.StringType()),
        T.StructField("n_positions", T.LongType()),
        T.StructField("bits", T.BinaryType()),
    ])

    def pack(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for f, ps in zip(pdf["file"], pdf["ps"]):
                bits = np.zeros(m_bits // 8, np.uint8)
                idx = np.asarray(ps, np.int64)
                np.bitwise_or.at(bits, idx // 8,
                                 (1 << (idx % 8)).astype(np.uint8))
                rows.append((_strip_file_scheme(f), len(ps),
                             bits.tobytes()))
            yield pd.DataFrame(
                rows, columns=["file", "n_positions", "bits"])

    return pos.mapInPandas(pack, out_schema)


def bloom_survivors(manifest: DataFrame, value,
                    m_bits: int = 1 << 20, k: int = _BLOOM_K,
                    value_type: str | None = None) -> tuple[int, list]:
    """(files_total, surviving file paths) of a bloom-manifest
    DataFrame for an equality probe, in ONE distributed pass: the bit
    test runs as column expressions inside the manifest scan and only
    the SURVIVING paths (plus one count) reach the driver — never the
    per-file bitsets, which at 100k files x 128 KiB would be a ~13 GB
    driver materialization per probe (round-9 verdict item 1; the
    min/max manifest path learned the same lesson in round 8)."""
    pred = _bloom_probe_pred(value, m_bits, k, value_type)
    row = manifest.agg(
        F.count(F.lit(1)).alias("__total"),
        F.sort_array(
            F.collect_list(F.when(pred, F.col("file")))).alias("__keep"),
    ).first()
    return int(row["__total"]), list(row["__keep"])


def bloom_pruned_read(spark, path: str, manifest, col: str, value,
                      m_bits: int = 1 << 20,
                      k: int = _BLOOM_K,
                      value_type: str | None = None
                      ) -> tuple[DataFrame, dict]:
    """Point-lookup read through a :func:`file_bloom_manifest`: scan
    ONLY the files whose bitset admits ``value`` (no false negatives:
    a file containing the value always has all ``k`` bits set), then
    apply the exact equality filter. ``m_bits``/``k`` must match the
    build. Returns ``(df, stats)`` with files_total / files_scanned.

    ``manifest`` is the manifest DataFrame — pruning runs DISTRIBUTED
    and survivor-sized via :func:`bloom_survivors` (the bitsets never
    leave the executors, and the probe value is rendered by the same
    Spark cast the build hashed, so any column type is safe) — or its
    collected rows, the zero-Spark-jobs hot path, which supports
    int/str probes only (see :func:`_bloom_positions_py`). Pass
    ``value_type`` when the indexed column's Spark type differs from
    the Python literal's natural type (e.g. ``'float'`` for a
    FloatType column probed with a Python float)."""
    if isinstance(manifest, DataFrame):
        total, keep = bloom_survivors(manifest, value, m_bits, k,
                                      value_type)
    else:
        probes = _bloom_positions_py(value, k, m_bits)
        keep = []
        total = 0
        for r in manifest:
            total += 1
            bits = r["bits"] if not hasattr(r, "bits") else r.bits
            f = r["file"] if not hasattr(r, "file") else r.file
            if all(bits[p // 8] & (1 << (p % 8)) for p in probes):
                keep.append(f)
        keep = sorted(keep)
    stats = {"files_total": total, "files_scanned": len(keep)}
    residual = F.col(col) == (
        F.lit(value).cast(value_type) if value_type is not None
        else F.lit(value))
    if not keep:
        return (spark.read.parquet(path).filter(residual).limit(0),
                stats)
    return read_parquet_files(spark.read, keep).filter(residual), stats


def column_entropy_profile(
    df: DataFrame,
    columns: Sequence[str],
) -> DataFrame:
    """Value-distribution audit per column: ``(column, n_values,
    n_distinct, entropy, top_value, top_cnt, top_share)`` — the
    skew/degeneracy signals :func:`profile_table`'s min/max/distinct
    pass can't see (a column can have healthy bounds and still be 99%
    one value). ``entropy`` is Shannon entropy in nats over non-null
    values, computed as ``ln(n) − Σ cnt·ln(cnt) / n`` (integer counts
    feed the one transcendental, so cross-engine drift is sub-ulp and
    registry queries round to 6dp); ``top_value`` breaks count ties on
    the smaller string.

    Plan shape: one ``stack`` unpivot (map-only) → one
    map-side-combined groupBy on (column, value) → per-column
    aggregates + a top-1 window over column partitions. The value
    table is |columns| × |distinct values| — vocabulary-sized, never
    row-sized — so the same plan profiles a 100 TB table.
    """
    from pyspark.sql import Window

    columns = list(columns)
    if not columns:
        raise ValueError("columns must be non-empty")
    pairs = []
    for c in columns:
        pairs += [F.lit(c), F.col(c).cast("string")]
    long = df.select(
        F.stack(F.lit(len(columns)), *pairs).alias("column", "v"))
    counts = (long.filter(F.col("v").isNotNull())
              .groupBy("column", "v")
              .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    per_col = counts.groupBy("column").agg(
        F.sum("cnt").cast("long").alias("n_values"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        (F.log(F.sum("cnt").cast("double"))
         - F.sum(F.col("cnt").cast("double")
                 * F.log(F.col("cnt").cast("double")))
         / F.sum("cnt").cast("double")).alias("entropy"),
    )
    w = Window.partitionBy("column").orderBy(
        F.col("cnt").desc(), F.col("v").asc())
    top = (counts.withColumn("__rn", F.row_number().over(w))
           .filter(F.col("__rn") == 1)
           .select("column", F.col("v").alias("top_value"),
                   F.col("cnt").alias("top_cnt")))
    return (per_col.join(top, "column")
            .withColumn("top_share",
                        F.col("top_cnt").cast("double")
                        / F.col("n_values").cast("double")))


def _drift_long(df: DataFrame, columns: list) -> DataFrame:
    pairs = []
    for c in columns:
        pairs += [F.lit(c), F.col(c).cast("double")]
    return (df.select(F.stack(F.lit(len(columns)), *pairs)
                      .alias("column", "v"))
            .filter(F.col("v").isNotNull()))


def _drift_binned(long: DataFrame, stats: DataFrame,
                  bins: int) -> DataFrame:
    step = (F.col("hi") - F.col("lo")) / F.lit(float(bins))
    b = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(F.lit(bins - 1),
                F.greatest(F.lit(0),
                           F.floor((F.col("v") - F.col("lo"))
                                   / step).cast("int"))))
    return (long.join(F.broadcast(stats), "column")
            .select("column", b.alias("bin"))
            .groupBy("column", "bin")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def drift_reference(
    ref: DataFrame,
    columns: Sequence[str],
    bins: int = 10,
) -> DataFrame:
    """The persistable half of :func:`distribution_drift`: per-column
    bin edges (reference min/max) + reference bin counts,
    ``(column, bin, ref_cnt, lo, hi)`` — ≤ |columns|·bins rows.
    Compute it ONCE on the training/reference snapshot, write it
    anywhere, and score any number of later snapshots (or stream
    micro-batches, :func:`lindel_spark.streaming.drift_stream_sink`)
    against it with :func:`drift_against` without rescanning the
    reference."""
    columns = list(columns)
    if not columns:
        raise ValueError("columns must be non-empty")
    if bins < 2:
        raise ValueError("bins must be >= 2")
    lref = _drift_long(ref, columns)
    stats = lref.groupBy("column").agg(F.min("v").alias("lo"),
                                       F.max("v").alias("hi"))
    return (_drift_binned(lref, stats, bins)
            .withColumnRenamed("cnt", "ref_cnt")
            .join(F.broadcast(stats), "column"))


def drift_against(
    cur: DataFrame,
    reference: DataFrame,
    columns: Sequence[str],
    bins: int = 10,
) -> DataFrame:
    """Score a current snapshot against a stored
    :func:`drift_reference` profile — the serving half of
    :func:`distribution_drift`, same output and same algebra, with
    the reference side read from the (vocabulary-sized) profile
    instead of rescanned."""
    columns = list(columns)
    if not columns:
        raise ValueError("columns must be non-empty")
    if bins < 2:
        raise ValueError("bins must be >= 2")
    # a stored profile may carry more columns than this scoring asks
    # for — restrict it, or absent-in-cur profile rows would surface
    # as phantom all-zero-cur drift rows
    reference = reference.filter(F.col("column").isin(columns))
    stats = reference.select("column", "lo", "hi").distinct()
    rc = reference.select("column", "bin", "ref_cnt")
    cc = (_drift_binned(_drift_long(cur, columns), stats, bins)
          .withColumnRenamed("cnt", "cur_cnt"))
    return _drift_tail(rc, cc, bins)


def distribution_drift(
    ref: DataFrame,
    cur: DataFrame,
    columns: Sequence[str],
    bins: int = 10,
) -> DataFrame:
    """Per-column distribution-drift audit between a reference
    snapshot and a current one: ``(column, n_ref, n_cur, psi, kl)``
    — PSI (population stability index) and KL(ref ‖ cur) over
    ``bins`` equi-width bins whose edges come from the REFERENCE
    min/max, so the same fixed binning scores every future snapshot
    (the standard train-vs-serve / yesterday-vs-today screen; rule of
    thumb: PSI < 0.1 stable, > 0.25 action). For repeated scoring
    against one reference, persist :func:`drift_reference` and call
    :func:`drift_against` — identical numbers by construction (this
    function IS that composition).

    Shares are Laplace-smoothed — ``(cnt + 0.5) / (n + 0.5·bins)`` —
    so empty bins on either side stay finite, and every term is a
    closed form over integer counts (two ``ln`` calls per bin) any
    engine replays bit-for-bit. Values outside the reference range
    clamp into the edge bins, so novel out-of-range mass is visible
    as edge-bin drift rather than silently dropped.

    Plan shape: one ``stack`` unpivot per side (map-only) → per-side
    (column, bin) map-side-combined counts (≤ |columns|·bins keys) →
    a broadcast-sized full-outer bin join → one |columns|-row
    aggregate. Bin edges ride an in-plan one-row-per-column stats
    join — nothing is collected, so the same plan screens a 100 TB
    snapshot pair.
    """
    return drift_against(cur, drift_reference(ref, columns, bins),
                         columns, bins)


def _drift_tail(rc: DataFrame, cc: DataFrame, bins: int) -> DataFrame:
    both = (rc.join(cc, ["column", "bin"], "full_outer")
            .select("column", "bin",
                    F.coalesce("ref_cnt", F.lit(0)).alias("ref_cnt"),
                    F.coalesce("cur_cnt", F.lit(0)).alias("cur_cnt")))
    totals = both.groupBy("column").agg(
        F.sum("ref_cnt").cast("long").alias("n_ref"),
        F.sum("cur_cnt").cast("long").alias("n_cur"))
    denom_pad = F.lit(0.5 * bins)
    rs = ((F.col("ref_cnt").cast("double") + F.lit(0.5))
          / (F.col("n_ref").cast("double") + denom_pad))
    cs = ((F.col("cur_cnt").cast("double") + F.lit(0.5))
          / (F.col("n_cur").cast("double") + denom_pad))
    return (both.join(F.broadcast(totals), "column")
            .select("column", "n_ref", "n_cur",
                    ((cs - rs) * (F.log(cs) - F.log(rs)))
                    .alias("psi_term"),
                    (rs * (F.log(rs) - F.log(cs))).alias("kl_term"))
            .groupBy("column")
            .agg(F.first("n_ref").alias("n_ref"),
                 F.first("n_cur").alias("n_cur"),
                 F.sum("psi_term").alias("psi"),
                 F.sum("kl_term").alias("kl")))


def l_diversity_report(
    df: DataFrame,
    quasi_identifiers: Sequence[str],
    sensitive_col: str,
    l: int,
) -> DataFrame:
    """l-diversity audit — the screen k-anonymity misses: a
    quasi-identifier class can be large (k-anonymous) yet have every
    member share ONE sensitive value, so membership alone discloses
    it. One row per equivalence class: the quasi-identifier values,
    ``group_n``, ``n_sensitive`` (distinct non-null sensitive values)
    and ``diverse`` (n_sensitive ≥ l). Release gate = every class
    diverse; fix = suppress or generalize the failing classes.

    Same plan as :func:`k_anonymity_report` with a distinct count
    folded in: one map-side-combined groupBy keyed by the QI tuple —
    shuffle keys = equivalence classes, never rows.
    """
    if l < 1:
        raise ValueError("l must be >= 1")
    return (
        df.groupBy(*quasi_identifiers)
        .agg(F.count(F.lit(1)).cast("long").alias("group_n"),
             F.countDistinct(sensitive_col).cast("long")
             .alias("n_sensitive"))
        .withColumn("diverse", F.col("n_sensitive") >= F.lit(l))
    )


def equidepth_histogram(
    df: DataFrame,
    col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Equi-DEPTH histogram: ``(bin, n, lo, hi)`` with (near-)equal
    ROW counts per bin — the selectivity-honest complement to
    :func:`value_histogram`'s equi-width bins, which collapse to one
    bar on heavy-tailed columns (where equi-depth bin EDGES are the
    quantiles an optimizer or drift monitor actually wants). Bin
    sizes differ by at most one row by construction.

    Bin id is exact integer algebra on the global rank —
    ``(rank−1)·n_bins div n`` — so per-bin counts and min/max are
    deterministic even where tied values make individual ranks
    arbitrary (ties share a value; whichever side of a boundary they
    land, the bin's extremes and size are the same numbers).
    Rank comes from :func:`lindel_spark.util.global_rank` — never a
    single-task window — then one map-side-combined groupBy on the
    bin id; the only driver scalar is the row count.
    """
    from lindel_spark.util import global_rank

    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    vals = (df.select(F.col(col).cast("double").alias("v"))
            .filter(F.col("v").isNotNull()))
    ranked = global_rank(vals, ["v"], out_col="__rank")
    # count the PRE-rank frame (round-15; guide §2.4): ranking adds a
    # column, never a row, so this broadcast scalar is identical —
    # but its subquery is now a bare scan+count instead of re-running
    # the whole global_rank machinery (boundary sample + pid counts +
    # partitioned window) a second time.
    total = vals.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    return (ranked.crossJoin(F.broadcast(total))
            .withColumn(
                "bin",
                F.expr(f"CAST(((__rank - 1) * {int(n_bins)})"
                       " DIV __n AS INT)"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.min("v").alias("lo"), F.max("v").alias("hi")))


def gini_coefficient(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] | None = None,
) -> DataFrame:
    """Gini concentration coefficient over a non-negative value column
    — the single-number inequality summary behind the Pareto report's
    "top 20% of parts = X% of revenue" rows: 0 = perfectly even,
    1 → one row holds everything.

    Computed from the rank form ``G = 2·Σ rᵢxᵢ / (n·Σx) − (n+1)/n``
    over values sorted ascending. Ties need no tiebreak: tied values
    share one ``x`` across a consecutive rank run, so ``Σ r·x`` — and
    therefore G — is invariant to how the run is permuted; the result
    is value-deterministic even where individual ranks are not.

    Ungrouped (``keys=None``): rank comes from
    :func:`lindel_spark.util.global_rank` (never a single-task
    window), then one scalar aggregate — one row out. Grouped: a
    per-group window rank (hash Exchange on ``keys``, per-group sort)
    + one map-side-combined groupBy — per-key state only, 100 TB-safe
    as long as no single group is the table.
    """
    from pyspark.sql import Window

    from lindel_spark.util import global_rank

    vals = (df.select(*(keys or []),
                      F.col(value_col).cast("double").alias("__v"))
            .filter(F.col("__v").isNotNull()))
    if keys:
        w = Window.partitionBy(*keys).orderBy("__v")
        ranked = vals.withColumn("__r", F.row_number().over(w))
        grp = ranked.groupBy(*keys)
    else:
        ranked = global_rank(vals, ["__v"], out_col="__r")
        grp = ranked.groupBy()
    return grp.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__v").alias("total"),
        ((F.lit(2.0) * F.sum(F.col("__r").cast("double") * F.col("__v")))
         / (F.count(F.lit(1)).cast("double") * F.sum("__v"))
         - (F.count(F.lit(1)).cast("double") + F.lit(1.0))
         / F.count(F.lit(1)).cast("double")).alias("gini"),
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Mutual information between two categorical columns, in nats,
    with both marginal entropies and the normalized form — the
    feature-redundancy / leakage screen :func:`column_entropy_profile`
    (per-column only) can't see: NMI ≈ 1 means the columns carry the
    same information and one of them is either redundant or a label
    leak.

    One row: ``(n, h_a, h_b, mi, nmi)`` where
    ``mi = Σ c_ab/n · ln(n·c_ab / (c_a·c_b))`` over the joint count
    table and ``nmi = mi / sqrt(h_a·h_b)`` (0 when either entropy is
    0). Every ``ln`` sees a ratio of integer counts, so cross-engine
    drift is sub-ulp and registry queries round to 6dp.

    Plan: one map-side-combined groupBy on ``(a, b)`` — the joint
    table is vocabulary², never row-sized — then marginals as two
    window sums over that table (no second scan of the data) and one
    scalar aggregate. Rows with a NULL on either side are excluded
    (MI is defined over observed pairs).
    """
    from pyspark.sql import Window

    joint = (df.select(F.col(col_a).cast("string").alias("__a"),
                       F.col(col_b).cast("string").alias("__b"))
             .filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
             .groupBy("__a", "__b")
             .agg(F.count(F.lit(1)).cast("long").alias("__c")))
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    t = (joint
         .withColumn("__ca", F.sum("__c").over(wa))
         .withColumn("__cb", F.sum("__c").over(wb)))
    n = F.sum("__c").cast("double")
    cd = F.col("__c").cast("double")
    ca = F.col("__ca").cast("double")
    cb = F.col("__cb").cast("double")
    # Σ_joint c·ln(c_a) groups to Σ_a c_a·ln(c_a), so one pass over the
    # joint table yields both marginal entropies and the MI sum
    agg = t.agg(
        F.sum("__c").cast("long").alias("n"),
        (F.log(n) - F.sum(cd * F.log(ca)) / n).alias("h_a"),
        (F.log(n) - F.sum(cd * F.log(cb)) / n).alias("h_b"),
        (F.sum(cd * F.log(cd / (ca * cb))) / n + F.log(n)).alias("mi"),
    )
    return agg.withColumn(
        "nmi",
        F.when((F.col("h_a") > 0) & (F.col("h_b") > 0),
               F.col("mi") / F.sqrt(F.col("h_a") * F.col("h_b")))
        .otherwise(F.lit(0.0)))


def fd_violations(
    df: DataFrame,
    determinant: Sequence[str],
    dependent: str,
) -> DataFrame:
    """Functional-dependency audit: every determinant group where
    ``determinant → dependent`` is VIOLATED (more than one distinct
    dependent value) — the consistency screen behind "one nation per
    customer", "one brand per part key": referential integrity
    (:func:`referential_integrity_report`) checks the key EXISTS,
    this checks it is UNIQUELY determined.

    Output per violated group: the determinant columns, ``n_rows``,
    ``n_dependent`` (distinct dependent values, > 1 by construction),
    and the smallest/largest conflicting values as evidence
    (``example_lo``, ``example_hi``). One map-side-combined groupBy
    keyed by the determinant — per-group state is a handful of
    scalars, so a 100 TB audit shuffles group summaries, never rows.
    NULL dependent values count as a distinct (conflicting) value via
    a sentinel-free two-branch count.
    """
    determinant = [determinant] if isinstance(determinant, str) \
        else list(determinant)
    if not determinant:
        raise ValueError("determinant must be non-empty")
    dep = F.col(dependent).cast("string")
    agg = df.groupBy(*determinant).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.countDistinct(dep)
         + F.max(F.when(dep.isNull(), 1).otherwise(0))
         ).cast("long").alias("n_dependent"),
        F.min(dep).alias("example_lo"),
        F.max(dep).alias("example_hi"),
    )
    return agg.filter(F.col("n_dependent") > 1)


def agreement_kappa(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Cohen's kappa between two categorical label columns — the
    chance-corrected agreement score for comparing two annotators, a
    model vs a gold column, or two labeling-pipeline versions; raw
    percent-agreement over-credits whatever the majority class is.

    One row: ``(n, po, pe, kappa)`` with ``po`` the observed agreement
    ``Σ c_kk / n``, ``pe`` the chance agreement ``Σ rowₖ·colₖ / n²``
    from the marginals, ``kappa = (po − pe) / (1 − pe)`` (defined as
    1.0 when ``pe = 1``: both columns constant and identical). Closed
    algebra over integer counts. ``pe`` comes from the marginal
    tables joined on the shared categories (disjoint label sets —
    zero shared mass — coalesce to pe = 0, kappa = po) — NOT from the joint table's diagonal,
    which would silently drop a category both raters use but never
    agree on (its joint diagonal count is zero, its ``rowₖ·colₖ``
    term is not).

    Plan: one map-side-combined groupBy on the label pair
    (vocabulary², never row-sized), marginals re-aggregated from that
    count table, two scalar aggregates joined on a literal key. NULL
    on either side excluded.
    """
    joint = (df.select(F.col(col_a).cast("string").alias("__a"),
                       F.col(col_b).cast("string").alias("__b"))
             .filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
             .groupBy("__a", "__b")
             .agg(F.count(F.lit(1)).cast("long").alias("__c")))
    nd = F.sum("__c").cast("double")
    obs = joint.agg(
        F.sum("__c").cast("long").alias("n"),
        (F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__c"))
               .otherwise(F.lit(0)).cast("double")) / nd).alias("po"),
    )
    ma = joint.groupBy(F.col("__a").alias("__k")).agg(
        F.sum("__c").cast("double").alias("__ca"))
    mb = joint.groupBy(F.col("__b").alias("__k")).agg(
        F.sum("__c").cast("double").alias("__cb"))
    chance = (ma.join(mb, "__k")
              .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__rc")))
    agg = (obs.crossJoin(F.broadcast(chance))
           .withColumn("pe", F.coalesce(F.col("__rc"), F.lit(0.0))
                       / (F.col("n").cast("double")
                          * F.col("n").cast("double")))
           .drop("__rc"))
    return agg.withColumn(
        "kappa",
        F.when(F.col("pe") >= 1.0, F.lit(1.0))
        .otherwise((F.col("po") - F.col("pe"))
                   / (F.lit(1.0) - F.col("pe"))))


def benford_report(
    df: DataFrame,
    col: str,
) -> DataFrame:
    """Benford's-law first-digit audit — the synthetic-data / fraud /
    unit-mixing screen for naturally-spanning magnitudes (amounts,
    populations, file sizes): genuine multi-scale data puts digit d
    first with probability ``log10(1 + 1/d)``; fabricated or
    template-generated numbers don't.

    Returns 9 rows ``(digit, cnt, obs_share, exp_share, chi2_term)``
    with ``chi2_term = (cnt − n·p_d)² / (n·p_d)`` — Σ over the rows is
    the χ² statistic against the Benford null (8 degrees of freedom).
    Digits absent from the data still emit their row (their expected
    mass still counts against the fit).

    The first digit comes from the DOUBLE's shortest-round-trip
    string form (first character after abs; Benford applies to
    magnitudes ≥ 1, pre-scale fractional data) — engine-identical,
    unlike ``floor(log10(x))`` which libm can put on the wrong side
    of a power of ten, and unlike a bigint truncation, which under
    Spark's non-ANSI cast silently NULLed-and-dropped magnitudes
    ≥ 2⁶³ while a SQL replay's CAST would raise (round-12 advice;
    both decimal "123.45" and scientific "4.5E18" forms lead with
    the first significant digit in Spark and DuckDB alike).
    Non-finite values have no first digit and fall out of the audit.
    Plan: map-side digit extraction → one 9-row groupBy → broadcast
    join against a 9-row literal frame. Nothing row-scale shuffles.
    """
    spark = df.sparkSession
    v = F.abs(F.col(col).cast("double"))
    digits = (df.select(v.alias("__v"))
              .filter(F.col("__v").isNotNull() & (F.col("__v") >= 1)
                      & ~F.isnan(F.col("__v"))
                      & (F.col("__v") != F.lit(float("inf"))))
              .select(F.substring(F.col("__v").cast("string"), 1, 1)
                      .cast("int").alias("digit")))
    counts = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    expected = local_frame(
        spark, [(d, math.log10(1.0 + 1.0 / d)) for d in range(1, 10)],
        "digit INT, exp_share DOUBLE")
    joined = (F.broadcast(expected)
              .join(counts, "digit", "left")
              .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0))
                          .cast("long")))
    from pyspark.sql import Window

    n = F.sum("cnt").over(Window.partitionBy())
    t = joined.withColumn("__n", n)
    e = F.col("__n").cast("double") * F.col("exp_share")
    return (t.select(
        "digit", "cnt",
        (F.col("cnt").cast("double")
         / F.col("__n").cast("double")).alias("obs_share"),
        "exp_share",
        ((F.col("cnt").cast("double") - e) * (F.col("cnt").cast("double") - e)
         / e).alias("chi2_term")))


def chi_square_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Pearson χ² test of independence between two categorical
    columns: one row ``(n, dof, chi2, cramers_v)`` — the
    significance-scaled companion to :func:`mutual_information`
    (MI says how MUCH information is shared; χ²/Cramér's V says
    whether the association is bigger than chance at this n).

    ``chi2 = Σ (o_ab − e_ab)²/e_ab`` over the FULL marginal cross
    product (a cell with zero joint count but non-zero marginals
    still contributes its expected mass — the same
    zero-diagonal trap :func:`agreement_kappa` avoids), with
    ``e_ab = c_a·c_b/n``; ``dof = (r−1)(c−1)``;
    ``cramers_v = sqrt(chi2 / (n·min(r−1, c−1)))`` (0.0 when either
    column is constant). Plan: one map-side-combined groupBy on the
    pair, two vocabulary-sized marginal aggregates, one broadcast
    cross of the marginals LEFT-joined back to the joint counts —
    vocab², never row-sized.
    """
    joint = (df.select(F.col(col_a).cast("string").alias("__a"),
                       F.col(col_b).cast("string").alias("__b"))
             .filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
             .groupBy("__a", "__b")
             .agg(F.count(F.lit(1)).cast("long").alias("__c")))
    ma = joint.groupBy("__a").agg(F.sum("__c").alias("__ca"))
    mb = joint.groupBy("__b").agg(F.sum("__c").alias("__cb"))
    cross = ma.crossJoin(F.broadcast(mb))
    cells = (cross.join(joint, ["__a", "__b"], "left")
             .withColumn("__c", F.coalesce(F.col("__c"), F.lit(0))))
    from pyspark.sql import Window

    wall = Window.partitionBy()
    t = (cells
         .withColumn("__n", F.sum(F.when(F.col("__c") > 0, F.col("__c"))
                                  .otherwise(F.lit(0))).over(wall)))
    # n from the joint counts only (each observation counted once)
    e = (F.col("__ca").cast("double") * F.col("__cb").cast("double")
         / F.col("__n").cast("double"))
    o = F.col("__c").cast("double")
    agg = t.agg(
        F.max("__n").cast("long").alias("n"),
        ((F.countDistinct("__a") - 1)
         * (F.countDistinct("__b") - 1)).cast("long").alias("dof"),
        F.sum((o - e) * (o - e) / e).alias("chi2"),
        F.least(F.countDistinct("__a") - 1,
                F.countDistinct("__b") - 1).cast("long").alias("__mind"),
    )
    return agg.select(
        "n", "dof", "chi2",
        F.when(F.col("__mind") > 0,
               F.sqrt(F.col("chi2")
                      / (F.col("n").cast("double")
                         * F.col("__mind").cast("double"))))
        .otherwise(F.lit(0.0)).alias("cramers_v"))


def ks_test(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic: one row
    ``(n_a, n_b, ks_d, at_value)`` with ``ks_d = max_x |F_a(x) −
    F_b(x)|`` over the pooled empirical CDFs and ``at_value`` the
    smallest value attaining it — the BIN-FREE drift test that
    complements :func:`distribution_drift`'s PSI/KL (PSI needs a
    binning and a reference profile; KS needs neither and detects any
    CDF separation, at the cost of an exact sort). Exact integer
    count algebra until the final two divisions, so both engines
    agree to the ulp.

    Plan: both sides collapse map-side to per-distinct-value counts
    (one groupBy each, distinct-value-sized, never rows), an outer
    merge on value, then the repo's DISTRIBUTED prefix sum
    (:func:`lindel_spark.util.prefix_sums` — range-partitioned,
    placement pinned, never an unpartitioned window) and one scalar
    aggregate with a deterministic argmax tie-break. NULLs excluded.
    """
    from lindel_spark.util import prefix_sums

    def counts(df, tag):
        return (df.select(F.col(col).cast("double").alias("v"))
                .filter(F.col("v").isNotNull())
                .groupBy("v")
                .agg(F.count(F.lit(1)).cast("long").alias(tag)))

    merged = (counts(df_a, "ca").join(counts(df_b, "cb"), "v", "outer")
              .select("v",
                      F.coalesce("ca", F.lit(0)).alias("ca"),
                      F.coalesce("cb", F.lit(0)).alias("cb")))
    cum = prefix_sums(merged, "v", ["ca", "cb"])
    from pyspark.sql import Window

    tot = cum.agg(F.sum("ca").cast("long").alias("n_a"),
                  F.sum("cb").cast("long").alias("n_b"))
    t = cum.crossJoin(F.broadcast(tot))
    diff = F.abs(F.col("cum_ca").cast("double")
                 / F.col("n_a").cast("double")
                 - F.col("cum_cb").cast("double")
                 / F.col("n_b").cast("double"))
    scored = t.withColumn("__d", diff)
    # deterministic argmax: max d, then the smallest attaining value
    best = scored.agg(F.max("__d").alias("__dmax"))
    out = (scored.crossJoin(F.broadcast(best))
           .filter(F.col("__d") == F.col("__dmax"))
           .agg(F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"),
                F.max("__d").alias("ks_d"),
                F.min("v").alias("at_value")))
    return out


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    label_col: str,
) -> DataFrame:
    """Two-sample Mann–Whitney U (Wilcoxon rank-sum) test: one row
    ``(n1, n0, u1, z)`` comparing the ``label==1`` sample against the
    ``label==0`` sample — the NONPARAMETRIC companion to
    :func:`welch_ttest` (no normality assumption; detects any
    stochastic-dominance shift) and the test behind
    :func:`lindel_spark.evaluation.roc_auc`'s rank identity
    (``U1 = AUC · n1 · n0``). ``z`` is the tie-corrected normal
    approximation ``(U1 − n1·n0/2) / σ`` with
    ``σ² = n1·n0/12 · ((n+1) − Σ(t³−t)/(n(n−1)))`` over tie-group
    sizes ``t`` — the textbook correction, exact integer algebra
    until the final division so both engines agree to the ulp.
    Rank sums grow as ~2n² (and the tie term as t³), so they
    accumulate in DECIMAL(38,0) — Spark's exact wide-integer lane,
    matching DuckDB's HUGEINT promotion — instead of LONG, which
    would silently wrap past ~3·10⁹ rows while DuckDB raises
    (exactness bound is now ~10¹² all-tied rows / ~7·10¹⁸ distinct,
    far past any real frame).

    Plan: rows collapse map-side to a per-distinct-value
    ``(c1, c0)`` count table (distinct-value-sized, never rows);
    midranks come from the repo's DISTRIBUTED prefix sum
    (:func:`lindel_spark.util.prefix_sums` — range-partitioned,
    placement-pinned, never an unpartitioned window); one scalar
    aggregate closes. Labels must be 0/1; NULLs excluded; degenerate
    inputs (either sample empty, or all values tied) return NULL z.
    """
    from lindel_spark.util import prefix_sums

    pairs = (df.select(F.col(value_col).cast("double").alias("v"),
                       F.col(label_col).cast("int").alias("y"))
             .filter(F.col("v").isNotNull() & F.col("y").isNotNull()))
    counts = pairs.groupBy("v").agg(
        F.sum("y").cast("long").alias("c1"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("c0"),
    ).withColumn("cnt", (F.col("c1") + F.col("c0")).cast("long"))
    c = prefix_sums(counts, "v", ["cnt"])
    # midrank of the tied block at v: ranks cum−cnt+1 … cum, average
    # = cum − cnt + (cnt+1)/2 — kept as 2·midrank (integer) until the
    # final scalar so rank sums stay exact
    mid2 = 2 * F.col("cum_cnt") - F.col("cnt") + 1  # 2 × midrank
    # per-row products cast to DECIMAL before the sum: LONG would
    # silently wrap at ~3e9 rows (r1_2 ~ 2n²) where DuckDB's HUGEINT
    # promotion keeps going — ADVICE r12
    dc = F.col("cnt").cast("decimal(19,0)")
    agg = c.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c0").cast("long").alias("n0"),
        F.sum(F.col("c1").cast("decimal(19,0)")
              * mid2.cast("decimal(19,0)")).alias("r1_2"),
        F.sum(dc * dc * dc - dc).alias("tie3"),
    )
    n1, n0 = F.col("n1"), F.col("n0")
    n = n1 + n0
    u1 = F.col("r1_2").cast("double") / 2.0 \
        - (n1 * (n1 + 1)).cast("double") / 2.0
    var = (n1 * n0).cast("double") / 12.0 \
        * ((n + 1).cast("double")
           - F.col("tie3").cast("double")
           / (n.cast("double") * (n - 1).cast("double")))
    z = F.when((n1 > 0) & (n0 > 0) & (var > 0),
               (u1 - (n1 * n0).cast("double") / 2.0) / F.sqrt(var))
    return agg.select("n1", "n0", u1.alias("u1"), z.alias("z"))


def welch_ttest(
    df: DataFrame,
    value_col: str,
    label_col: str,
) -> DataFrame:
    """Welch's unequal-variance t-test: one row ``(n1, n0, mean1,
    mean0, t_stat, df_welch)`` comparing the ``label==1`` sample mean
    against ``label==0`` — the parametric companion to
    :func:`mann_whitney_u` (same scored-frame contract as
    ``evaluation.roc_auc``). ``t = (m1−m0)/√(v1/n1+v0/n0)`` with the
    Welch–Satterthwaite degrees of freedom; variances are SAMPLE
    variances computed from the explicit ``(Σx, Σx², n)`` moment
    algebra (not the engine's ``var_samp``) so both engines run the
    identical formula. One map-side-combined aggregate — no shuffle
    beyond the single scalar reduce; NULLs excluded; groups with
    fewer than 2 rows return NULL t.
    """
    pairs = (df.select(F.col(value_col).cast("double").alias("v"),
                       F.col(label_col).cast("int").alias("y"))
             .filter(F.col("v").isNotNull() & F.col("y").isNotNull()))
    one = pairs.agg(
        F.sum("y").cast("long").alias("n1"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("n0"),
        F.sum(F.col("v") * F.col("y")).alias("s1"),
        F.sum(F.col("v") * (F.lit(1) - F.col("y"))).alias("s0"),
        F.sum(F.col("v") * F.col("v") * F.col("y")).alias("q1"),
        F.sum(F.col("v") * F.col("v")
              * (F.lit(1) - F.col("y"))).alias("q0"),
    )
    n1, n0 = F.col("n1").cast("double"), F.col("n0").cast("double")
    m1, m0 = F.col("s1") / n1, F.col("s0") / n0
    v1 = (F.col("q1") - F.col("s1") * F.col("s1") / n1) / (n1 - 1)
    v0 = (F.col("q0") - F.col("s0") * F.col("s0") / n0) / (n0 - 1)
    se2 = v1 / n1 + v0 / n0
    ok = (F.col("n1") > 1) & (F.col("n0") > 1)
    t = F.when(ok & (se2 > 0), (m1 - m0) / F.sqrt(se2))
    dfw = F.when(
        ok & (se2 > 0),
        se2 * se2 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                     + (v0 / n0) * (v0 / n0) / (n0 - 1)))
    return one.select("n1", "n0", m1.alias("mean1"), m0.alias("mean0"),
                      t.alias("t_stat"), dfw.alias("df_welch"))


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation: one row ``(n, rho)`` — Pearson
    correlation of the MIDRANKS of ``x`` and ``y`` (the tie-correct
    definition), the monotone-association companion to
    :func:`lindel_spark.features.corr_matrix`'s linear Pearson.
    The final Pearson runs the explicit five-moment formula
    ``(nΣxy−ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²))`` over EXACT-integer
    2×midranks so both engines agree bit-for-bit until the closing
    division.

    Plan: each column collapses to a per-distinct-value count table
    (map-side-combined groupBy), midranks come from the repo's
    DISTRIBUTED prefix sum (never an unpartitioned window), and the
    rank dimension joins back to the paired rows as an equi-join on
    value — distinct-value-sized shuffles, row-scale only in the one
    final scalar aggregate. Rows with a NULL on either side are
    excluded (pairwise-complete). Constant columns return NULL rho.
    """
    from lindel_spark.util import prefix_sums

    pairs = (df.select(F.col(x_col).cast("double").alias("x"),
                       F.col(y_col).cast("double").alias("y"))
             .filter(F.col("x").isNotNull() & F.col("y").isNotNull()))
    # The paired frame is scanned three times (two eager midrank
    # passes + the final moment aggregate), but each scan is a narrow
    # two-column projection of the source — round 15 persisted it and
    # the driver measured the cache-fill COSTING more than the two
    # saved scans (bench 3.16 -> 3.55 s), while pinning a row-scale
    # frame in executor storage with no unpersist (guide §5: cache
    # only when recompute is dearer). The midrank COUNT tables, the
    # expensive intermediates, are already materialized inside
    # prefix_sums' localCheckpoint, so the rank dimension is never
    # recomputed; the persist is dropped (round-16).

    def midranks(col):
        cnts = (pairs.groupBy(col)
                .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
        c = prefix_sums(cnts, col, ["cnt"])
        # 2×midrank stays integral — exact until the closing division
        return c.select(
            col,
            (2 * F.col("cum_cnt") - F.col("cnt") + 1)
            .cast("long").alias(f"r2_{col}"))

    ranked = (pairs.join(midranks("x"), "x").join(midranks("y"), "y"))
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r2_x").cast("double").alias("sx"),
        F.sum("r2_y").cast("double").alias("sy"),
        F.sum(F.col("r2_x").cast("double")
              * F.col("r2_x").cast("double")).alias("qx"),
        F.sum(F.col("r2_y").cast("double")
              * F.col("r2_y").cast("double")).alias("qy"),
        F.sum(F.col("r2_x").cast("double")
              * F.col("r2_y").cast("double")).alias("sxy"),
    )
    nn = F.col("n").cast("double")
    num = nn * F.col("sxy") - F.col("sx") * F.col("sy")
    den2 = ((nn * F.col("qx") - F.col("sx") * F.col("sx"))
            * (nn * F.col("qy") - F.col("sy") * F.col("sy")))
    rho = F.when(den2 > 0, num / F.sqrt(den2))
    return m.select("n", rho.alias("rho"))


def t_closeness_report(
    df: DataFrame,
    quasi_identifiers,
    sensitive_col: str,
    t: float,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    screen :func:`l_diversity_report` misses: a class can hold l
    DISTINCT sensitive values yet be skewed far from the corpus
    (e.g. 99 % one diagnosis), so membership still shifts an
    attacker's posterior. One row per equivalence class: the
    quasi-identifier values, ``group_n``, ``tvd`` (total variation
    distance between the class's sensitive-value distribution and
    the GLOBAL one — the categorical EMD the paper reduces to) and
    ``close`` (tvd ≤ t). Together with ``k_anonymity_report`` and
    ``l_diversity_report`` this completes the standard release-gate
    trio.

    Plan: one global per-value count (dimension-sized) broadcast
    against per-(class, value) counts; absent values fold in closed
    form — ``tvd = ½(Σ_present |p−q| + 1 − Σ_present q)`` — so the
    class×vocabulary cross never materializes. Shuffle keys = classes
    and (class, value) pairs, never rows; NULL sensitive values are
    excluded.
    """
    qi = list(quasi_identifiers)
    base = df.filter(F.col(sensitive_col).isNotNull())
    s = F.col(sensitive_col).alias("__s")
    gcnt = (base.select(s).groupBy("__s")
            .agg(F.count(F.lit(1)).cast("long").alias("__gc")))
    gtot = gcnt.agg(F.sum("__gc").cast("double").alias("__gt"))
    g = (gcnt.crossJoin(F.broadcast(gtot))
         .select("__s", (F.col("__gc") / F.col("__gt")).alias("__q")))
    cls = (base.select(*qi, s).groupBy(*qi, "__s")
           .agg(F.count(F.lit(1)).cast("long").alias("__c")))
    sizes = (base.groupBy(*qi)
             .agg(F.count(F.lit(1)).cast("long").alias("group_n")))
    per = (cls.join(g, "__s").join(sizes, qi)
           .groupBy(*qi)
           .agg(F.max("group_n").alias("group_n"),
                F.sum(F.abs(F.col("__c").cast("double")
                            / F.col("group_n").cast("double")
                            - F.col("__q"))).alias("__sabs"),
                F.sum("__q").alias("__sq")))
    tvd = 0.5 * (F.col("__sabs") + 1.0 - F.col("__sq"))
    return per.select(*qi, "group_n", tvd.alias("tvd"),
                      (tvd <= F.lit(float(t))).alias("close"))


def two_proportion_ztest(
    df: DataFrame,
    success_col: str,
    group_col: str,
) -> DataFrame:
    """Two-proportion z-test (pooled): one row ``(n1, n0, p1, p0,
    z)`` comparing success rates between the ``group==1`` and
    ``group==0`` samples — the conversion-rate / pass-rate companion
    to :func:`welch_ttest` (means) and :func:`mann_whitney_u`
    (ranks): ``z = (p1−p0) / √(p̂(1−p̂)(1/n1+1/n0))`` with the pooled
    ``p̂``. One map-side-combined scalar aggregate, exact integer
    counts to the final divisions. Successes must be 0/1; NULLs
    excluded; degenerate inputs (either group empty, pooled rate 0
    or 1) return NULL z.
    """
    base = (df.select(F.col(success_col).cast("int").alias("x"),
                      F.col(group_col).cast("int").alias("g"))
            .filter(F.col("x").isNotNull() & F.col("g").isNotNull()))
    agg = base.agg(
        F.sum("g").cast("long").alias("n1"),
        F.sum(F.lit(1) - F.col("g")).cast("long").alias("n0"),
        F.sum(F.col("x") * F.col("g")).cast("long").alias("s1"),
        F.sum(F.col("x") * (F.lit(1) - F.col("g"))).cast("long")
        .alias("s0"))
    n1, n0 = F.col("n1").cast("double"), F.col("n0").cast("double")
    p1, p0 = F.col("s1") / n1, F.col("s0") / n0
    pp = (F.col("s1") + F.col("s0")).cast("double") / (n1 + n0)
    se2 = pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n0)
    z = F.when((F.col("n1") > 0) & (F.col("n0") > 0) & (se2 > 0),
               (p1 - p0) / F.sqrt(se2))
    return agg.select("n1", "n0", p1.alias("p1"), p0.alias("p0"),
                      z.alias("z"))


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    qs,
) -> DataFrame:
    """EXACT weighted quantiles: for each requested ``q`` the
    smallest value whose cumulative weight reaches ``q·W`` — one row
    ``(q, value, cum_weight)`` per quantile. The weighted complement
    to :func:`equidepth_histogram` (row-count depth) and the KLL
    sketch (bounded-state approximation): token-budget medians,
    revenue percentiles, importance-weighted cuts all need the
    WEIGHT axis, which none of the unweighted forms carry.

    Plan: values collapse map-side to per-distinct-value weight sums
    (distinct-value-sized, never rows), the cumulative rides the
    distributed prefix sum (:func:`lindel_spark.util.prefix_sums`),
    and ALL quantiles resolve in ONE aggregate — the q-list joins as
    a broadcast literal frame against the cum table (q·W ≤ cum), min
    per q. NULL values or weights are excluded; non-positive weights
    raise in-plan (they would make the cumulative non-monotone and
    the quantile ill-defined).
    """
    from lindel_spark.util import prefix_sums

    qs = [float(q) for q in qs]
    if not qs or not all(0.0 < q <= 1.0 for q in qs):
        raise ValueError("qs must be non-empty fractions in (0, 1]")
    base = (df.select(F.col(value_col).cast("double").alias("v"),
                      F.col(weight_col).cast("double").alias("w"))
            .filter(F.col("v").isNotNull() & F.col("w").isNotNull()))
    # non-positive weights break monotonicity: fail loudly, in-plan
    checked = base.withColumn(
        "w", F.when(F.col("w") > 0, F.col("w")).otherwise(
            F.raise_error(F.concat(
                F.lit("weighted_quantiles: non-positive weight "),
                F.col("w").cast("string")))))
    counts = checked.groupBy("v").agg(F.sum("w").alias("w"))
    cum = prefix_sums(counts, "v", ["w"])
    tot = cum.agg(F.max("cum_w").alias("__tw"))
    spark = df.sparkSession
    qdf = local_frame(spark, [(q,) for q in sorted(qs)],
                      "q DOUBLE")
    joined = (cum.crossJoin(F.broadcast(tot))
              .join(F.broadcast(qdf),
                    F.col("cum_w") >= F.col("q") * F.col("__tw")))
    # cum_w is monotone in v, so min(v) and min(cum_w) pick the same
    # qualifying row
    return (joined.groupBy("q")
            .agg(F.min("v").alias("value"),
                 F.min("cum_w").alias("cum_weight")))


def seeded_laplace_counts(
    df: DataFrame,
    keys,
    epsilon: float,
    salt: str = "lindel",
    sensitivity: float = 1.0,
) -> DataFrame:
    """Laplace-mechanism count release with SEEDED noise: per key
    group, ``count + Laplace(sensitivity/ε)`` where the draw comes
    from the md5 of (key values, salt) through the inverse CDF — the
    noise MAGNITUDE calibration of the standard ε-DP count mechanism
    (Dwork 2006) with REPLAYABLE draws. Honest caveat, stated loud:
    seeded noise is NOT differential privacy (an adversary who knows
    the salt can subtract the noise; true DP requires fresh
    randomness at release time). What this gives a pipeline is the
    mechanism's exact shape — calibrated noise, bit-identical across
    engines and reruns so the release is testable/replayable — with
    the salt as the freshness knob: rotate it per release and keep
    it secret, and the draw is as unpredictable as the salt.
    Returns one row per group: ``(keys…, n, noisy_n)``.

    Plan: one map-side-combined groupBy; the draw is pure column
    algebra (md5 → uniform in (0,1) → signed −(s/ε)·sgn·ln(1−2|u−½|))
    — zero extra shuffles, replays in any engine with md5 + ln.
    """
    if epsilon <= 0:
        raise ValueError("epsilon must be > 0")
    keys = [keys] if isinstance(keys, str) else list(keys)
    counts = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    # NULL keys coalesce to an un-collidable sentinel BEFORE the
    # seed concat: concat_ws silently skips NULLs, so (NULL) and ('')
    # would otherwise share one draw (ADVICE r12) — the \x00 prefix
    # cannot appear in real key text
    key_str = F.concat_ws(
        "|",
        *[F.coalesce(F.col(k).cast("string"), F.lit("\x00null"))
          for k in keys],
        F.lit(salt))
    # 15 hex chars = 60 bits; +0.5 keeps u strictly inside (0, 1) so
    # |u - 1/2| < 1/2 and the ln argument stays positive
    u = ((F.conv(F.substring(F.md5(key_str), 1, 15), 16, 10)
          .cast("double") + 0.5) / F.lit(float(16 ** 15)))
    c = u - 0.5
    mag = -(F.lit(float(sensitivity) / float(epsilon))
            * F.signum(c) * F.log(1.0 - 2.0 * F.abs(c)))
    return counts.select(*keys, "n",
                         (F.col("n").cast("double") + mag)
                         .alias("noisy_n"))


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Kruskal–Wallis H test (Kruskal & Wallis 1952): one row
    ``(k, n, h)`` — the K-SAMPLE extension of
    :func:`mann_whitney_u` ("do any of these k groups differ in
    location?"), the nonparametric one-way ANOVA over midranks:
    ``H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1)`` divided by the tie
    correction ``1 − Σ(t³−t)/(N³−N)``. Compare ``h`` against
    χ²(k−1); with k = 2 it reduces to the squared tie-corrected
    Mann–Whitney z.

    Plan: rows collapse map-side to per-(distinct-value, group)
    counts; value-level tie sizes and midranks come from the repo's
    DISTRIBUTED prefix sum; ranks join back to the (value, group)
    counts on the value (distinct-value-sized equi-join); one
    per-group aggregate + one scalar closes. Rank sums accumulate in
    DECIMAL(38,0) (the :func:`mann_whitney_u` overflow contract);
    the H algebra itself is double. NULL values/groups excluded;
    all-tied input (zero tie-corrected variance) returns NULL h.
    """
    from lindel_spark.util import prefix_sums

    pairs = (df.select(F.col(value_col).cast("double").alias("v"),
                       F.col(group_col).alias("g"))
             .filter(F.col("v").isNotNull() & F.col("g").isNotNull()))
    vg = pairs.groupBy("v", "g").agg(
        F.count(F.lit(1)).cast("long").alias("cg"))
    vc = vg.groupBy("v").agg(F.sum("cg").cast("long").alias("cnt"))
    c = prefix_sums(vc, "v", ["cnt"])
    mid2 = (2 * F.col("cum_cnt") - F.col("cnt") + 1).alias("mid2")
    dc = F.col("cnt").cast("decimal(19,0)")
    tot = c.agg(F.sum("cnt").cast("long").alias("n"),
                F.sum(dc * dc * dc - dc).alias("tie3"))
    ranks = c.select("v", mid2)
    per_g = (vg.join(ranks, "v")
             .groupBy("g")
             .agg(F.sum("cg").cast("long").alias("ng"),
                  F.sum(F.col("cg").cast("decimal(19,0)")
                        * F.col("mid2").cast("decimal(19,0)"))
                  .alias("rg2")))
    # Σ_g R_g²/n_g folds in GROUP ORDER (sorted struct array →
    # left fold): double addition is order-sensitive, and at large N
    # (R_g ~ N²) a nondeterministic sum order shifts h past the
    # registry's 6dp — the oracle's SUM(... ORDER BY g) makes the
    # identical sequence of additions
    term = ((F.col("rg2").cast("double") / 2.0)
            * (F.col("rg2").cast("double") / 2.0)
            / F.col("ng").cast("double"))
    sums = per_g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("g").alias("g"), term.alias("t")))),
                lambda s: s["t"]),
            F.lit(0.0), lambda acc, x: acc + x).alias("s"))
    nn = F.col("n").cast("double")
    corr = 1.0 - F.col("tie3").cast("double") / (nn * nn * nn - nn)
    h = F.when((F.col("n") > 1) & (corr > 0),
               (12.0 / (nn * (nn + 1.0)) * F.col("s")
                - 3.0 * (nn + 1.0)) / corr)
    return (sums.crossJoin(F.broadcast(tot))
            .select("k", "n", h.alias("h")))


def dunn_posthoc(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons (Dunn 1964, the standard
    follow-up when :func:`kruskal_wallis` rejects): one row per
    UNORDERED group pair ``(g1, g2, n1, n2, z, p, q)`` where

        z = (R̄₁ − R̄₂) / √((N(N+1)/12 − Στ/(12(N−1)))·(1/n₁+1/n₂))

    over GLOBAL midranks (Στ = Σ(t³−t), the tie correction), p is the
    two-sided normal p-value through :func:`normal_sf`, and q is the
    Benjamini–Hochberg adjustment across the k(k−1)/2 pairs via
    :func:`bh_adjust` — KW says "some group differs", Dunn says
    WHICH, and the FDR control is what makes reading all pairs at
    once honest.

    Plan: the exact :func:`kruskal_wallis` machinery (per-distinct-
    value counts, distributed prefix-sum midranks, DECIMAL(38,0)
    rank sums) down to per-group scalars, then a k×k broadcast
    self-join of the TINY per-group frame (bounded by the group
    count, never data-scale) and pure Column algebra — every term is
    a ratio of exact integers, so pairs replay engine-exactly.
    NULL values/groups excluded; pairs order ``g1 < g2``.
    """
    from lindel_spark.util import prefix_sums

    pairs = (df.select(F.col(value_col).cast("double").alias("v"),
                       F.col(group_col).alias("g"))
             .filter(F.col("v").isNotNull() & F.col("g").isNotNull()))
    vg = pairs.groupBy("v", "g").agg(
        F.count(F.lit(1)).cast("long").alias("cg"))
    vc = vg.groupBy("v").agg(F.sum("cg").cast("long").alias("cnt"))
    c = prefix_sums(vc, "v", ["cnt"])
    mid2 = (2 * F.col("cum_cnt") - F.col("cnt") + 1).alias("mid2")
    dc = F.col("cnt").cast("decimal(19,0)")
    tot = c.agg(F.sum("cnt").cast("long").alias("n"),
                F.sum(dc * dc * dc - dc).alias("tie3"))
    per_g = (vg.join(c.select("v", mid2), "v")
             .groupBy("g")
             .agg(F.sum("cg").cast("long").alias("ng"),
                  F.sum(F.col("cg").cast("decimal(19,0)")
                        * F.col("mid2").cast("decimal(19,0)"))
                  .alias("rg2")))
    a = per_g.select(F.col("g").alias("g1"),
                     F.col("ng").alias("n1"),
                     F.col("rg2").alias("__r1"))
    b = per_g.select(F.col("g").alias("g2"),
                     F.col("ng").alias("n2"),
                     F.col("rg2").alias("__r2"))
    pp = (a.join(F.broadcast(b), F.col("g1") < F.col("g2"))
          .crossJoin(F.broadcast(tot)))
    nn = F.col("n").cast("double")
    mean1 = F.col("__r1").cast("double") / 2.0 \
        / F.col("n1").cast("double")
    mean2 = F.col("__r2").cast("double") / 2.0 \
        / F.col("n2").cast("double")
    var = ((nn * (nn + 1.0) / 12.0
            - F.col("tie3").cast("double") / (12.0 * (nn - 1.0)))
           * (1.0 / F.col("n1").cast("double")
              + 1.0 / F.col("n2").cast("double")))
    z = F.when(var > 0, (mean1 - mean2) / F.sqrt(var))
    # least(1, ·): the A-S polynomial can land 2·sf(0) a few 1e-8
    # ABOVE 1.0, and bh_adjust (correctly) raises on p > 1
    scored = pp.select("g1", "g2", "n1", "n2", z.alias("z"),
                       F.least(F.lit(1.0),
                               2.0 * normal_sf(F.abs(z))).alias("p"))
    return bh_adjust(scored, "p", out_col="q")


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman test (Friedman 1937, Conover's tie-general form):
    one row ``(n_blocks, k, q)`` — the k-sample PAIRED rank test
    completing the tier's ladder: :func:`wilcoxon_signed_rank` is
    the k = 2 paired test, :func:`kruskal_wallis` the k-sample
    UNpaired one; Friedman answers "do any of k treatments differ
    when every block (user / prompt / example) sees all k?" — the
    repeated-measures question an LLM eval asks when k model
    variants are scored on the same example set. Compare ``q``
    against χ²(k−1).

    Values are MIDRANKED within each block (ties share the average
    rank); with ``A = Σ r²`` and ``C = n·k(k+1)²/4``::

        q = (k−1) · Σ_j (R_j − n(k+1)/2)² / (A − C)

    — the tie-corrected statistic (reduces to the classic
    ``12/(nk(k+1))·ΣR_j² − 3n(k+1)`` when no ties). Only COMPLETE
    blocks (all k treatments present) enter, the standard design
    requirement; a duplicate (block, treatment) observation raises
    IN-PLAN (silent aggregation would invent a design that isn't
    there — the kfold precedent). All-tied input (A = C) returns
    NULL q.

    Plan: one window rank PARTITIONED BY BLOCK (partition size = k —
    thousands of independent k-row partitions, never a global sort);
    doubled midranks (2r + t − 1, exact integers) accumulate in
    DECIMAL(38,0) (the :func:`mann_whitney_u` overflow contract);
    the Σ_j over treatments folds in TREATMENT ORDER on both engines
    (the kruskal_wallis double-addition lesson). Replay-exact when
    values rank identically on both engines — rank integer-valued
    measurements (counts) for hash-exact oracles; double-valued
    measurements rank identically unless two sums differ below the
    engines' fold order.
    """
    from pyspark.sql import Window

    b = (df.select(F.col(block_col).alias("b"),
                   F.col(treatment_col).alias("t"),
                   F.col(value_col).cast("double").alias("v"))
         .filter(F.col("b").isNotNull() & F.col("t").isNotNull()
                 & F.col("v").isNotNull()))
    kt = b.agg(F.count_distinct("t").cast("long").alias("k"))
    # Duplicate guard rides the completeness path itself (ADVICE
    # r14): the per-(b, t) cell count is raise-wrapped and SUMmed
    # into the per-block row count, so the guard evaluates on the
    # PRE-filter frame — a duplicate in an incomplete block raises
    # instead of being silently dropped by the completeness filter.
    cell = (b.groupBy("b", "t")
            .agg(F.count(F.lit(1)).cast("long").alias("__c"))
            .withColumn("__c", F.when(F.col("__c") > 1, F.raise_error(
                F.lit("LINDEL: friedman_test: duplicate (block, "
                      "treatment) observation — one measurement per "
                      "cell is the design"))).otherwise(F.col("__c"))))
    complete = (cell.groupBy("b")
                .agg(F.sum("__c").cast("long").alias("__nb"))
                .crossJoin(F.broadcast(kt))
                .filter(F.col("__nb") == F.col("k"))
                .select("b"))
    rows = b.join(complete, "b", "left_semi")
    wr = Window.partitionBy("b").orderBy("v")
    wt = Window.partitionBy("b", "v")
    mid2 = (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1) \
        .cast("decimal(19,0)")
    ranked = rows.select("b", "t", mid2.alias("__m2"))
    per_t = (ranked.groupBy("t")
             .agg(F.sum("__m2").alias("__r2"),
                  F.sum(F.col("__m2") * F.col("__m2")).alias("__a4"),
                  F.count(F.lit(1)).cast("long").alias("__n")))
    # Σ_j (R_j − n(k+1)/2)² folds in treatment order; A and n ride
    # the same pass (A = Σ(2r)²/4, every __n equals n_blocks)
    agg = per_t.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("__n").cast("long").alias("n"),
        F.sum("__a4").alias("a4"),
        F.array_sort(F.collect_list(F.struct(
            F.col("t").alias("t"),
            F.col("__r2").cast("double").alias("r2")))).alias("__ts"))
    nn = F.col("n").cast("double")
    kk = F.col("k").cast("double")
    s = F.aggregate(
        F.col("__ts"), F.lit(0.0),
        lambda acc, x: acc + (x["r2"] / 2.0 - nn * (kk + 1.0) / 2.0)
        * (x["r2"] / 2.0 - nn * (kk + 1.0) / 2.0))
    a_minus_c = (F.col("a4").cast("double") / 4.0
                 - nn * kk * (kk + 1.0) * (kk + 1.0) / 4.0)
    q = F.when((F.col("n") > 0) & (a_minus_c > 0),
               (kk - 1.0) * s / a_minus_c)
    return agg.select(F.col("n").alias("n_blocks"), "k",
                      q.alias("q"))


def cochran_q(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    success_col: str,
) -> DataFrame:
    """Cochran's Q test (Cochran 1950): one row ``(n_blocks, k, q)``
    — the k-sample BINARY repeated-measures test completing the
    paired ladder: :func:`mcnemar_test` is its k = 2 case,
    :func:`friedman_test` its ordinal generalization. "Do k model
    variants differ in pass rate when every block (prompt / example)
    sees all k?" — the eval question for binary graders. Compare
    ``q`` against χ²(k−1).

    With row totals ``R_i`` (successes per block), column totals
    ``C_j`` (successes per treatment) and ``N = ΣR_i``::

        q = (k−1) · (k·ΣC_j² − N²) / (k·N − ΣR_i²)

    Only COMPLETE blocks (all k treatments present) enter; a
    duplicate (block, treatment) cell raises in-plan (the
    :func:`friedman_test` guard, riding the completeness aggregation
    so duplicates in incomplete blocks raise too). Degenerate input
    (every block all-0 or all-1 → denominator 0) returns NULL q.

    Plan: every moment is a SUM of exact integers (successes are
    0/1), accumulated in DECIMAL(38,0) — map-side-combined
    aggregates only, no window, no double until the final division;
    replay is hash-exact by construction.
    """
    b = (df.select(F.col(block_col).alias("b"),
                   F.col(treatment_col).alias("t"),
                   (F.col(success_col).cast("double") != 0.0)
                   .cast("long").alias("x"))
         .filter(F.col("b").isNotNull() & F.col("t").isNotNull()
                 & F.col(success_col).isNotNull()))
    kt = b.agg(F.count_distinct("t").cast("long").alias("k"))
    cell = (b.groupBy("b", "t")
            .agg(F.count(F.lit(1)).cast("long").alias("__c"),
                 F.sum("x").cast("long").alias("x"))
            .withColumn("__c", F.when(F.col("__c") > 1, F.raise_error(
                F.lit("LINDEL: cochran_q: duplicate (block, "
                      "treatment) observation — one measurement per "
                      "cell is the design"))).otherwise(F.col("__c"))))
    complete = (cell.groupBy("b")
                .agg(F.sum("__c").cast("long").alias("__nb"))
                .crossJoin(F.broadcast(kt))
                .filter(F.col("__nb") == F.col("k"))
                .select("b"))
    rows = cell.join(complete, "b", "left_semi")
    dec = "decimal(38,0)"
    per_b = (rows.groupBy("b")
             .agg(F.sum("x").cast(dec).alias("__r")))
    per_t = (rows.groupBy("t")
             .agg(F.sum("x").cast(dec).alias("__cj")))
    mb = per_b.agg(F.count(F.lit(1)).cast("long").alias("n_blocks"),
                   F.sum("__r").cast(dec).alias("__nn"),
                   F.sum(F.col("__r") * F.col("__r")).cast(dec)
                   .alias("__r2"))
    mt = per_t.agg(F.count(F.lit(1)).cast("long").alias("k"),
                   F.sum(F.col("__cj") * F.col("__cj")).cast(dec)
                   .alias("__c2"))
    j = mb.crossJoin(F.broadcast(mt))
    kk = F.col("k").cast("double")
    nn = F.col("__nn").cast("double")
    num = kk * F.col("__c2").cast("double") - nn * nn
    den = kk * nn - F.col("__r2").cast("double")
    q = F.when(den > 0, (kk - 1.0) * num / den)
    return j.select("n_blocks", "k", q.alias("q"))


def page_trend_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Page's trend test for ordered alternatives (Page 1963): one
    row ``(n_blocks, k, l, z)`` — the MONOTONE-alternative sibling
    of :func:`friedman_test`: where Friedman asks "do any of k
    treatments differ?", Page asks "do they INCREASE in the
    hypothesized order?" — the eval shape for "does quality climb
    with model scale / checkpoint / dataset size?". Treatments are
    taken in ASCENDING natural sort order as the hypothesized order
    (encode the hypothesis in the labels: '1_small' < '2_mid' <
    '3_large'). Large positive ``z`` supports the increasing trend.

    ``L = Σ_j j·R_j`` over treatment ranks j = 1..k and within-block
    MIDRANK sums R_j (ties share the average rank — duplicates and
    completeness under the exact :func:`friedman_test` contract:
    complete blocks only, duplicate cells raise in-plan, on the
    pre-filter frame). ``z`` standardizes with the classic no-ties
    moments (the standard practice; ties make it mildly
    conservative)::

        E[L]   = n·k·(k+1)² / 4
        Var[L] = n·k²·(k+1)²·(k−1) / 144

    Plan: one window midrank per block (partition size = k), DOUBLED
    midranks (exact integers) in DECIMAL(38,0), the treatment index
    from a broadcast k-row rank frame, one map-side-combined Σ —
    doubles appear only in the final L/2 and z; replay-exact when
    values rank identically on both engines (rank integer-valued
    measurements for hash-exact oracles).
    """
    from pyspark.sql import Window

    b = (df.select(F.col(block_col).alias("b"),
                   F.col(treatment_col).alias("t"),
                   F.col(value_col).cast("double").alias("v"))
         .filter(F.col("b").isNotNull() & F.col("t").isNotNull()
                 & F.col("v").isNotNull()))
    kt = b.agg(F.count_distinct("t").cast("long").alias("k"))
    cell = (b.groupBy("b", "t")
            .agg(F.count(F.lit(1)).cast("long").alias("__c"))
            .withColumn("__c", F.when(F.col("__c") > 1, F.raise_error(
                F.lit("LINDEL: page_trend_test: duplicate (block, "
                      "treatment) observation — one measurement per "
                      "cell is the design"))).otherwise(F.col("__c"))))
    complete = (cell.groupBy("b")
                .agg(F.sum("__c").cast("long").alias("__nb"))
                .crossJoin(F.broadcast(kt))
                .filter(F.col("__nb") == F.col("k"))
                .select("b"))
    rows = b.join(complete, "b", "left_semi")
    # hypothesized order: j = 1..k by ascending treatment label — a
    # k-row broadcast frame, never a data-wide window
    torder = (b.select("t").distinct()
              .withColumn("__j", F.row_number().over(
                  Window.orderBy("t")).cast("long")))
    wr = Window.partitionBy("b").orderBy("v")
    wt = Window.partitionBy("b", "v")
    mid2 = (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1) \
        .cast("decimal(19,0)")
    ranked = rows.select("b", "t", mid2.alias("__m2")) \
        .join(F.broadcast(torder), "t")
    agg = ranked.agg(
        F.count_distinct("b").cast("long").alias("n_blocks"),
        F.max("__j").cast("long").alias("k"),
        F.sum(F.col("__m2").cast("decimal(38,0)")
              * F.col("__j")).alias("__l2"))
    nn = F.col("n_blocks").cast("double")
    kk = F.col("k").cast("double")
    l = F.col("__l2").cast("double") / 2.0
    mean_l = nn * kk * (kk + 1.0) * (kk + 1.0) / 4.0
    var_l = (nn * kk * kk * (kk + 1.0) * (kk + 1.0) * (kk - 1.0)
             / 144.0)
    z = F.when(var_l > 0, (l - mean_l) / F.sqrt(var_l))
    return agg.select("n_blocks", "k", l.alias("l"), z.alias("z"))


def esd_outliers(
    df: DataFrame,
    col: str,
    id_col: str,
    rounds: int = 3,
) -> DataFrame:
    """Generalized-ESD outlier ranking (Rosner 1983, the statistic
    ladder without the critical-value table): ``rounds`` rows
    ``(round, id, value, r_stat)`` — round i's row is the most
    extreme remaining observation, ``r_stat = |x − mean| / sd``
    computed over the sample WITH rounds 1..i−1 already removed.
    The masking-proof version of a single z-score cut: one huge
    outlier inflates sd and hides a second; re-estimating after each
    removal (the whole point of ESD over Grubbs) unmasks it. Feed a
    quality/latency column, read the top-``rounds`` anomalies with
    their detachment scores; compare r_stat against the Rosner λ_i
    for a formal test.

    Deterministic: ties on r_stat break to the SMALLEST id. Fully
    LAZY and SQL-replayable — each round is one map-side-combined
    moment aggregate (n, Σx, Σx²) over the rows LEFT-ANTI the
    removed set (a ≤ rounds-row frame), plus one aggregate-only
    argmax ``max(struct(r_stat, −id))`` — no window, no driver
    action; ``rounds`` is small and fixed (the pagerank contract),
    so the unrolled-CTE oracle replays it value-exactly.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    base = (df.select(F.col(id_col).cast("long").alias("id"),
                      F.col(col).cast("double").alias("value"))
            .filter(F.col("id").isNotNull()
                    & F.col("value").isNotNull()))
    removed = None  # grows one row per round
    out = None
    for i in range(1, rounds + 1):
        cur = base if removed is None else \
            base.join(removed.select("id"), "id", "left_anti")
        mom = cur.agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("value").alias("__s"),
            F.sum(F.col("value") * F.col("value")).alias("__s2"))
        nn = F.col("__n").cast("double")
        mu = F.col("__s") / nn
        var = (F.col("__s2") - F.col("__s") * F.col("__s") / nn) \
            / (nn - 1.0)
        scored = (cur.crossJoin(F.broadcast(mom))
                  .filter(F.col("__n") >= 3)
                  .select("id", "value",
                          F.when(var > 0,
                                 F.abs(F.col("value") - mu)
                                 / F.sqrt(var)).otherwise(F.lit(0.0))
                          .alias("r_stat")))
        pick = (scored.agg(F.max(F.struct(
            F.col("r_stat"), (-F.col("id")).alias("__nid"),
            F.col("value"))).alias("__b"))
            .select(F.lit(i).cast("long").alias("round"),
                    (-F.col("__b.__nid")).cast("long").alias("id"),
                    F.col("__b.value").alias("value"),
                    F.col("__b.r_stat").alias("r_stat"))
            .filter(F.col("id").isNotNull())
            # each pick is a 1-row frame embedded in every later
            # round's anti-join AND the final union: persist so one
            # action computes each round's moment/argmax subtree
            # once instead of O(rounds²) re-scans (review catch,
            # round 15; stays lazy — the SQL-replay contract holds)
            .persist())
        removed = pick.select("id") if removed is None else \
            removed.unionByName(pick.select("id"))
        out = pick if out is None else out.unionByName(pick)
    return out


def huber_mean(
    df: DataFrame,
    col: str,
    c: float = 1.5,
    rounds: int = 3,
) -> DataFrame:
    """Huber M-estimator of location (Huber 1964) by fixed-round
    IRLS: one row ``(n, scale, huber_mean)`` — the robust mean that
    downweights (not discards) outliers: weights ``w = min(1,
    c·s/|x−m|)`` with ``s`` the MAD scale, iterated ``rounds`` times
    from the median. Between the trimmed/winsorized family (hard
    cutoffs) and the plain mean (breakdown 0), this is the standard
    efficiency-robustness compromise (95 % Gaussian efficiency at
    c = 1.345).

    Plan: the median and MAD start points ride the repo's
    distributed machinery (per-distinct-value counts + prefix sums —
    :func:`weighted_quantiles` with unit weights, twice); each IRLS
    round is ONE map-side-combined scalar aggregate over the rows
    with the current estimate broadcast as a one-row frame — fixed
    rounds, no driver action in the loop, replayable by an unrolled
    SQL oracle (the pagerank contract). Zero-MAD inputs (≥ half the
    mass on one value) return that value directly — the estimator's
    exact limit.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    base = (df.select(F.col(col).cast("double").alias("x"))
            .filter(F.col("x").isNotNull()))
    med = (weighted_quantiles(
        base.withColumn("__w", F.lit(1.0)), "x", "__w", [0.5])
        .select(F.col("value").alias("__med")))
    absdev = (base.crossJoin(F.broadcast(med))
              .select(F.abs(F.col("x") - F.col("__med")).alias("ad"),
                      "x", "__med"))
    mad = (weighted_quantiles(
        absdev.withColumn("__w", F.lit(1.0)), "ad", "__w", [0.5])
        .select(F.col("value").alias("__mad")))
    state = (med.crossJoin(F.broadcast(mad))
             .select(F.col("__med").alias("__m"), "__mad"))
    for _ in range(rounds):
        joined = base.crossJoin(F.broadcast(state))
        dev = F.abs(F.col("x") - F.col("__m"))
        # zero-MAD inputs need no special case: dev <= 0 holds only
        # at the median value (weight 1), every other row weights 0,
        # so the update returns the median — the estimator's limit
        w = F.when(dev <= F.lit(float(c)) * F.col("__mad"),
                   F.lit(1.0)) \
            .otherwise(F.lit(float(c)) * F.col("__mad") / dev)
        state = joined.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.first("__mad").alias("__mad"),
            (F.sum(w * F.col("x")) / F.sum(w)).alias("__m"))
    return state.select("n", F.col("__mad").alias("scale"),
                        F.col("__m").alias("huber_mean"))


def cliffs_delta(
    df: DataFrame,
    value_col: str,
    label_col: str,
) -> DataFrame:
    """Cliff's delta effect size (Cliff 1993): one row ``(n1, n0,
    delta)`` with ``δ = P(x1 > x0) − P(x1 < x0) = 2U₁/(n1·n0) − 1``
    — the EFFECT-SIZE companion to :func:`mann_whitney_u`'s
    significance ``z`` (a huge n makes any shift "significant"; δ
    says whether it MATTERS: |δ| < 0.147 negligible, > 0.474 large
    by the standard bands), tie-aware through the same midrank
    identity, ordinal-scale-safe (no means).

    Plan: identical to the U statistic — per-distinct-value counts,
    the distributed prefix sum, one closing scalar; exact
    DECIMAL(38,0) rank algebra to the final division (LONG would
    wrap at ~3e9 rows — see :func:`mann_whitney_u`). Degenerate
    inputs (either sample empty) return NULL delta.
    """
    from lindel_spark.util import prefix_sums

    pairs = (df.select(F.col(value_col).cast("double").alias("v"),
                       F.col(label_col).cast("int").alias("y"))
             .filter(F.col("v").isNotNull() & F.col("y").isNotNull()))
    counts = pairs.groupBy("v").agg(
        F.sum("y").cast("long").alias("c1"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("c0"),
    ).withColumn("cnt", (F.col("c1") + F.col("c0")).cast("long"))
    c = prefix_sums(counts, "v", ["cnt"])
    mid2 = 2 * F.col("cum_cnt") - F.col("cnt") + 1
    agg = c.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c0").cast("long").alias("n0"),
        F.sum(F.col("c1").cast("decimal(19,0)")
              * mid2.cast("decimal(19,0)")).alias("r1_2"))
    n1, n0 = F.col("n1"), F.col("n0")
    u1 = F.col("r1_2").cast("double") / 2.0 \
        - (n1 * (n1 + 1)).cast("double") / 2.0
    delta = F.when((n1 > 0) & (n0 > 0),
                   2.0 * u1 / (n1 * n0).cast("double") - 1.0)
    return agg.select("n1", "n0", delta.alias("delta"))


def bh_adjust(
    df: DataFrame,
    p_col: str,
    out_col: str = "q_value",
) -> DataFrame:
    """Benjamini–Hochberg step-up FDR adjustment (Benjamini &
    Hochberg 1995): adds ``out_col`` = the BH q-value
    ``q_(i) = min(1, min_{j ≥ i} p_(j)·n/j)`` — the multiple-testing
    companion the per-test tier (:func:`mann_whitney_u`,
    :func:`welch_ttest`, :func:`kruskal_wallis`, χ²) needs the moment
    a pipeline runs one test per segment: reject q ≤ α and the
    expected false-discovery fraction is ≤ α.

    Plan: p-values collapse to a per-distinct-value count table;
    each tie block's candidate is ``p·n/rank`` at the block's MAX
    rank (the block minimum under the suffix min, so ties share one
    q — exactly what the step-up produces row-wise); the suffix min
    runs as the repo's DISTRIBUTED descending prefix min
    (:func:`lindel_spark.util.prefix_mins` — never an unpartitioned
    window, continuous p columns rank in parallel); q joins back on
    the p value. NULL p rows keep NULL q; p outside [0, 1] OR NaN
    raises IN-PLAN with a message naming which (the kfold precedent —
    a silent clamp would fake significance, and this repo's
    degenerate-stat convention is NULL, so a NaN p is an upstream
    bug, not a passthrough case). Raises ``ValueError`` up front if
    ``out_col`` (or the internal ``__bh_p``) already exists on the
    input — the join-back would otherwise duplicate or clobber it.
    """
    from lindel_spark.util import prefix_mins, prefix_sums

    for taken in (out_col, "__bh_p"):
        if taken in df.columns:
            raise ValueError(
                f"LINDEL: bh_adjust: input already has a column "
                f"named {taken!r}")

    p = F.col(p_col).cast("double")
    checked = F.when(F.isnan(p), F.raise_error(
        F.lit("LINDEL: bh_adjust p is NaN (degenerate upstream "
              "tests return NULL, never NaN)"))) \
        .when((p < 0.0) | (p > 1.0), F.raise_error(
            F.concat(F.lit("LINDEL: bh_adjust p outside [0,1]: "),
                     p.cast("string")))).otherwise(p)
    base = df.withColumn("__bh_p", checked)
    vals = (base.filter(F.col("__bh_p").isNotNull())
            .groupBy("__bh_p")
            .agg(F.count(F.lit(1)).cast("long").alias("__cnt")))
    ranked = prefix_sums(vals, "__bh_p", ["__cnt"])
    tot = ranked.agg(F.sum("__cnt").cast("long").alias("__n"))
    cand = (ranked.crossJoin(F.broadcast(tot))
            .select("__bh_p",
                    (F.col("__bh_p") * F.col("__n").cast("double")
                     / F.col("cum___cnt").cast("double"))
                    .alias("__cand")))
    qv = (prefix_mins(cand, "__bh_p", ["__cand"], descending=True)
          .select("__bh_p",
                  F.least(F.lit(1.0), F.col("cummin___cand"))
                  .alias(out_col)))
    return (base.join(qv, "__bh_p", "left")
            .drop("__bh_p"))


#: Poisson(1) inverse-CDF thresholds, k = 0..11 (cumulative
#: e⁻¹·Σ 1/j!); draws above the last threshold clamp to k = 12 —
#: clamp probability P(X > 11 | λ=1) ≈ 8.3e-10, and the SAME
#: truncation constant is baked into the SQL oracle, so the clamp is
#: replay-exact, not an approximation gap between engines.
POISSON1_CDF: list[float] = []


def _poisson1_cdf() -> list[float]:
    if not POISSON1_CDF:
        import math
        acc, fact = 0.0, 1.0
        for k in range(12):
            if k:
                fact *= k
            acc += math.exp(-1.0) / fact
            POISSON1_CDF.append(acc)
    return POISSON1_CDF


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    keys=(),
    n_replicas: int = 64,
    alpha: float = 0.05,
    salt: str = "lindel",
) -> DataFrame:
    """SEEDED Poisson-bootstrap confidence interval for the mean, per
    key group: ``(keys…, n, point_mean, ci_lo, ci_hi)`` — the
    distributed bootstrap (Poisson(1) resampling weights approximate
    multinomial resampling without coordinating a global sample; the
    standard large-data bootstrap, e.g. Chamandy et al. 2012) with
    REPLAYABLE draws: replica ``b``'s weight for a row is the
    Poisson(1) inverse CDF of the md5-uniform of ``(id, b, salt)`` —
    the :func:`seeded_laplace_counts` seeding idiom, so any engine
    with md5 reproduces every weight bit-for-bit. Same honest caveat:
    seeded ≠ fresh randomness; rotate the salt per study.

    ``ci_lo``/``ci_hi`` are ORDER STATISTICS of the replica means
    (index ``ceil(B·α/2)`` / ``ceil(B·(1−α/2))``, 1-based) — element
    picks, not interpolation, so the bound is an actual replica mean
    and replays exactly.

    Plan: rows explode ×B (the one deliberate blow-up — B·|rows|
    map-side, no extra shuffle beyond the (keys, b) aggregate), one
    map-side-combined aggregate to B replica means per group, one
    sorted-array fold per group (B doubles of driver-bounded state
    per key). Rows with NULL value or id are excluded; replicas
    whose weights all drew 0 (probability e⁻ⁿ — dead only for tiny
    groups) yield NULL means and are dropped from the order
    statistics on BOTH engines.
    """
    if n_replicas < 4:
        raise ValueError("n_replicas must be >= 4")
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    import math
    keys = [keys] if isinstance(keys, str) else list(keys)
    B = int(n_replicas)
    lo_i = max(1, math.ceil(B * alpha / 2.0))
    hi_i = min(B, math.ceil(B * (1.0 - alpha / 2.0)))

    rows = (df.select(*keys,
                      F.col(value_col).cast("double").alias("__x"),
                      F.col(id_col).cast("string").alias("__id"))
            .filter(F.col("__x").isNotNull()
                    & F.col("__id").isNotNull()))
    # ensure_parallelism: the ×B explode multiplies the md5-per-row
    # work B-fold INSIDE the scan task, so a single-split input
    # serializes the whole map stage (round-16; guide §2.5 — the
    # ngram_novelty/heavy_hitters treatment; the driver measured an
    # 8c/32c scaling ratio of 1.03 here). No-op on an already-split
    # input, so the replica algebra is untouched.
    from lindel_spark.util import ensure_parallelism
    rep = ensure_parallelism(rows).select(
        *keys, "__x", "__id",
        F.explode(F.sequence(F.lit(1), F.lit(B))).alias("__b"))
    u = ((F.conv(F.substring(
        F.md5(F.concat_ws("|", F.col("__id"),
                          F.col("__b").cast("string"), F.lit(salt))),
        1, 15), 16, 10).cast("double") + 0.5)
        / F.lit(float(16 ** 15)))
    w = F.lit(12)
    for k in range(11, -1, -1):
        w = F.when(u <= F.lit(_poisson1_cdf()[k]), F.lit(k)) \
            .otherwise(w)
    means = (rep.withColumn("__w", w)
             .groupBy(*keys, "__b")
             .agg((F.sum(F.col("__w").cast("double") * F.col("__x"))
                   / F.sum(F.col("__w").cast("double"))).alias("__m")))
    stats = rows.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("__x").alias("point_mean"))
    sorted_means = (means.filter(F.col("__m").isNotNull())
                    .groupBy(*keys)
                    .agg(F.array_sort(F.collect_list("__m"))
                         .alias("__ms")))
    ci = sorted_means.select(
        *keys,
        F.size("__ms").cast("long").alias("n_replicas"),
        F.element_at("__ms", lo_i).alias("ci_lo"),
        F.element_at("__ms", hi_i).alias("ci_hi"))
    join_on = keys if keys else None
    if join_on:
        return stats.join(ci, join_on)
    return stats.crossJoin(F.broadcast(ci))


def wilcoxon_signed_rank(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Wilcoxon signed-rank test (Wilcoxon 1945): one row ``(n,
    w_plus, z)`` for PAIRED samples — "did metric x beat metric y on
    the same units?", the matched-pairs companion to the independent
    two-sample :func:`mann_whitney_u` and the standard paired-eval
    test (two models scored on the same examples). Zero differences
    are DISCARDED (the classic Wilcoxon convention, documented);
    ``w_plus`` is the sum of |d|-midranks over positive differences,
    ``z`` the tie-corrected normal approximation ``(W⁺ − n(n+1)/4) /
    √(n(n+1)(2n+1)/24 − Σ(t³−t)/48)``.

    Plan: pairwise-complete rows collapse map-side to per-distinct-
    |d| (positive-count, total-count) tables; midranks via the
    distributed prefix sum; DECIMAL(38,0) rank sums (the
    :func:`mann_whitney_u` overflow contract); one scalar closes.
    Degenerate inputs (no nonzero differences, or zero variance)
    return NULL z.
    """
    from lindel_spark.util import prefix_sums

    d = (F.col(x_col).cast("double") - F.col(y_col).cast("double"))
    pairs = (df.select(d.alias("d"))
             .filter(F.col("d").isNotNull() & (F.col("d") != 0.0)))
    counts = (pairs.groupBy(F.abs(F.col("d")).alias("ad"))
              .agg(F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
                   .cast("long").alias("cpos"),
                   F.count(F.lit(1)).cast("long").alias("cnt")))
    c = prefix_sums(counts, "ad", ["cnt"])
    mid2 = 2 * F.col("cum_cnt") - F.col("cnt") + 1  # 2 × midrank
    dc = F.col("cnt").cast("decimal(19,0)")
    agg = c.agg(
        # coalesce: an all-zero-difference input leaves the count
        # table empty and SUM would return NULL, not 0
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n"),
        F.sum(F.col("cpos").cast("decimal(19,0)")
              * mid2.cast("decimal(19,0)")).alias("wp2"),
        F.sum(dc * dc * dc - dc).alias("tie3"))
    n = F.col("n").cast("double")
    w_plus = F.col("wp2").cast("double") / 2.0
    var = (n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
           - F.col("tie3").cast("double") / 48.0)
    z = F.when((F.col("n") > 0) & (var > 0),
               (w_plus - n * (n + 1.0) / 4.0) / F.sqrt(var))
    return agg.select("n", w_plus.alias("w_plus"), z.alias("z"))


def mcnemar_test(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """McNemar's test for paired BINARY outcomes: one row ``(n, n10,
    n01, chi2)`` with ``χ² = (n10 − n01)² / (n10 + n01)`` (the
    uncorrected form; compare against χ²(1)) — "do classifiers A and
    B disagree asymmetrically on the same examples?", the binary
    sibling of :func:`wilcoxon_signed_rank`. Only the DISCORDANT
    pairs carry signal; concordant pairs only set ``n``. One
    map-side-combined aggregate, exact integers until the final
    division; no discordant pairs → NULL chi2.
    """
    a = F.col(a_col).cast("int")
    b = F.col(b_col).cast("int")
    rows = df.filter(a.isNotNull() & b.isNotNull())
    agg = rows.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when((a == 1) & (b == 0), 1).otherwise(0))
        .cast("long").alias("n10"),
        F.sum(F.when((a == 0) & (b == 1), 1).otherwise(0))
        .cast("long").alias("n01"))
    disc = F.col("n10") + F.col("n01")
    diff = (F.col("n10") - F.col("n01")).cast("double")
    chi2 = F.when(disc > 0, diff * diff / disc.cast("double"))
    return agg.select("n", "n10", "n01", chi2.alias("chi2"))


def anova_oneway(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """One-way ANOVA F (Fisher): one row ``(k, n, df1, df2, f_stat)``
    — the PARAMETRIC k-sample mean test pairing
    :func:`kruskal_wallis` (which tests location by ranks):
    ``F = (SSB/(k−1)) / (SSW/(n−k))`` with ``SSB = Σ n_g(m_g − m)²``,
    ``SSW = Σ (q_g − s_g²/n_g)`` from the explicit per-group
    ``(n, Σx, Σx²)`` moment algebra (the :func:`welch_ttest`
    convention — both engines run the identical formula, no engine
    variance function).

    Plan: one map-side-combined per-group aggregate; the
    order-sensitive sums over groups fold in GROUP ORDER on both
    engines (sorted-array fold ↔ ``SUM(… ORDER BY g)`` — the
    :func:`kruskal_wallis` determinism discipline). NULLs excluded;
    degenerate inputs (k < 2, n ≤ k, or zero within-variance) return
    NULL f_stat.
    """
    pairs = (df.select(F.col(value_col).cast("double").alias("v"),
                       F.col(group_col).alias("g"))
             .filter(F.col("v").isNotNull() & F.col("g").isNotNull()))
    per = pairs.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("v").alias("sg"),
        F.sum(F.col("v") * F.col("v")).alias("qg"))
    ssw_term = (F.col("qg") - F.col("sg") * F.col("sg")
                / F.col("ng").cast("double"))

    def fold(term, alias):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("g").alias("g"), term.alias("t")))),
                lambda s: s["t"]),
            F.lit(0.0), lambda acc, x: acc + x).alias(alias)

    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        fold(F.col("sg"), "s_tot"),
        fold(ssw_term, "ssw"),
        fold(F.col("sg") * F.col("sg") / F.col("ng").cast("double"),
             "sb_raw"))
    n = F.col("n").cast("double")
    k = F.col("k").cast("double")
    ssb = F.col("sb_raw") - F.col("s_tot") * F.col("s_tot") / n
    ok = (F.col("k") > 1) & (F.col("n") > F.col("k")) \
        & (F.col("ssw") > 0)
    f = F.when(ok, (ssb / (k - 1.0)) / (F.col("ssw") / (n - k)))
    return agg.select(
        "k", "n", (F.col("k") - 1).cast("long").alias("df1"),
        (F.col("n") - F.col("k")).cast("long").alias("df2"),
        f.alias("f_stat"))


def cohens_d(
    df: DataFrame,
    value_col: str,
    label_col: str,
) -> DataFrame:
    """Cohen's d / Hedges' g effect size for two independent samples:
    one row ``(n1, n0, d, g)`` with ``d = (m1 − m0) / s_pooled``
    (pooled SD, the equal-weight convention) and ``g = d · J``,
    ``J = 1 − 3/(4(n1+n0) − 9)`` (the small-sample bias correction) —
    the PARAMETRIC effect-size companion to :func:`welch_ttest`'s
    significance, exactly as :func:`cliffs_delta` pairs
    :func:`mann_whitney_u` (|d| bands: 0.2 small / 0.5 medium /
    0.8 large).

    Plan: one map-side-combined aggregate over the explicit
    ``(Σx, Σx², n)`` moment algebra per label (the
    :func:`welch_ttest` convention — no engine variance function, so
    both engines run the identical formula). Labels 0/1; NULLs
    excluded; groups under 2 rows or zero pooled variance return
    NULL d/g.
    """
    pairs = (df.select(F.col(value_col).cast("double").alias("v"),
                       F.col(label_col).cast("int").alias("y"))
             .filter(F.col("v").isNotNull() & F.col("y").isNotNull()))
    one = pairs.agg(
        F.sum("y").cast("long").alias("n1"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("n0"),
        F.sum(F.col("v") * F.col("y")).alias("s1"),
        F.sum(F.col("v") * (F.lit(1) - F.col("y"))).alias("s0"),
        F.sum(F.col("v") * F.col("v") * F.col("y")).alias("q1"),
        F.sum(F.col("v") * F.col("v")
              * (F.lit(1) - F.col("y"))).alias("q0"))
    n1, n0 = F.col("n1").cast("double"), F.col("n0").cast("double")
    m1, m0 = F.col("s1") / n1, F.col("s0") / n0
    ss1 = F.col("q1") - F.col("s1") * F.col("s1") / n1
    ss0 = F.col("q0") - F.col("s0") * F.col("s0") / n0
    sp2 = (ss1 + ss0) / (n1 + n0 - 2.0)
    ok = (F.col("n1") > 1) & (F.col("n0") > 1) & (sp2 > 0)
    d = F.when(ok, (m1 - m0) / F.sqrt(sp2))
    j = 1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0)
    return one.select("n1", "n0", d.alias("d"), (d * j).alias("g"))


def brown_forsythe(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test (Brown & Forsythe
    1974 — Levene's test with the MEDIAN center, the robust default):
    one row ``(k, n, df1, df2, w_stat)`` where ``w_stat`` is the
    one-way ANOVA F computed on ``z = |x − median(group)|`` — "do the
    k groups share a spread?", the assumption check for
    :func:`anova_oneway` (and the dispersion-shift detector the mean
    tests can't see). The group median is the LOWER median (the
    element at position ⌈n_g/2⌉ — an element pick, not an
    interpolation, so it replays engine-exactly).

    Plan: per-(group, value) counts + a group-PARTITIONED cumulative
    (per-group state = the group's distinct values — the
    :func:`lindel_spark.evaluation.roc_auc_by` window contract), one
    row per group selected as the median, one value-keyed join back,
    then :func:`anova_oneway` on the absolute deviations (composition
    — same moment algebra, same group-order folds).
    """
    from pyspark.sql.window import Window

    pairs = (df.select(F.col(value_col).cast("double").alias("v"),
                       F.col(group_col).alias("g"))
             .filter(F.col("v").isNotNull() & F.col("g").isNotNull()))
    counts = pairs.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    w = (Window.partitionBy("g").orderBy("v")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = counts.withColumn("cumc", F.sum("cnt").over(w))
    ng = counts.groupBy("g").agg(F.sum("cnt").cast("long").alias("n_g"))
    pos = F.ceil(F.col("n_g").cast("double") / 2.0).cast("long")
    med = (cum.join(ng, "g")
           .filter((F.col("cumc") - F.col("cnt") < pos)
                   & (pos <= F.col("cumc")))
           .select("g", F.col("v").alias("med")))
    z = (pairs.join(med, "g")
         .select(F.abs(F.col("v") - F.col("med")).alias("z"), "g"))
    out = anova_oneway(z, "z", "g")
    return out.select("k", "n", "df1", "df2",
                      F.col("f_stat").alias("w_stat"))


def normal_sf(z: Column) -> Column:
    """Standard-normal SURVIVAL function ``P(Z > z)`` as pure Column
    algebra — the piece that turns the stats tier's z statistics
    (:func:`mann_whitney_u`, :func:`wilcoxon_signed_rank`,
    two-proportion, CUSUM) into p-values without any engine CDF:
    the Abramowitz & Stegun 7.1.26 erf polynomial (|error| <
    1.5·10⁻⁷, a DOCUMENTED approximation — identical constants on
    every engine, so unlike a library CDF it replays bit-for-bit).

    ``Φ(z) = ½(1 + erf(z/√2))``; the polynomial is evaluated on
    ``x = |z|/√2`` and mirrored through symmetry for negative z.
    """
    x = F.abs(z) / math.sqrt(2.0)
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = (t * (0.254829592
                 + t * (-0.284496736
                        + t * (1.421413741
                               + t * (-1.453152027
                                      + t * 1.061405429)))))
    erf_abs = 1.0 - poly * F.exp(-(x * x))
    sf_pos = 0.5 * (1.0 - erf_abs)          # P(Z > |z|)
    return F.when(z >= 0, sf_pos).otherwise(1.0 - sf_pos)


def jonckheere_terpstra(
    df: DataFrame,
    value_col: str,
    group_col: str,
    max_groups: int = 32,
) -> DataFrame:
    """Jonckheere–Terpstra test for ordered alternatives (Jonckheere
    1954): one row ``(k, n, jt, z)`` — the k-sample UNPAIRED
    ordered-alternative test completing the grid:
    :func:`kruskal_wallis` is unordered-unpaired,
    :func:`page_trend_test` ordered-PAIRED; JT asks "do the
    distributions shift UP along the hypothesized group order?"
    without requiring blocks. Groups are taken in ascending natural
    sort order (encode the hypothesis in the labels — the
    :func:`page_trend_test` convention). Large positive ``z``
    supports the increasing trend.

    ``JT = Σ_{i<j} U_ij`` over ordered group pairs, with the tie ½
    convention; per distinct value ``v`` that is ``Σ_{i<j} c_j(v) ·
    (C_i(<v) + c_i(v)/2)`` — kept DOUBLED so every term is an exact
    integer, accumulated in DECIMAL(38,0) (the
    :func:`mann_whitney_u` overflow contract). ``z`` standardizes
    with the classic no-ties moments (E = (N² − Σn_i²)/4, Var =
    (N²(2N+3) − Σn_i²(2n_i+3))/72 — mildly conservative under
    ties, the :func:`page_trend_test` convention).

    Plan: rows collapse map-side to a per-distinct-value k-column
    count table (k ≤ ``max_groups``, validated — one bounded driver
    collect of the group labels); per-group cumulative counts ride
    the repo's DISTRIBUTED :func:`lindel_spark.util.prefix_sums`
    (range-partitioned, placement-pinned — never an unpartitioned
    window); one scalar aggregate closes. Everything is exact
    integers until the final divisions.
    """
    from lindel_spark.util import prefix_sums

    pairs = (df.select(F.col(value_col).cast("double").alias("v"),
                       F.col(group_col).alias("g"))
             .filter(F.col("v").isNotNull() & F.col("g").isNotNull()))
    labels = [r.g for r in
              pairs.select("g").distinct()
              .limit(max_groups + 1).collect()]
    if len(labels) > max_groups:
        raise ValueError(
            f"LINDEL: jonckheere_terpstra: more than max_groups="
            f"{max_groups} groups — an ordered-alternative test "
            "over unbounded groups is a different operator")
    # natural sort of the (homogeneous) labels — key=str would put
    # numeric label 10 before 2 and scramble the hypothesized order
    # (review catch, round 15)
    labels = sorted(labels)
    k = len(labels)
    if k < 2:
        raise ValueError("jonckheere_terpstra: needs >= 2 groups")
    cc = [f"c{i}" for i in range(k)]
    counts = pairs.groupBy("v").agg(
        *[F.sum((F.col("g") == F.lit(lbl)).cast("long"))
          .cast("long").alias(c) for lbl, c in zip(labels, cc)])
    c = prefix_sums(counts, "v", cc)
    dec = "decimal(38,0)"
    # doubled per-value JT contribution: Σ_{i<j} c_j·(2·C_i(<v) + c_i)
    # — C_i(<v) = cum_i − c_i; all exact integers
    term = None
    for i in range(k):
        ci_lt2 = (2 * (F.col(f"cum_{cc[i]}") - F.col(cc[i]))
                  + F.col(cc[i])).cast(dec)
        for j in range(i + 1, k):
            t = F.col(cc[j]).cast(dec) * ci_lt2
            term = t if term is None else term + t
    agg = c.agg(
        F.sum(term).cast(dec).alias("__jt2"),
        *[F.sum(x).cast("long").alias(f"__n{idx}")
          for idx, x in enumerate(cc)])
    ns = [F.col(f"__n{i}").cast("double") for i in range(k)]
    nn = ns[0]
    for x in ns[1:]:
        nn = nn + x
    sq = ns[0] * ns[0]
    for x in ns[1:]:
        sq = sq + x * x
    cb = ns[0] * ns[0] * (2.0 * ns[0] + 3.0)
    for x in ns[1:]:
        cb = cb + x * x * (2.0 * x + 3.0)
    jt = F.col("__jt2").cast("double") / 2.0
    mean = (nn * nn - sq) / 4.0
    var = (nn * nn * (2.0 * nn + 3.0) - cb) / 72.0
    z = F.when(var > 0, (jt - mean) / F.sqrt(var))
    return agg.select(F.lit(k).cast("long").alias("k"),
                      nn.cast("long").alias("n"),
                      jt.alias("jt"), z.alias("z"))


def mood_median_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Mood's median test: one row ``(n, dof, chi2, cramers_v,
    grand_median)`` — "do the groups differ in MEDIAN?", the
    crudest-but-most-robust k-sample location test (only the
    above/below-median dichotomy enters, so single wild outliers
    and arbitrary monotone transforms change nothing — the screen
    to run before :func:`kruskal_wallis` when the data are
    heavy-tailed latencies or doc lengths). Values equal to the
    grand median count as NOT above (the SAS/Minitab convention,
    stated because ties at the median are common with integer
    measurements).

    A pure composition of shipped primitives: the grand median from
    :func:`weighted_quantiles` (per-distinct-value counts + the
    distributed prefix sum — never a global sort), one broadcast
    flag, and the χ² machinery of :func:`chi_square_independence`
    over the (group, above) contingency — exact integer counts, so
    the statistic replays engine-exactly.
    """
    base = (df.select(F.col(value_col).cast("double").alias("v"),
                      F.col(group_col).alias("g"))
            .filter(F.col("v").isNotNull() & F.col("g").isNotNull()))
    med = (weighted_quantiles(
        base.withColumn("__w", F.lit(1.0)), "v", "__w", [0.5])
        .select(F.col("value").alias("__med")))
    flagged = (base.crossJoin(F.broadcast(med))
               .select("g", (F.col("v") > F.col("__med"))
                       .cast("string").alias("above"), "__med"))
    chi = chi_square_independence(flagged, "g", "above")
    gm = flagged.agg(F.max("__med").alias("grand_median"))
    return chi.crossJoin(F.broadcast(gm)).select(
        "n", "dof", "chi2", "cramers_v", "grand_median")


def by_adjust(
    df: DataFrame,
    p_col: str,
    out_col: str = "q_value",
) -> DataFrame:
    """Benjamini–Yekutieli step-up FDR adjustment (Benjamini &
    Yekutieli 2001): :func:`bh_adjust` made valid under ARBITRARY
    dependence between the tests — q = min(1, min_{j ≥ i}
    p_(j)·n·c(n)/j) with the harmonic penalty ``c(n) = Σ_{i≤n} 1/i``
    (≈ ln n + γ). Use it when the per-segment tests share data
    (overlapping windows, nested segments) and BH's positive-
    dependence assumption is in doubt; the price is ~ln n less
    power.

    Implementation: the :func:`bh_adjust` distributed ladder
    (per-distinct-p counts → distributed prefix sum → suffix min →
    join back) with the candidate scaled by c(n); c(n) folds in
    ASCENDING i order on both engines (``aggregate(sequence(1, n))``
    ↔ ordered SUM over ``range``), so the double algebra replays.
    The harmonic fold materializes a length-n sequence on the
    q-ladder's one-row total frame — fine for test-count-sized
    frames (thousands–millions of segments), which is the only
    regime an FDR adjustment is for. Same NULL/NaN/range/collision
    contracts as :func:`bh_adjust`.
    """
    from lindel_spark.util import prefix_mins, prefix_sums

    for taken in (out_col, "__bh_p"):
        if taken in df.columns:
            raise ValueError(
                f"LINDEL: by_adjust: input already has a column "
                f"named {taken!r}")

    p = F.col(p_col).cast("double")
    checked = F.when(F.isnan(p), F.raise_error(
        F.lit("LINDEL: by_adjust p is NaN (degenerate upstream "
              "tests return NULL, never NaN)"))) \
        .when((p < 0.0) | (p > 1.0), F.raise_error(
            F.concat(F.lit("LINDEL: by_adjust p outside [0,1]: "),
                     p.cast("string")))).otherwise(p)
    base = df.withColumn("__bh_p", checked)
    vals = (base.filter(F.col("__bh_p").isNotNull())
            .groupBy("__bh_p")
            .agg(F.count(F.lit(1)).cast("long").alias("__cnt")))
    ranked = prefix_sums(vals, "__bh_p", ["__cnt"])
    tot = (ranked.agg(F.sum("__cnt").cast("long").alias("__n"))
           .withColumn("__h", F.aggregate(
               F.sequence(F.lit(1).cast("long"), F.col("__n")),
               F.lit(0.0),
               lambda acc, i: acc + 1.0 / i.cast("double"))))
    cand = (ranked.crossJoin(F.broadcast(tot))
            .select("__bh_p",
                    (F.col("__bh_p") * F.col("__n").cast("double")
                     * F.col("__h")
                     / F.col("cum___cnt").cast("double"))
                    .alias("__cand")))
    qv = (prefix_mins(cand, "__bh_p", ["__cand"], descending=True)
          .select("__bh_p",
                  F.least(F.lit(1.0), F.col("cummin___cand"))
                  .alias(out_col)))
    return (base.join(qv, "__bh_p", "left")
            .drop("__bh_p"))


def fisher_combine(
    df: DataFrame,
    p_col: str,
) -> DataFrame:
    """Fisher's method for combining independent p-values (Fisher
    1925): one row ``(m, chi2, dof)`` with ``chi2 = −2·Σ ln p_i``,
    compared against χ²(2m) — "is there an effect SOMEWHERE across
    these m tests?", the meta-analytic complement to
    :func:`bh_adjust`'s "WHICH tests" (run both when a pipeline
    emits one test per segment). Sensitive to a single tiny p;
    assumes independent tests (under shared data it anti-conserves —
    use :func:`by_adjust`'s worst-case framing instead).

    ``p = 0`` raises IN-PLAN (−2·ln 0 = ∞; a true zero means an
    upstream test overflowed — fix it there); NULL p rows are
    excluded. The Σ ln p folds in ASCENDING p order on both engines
    (``sort_array`` fold ↔ ``SUM(… ORDER BY p)`` — the
    kruskal_wallis double-addition lesson), bounded by the
    test-count-sized input this tier operates on.
    """
    p = F.col(p_col).cast("double")
    checked = F.when(F.isnan(p) | (p <= 0.0) | (p > 1.0),
                     F.raise_error(F.concat(
                         F.lit("LINDEL: fisher_combine p outside "
                               "(0,1]: "), p.cast("string")))) \
        .otherwise(p)
    base = (df.select(checked.alias("__p"))
            .filter(F.col("__p").isNotNull()))
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.aggregate(
            F.sort_array(F.collect_list("__p")), F.lit(0.0),
            lambda acc, x: acc + F.log(x)).alias("__slnp"))
    return agg.select(
        "m",
        F.when(F.col("m") > 0, -2.0 * F.col("__slnp"))
        .alias("chi2"),
        (2 * F.col("m")).cast("long").alias("dof"))


def partial_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
) -> DataFrame:
    """First-order partial correlation: one row ``(n, r_xy, r_xz,
    r_yz, r_xy_z)`` — the x↔y Pearson correlation with the
    confounder z linearly removed::

        r_xy·z = (r_xy − r_xz·r_yz) / sqrt((1−r_xz²)·(1−r_yz²))

    The "is the correlation real or just the confounder" audit for
    feature screens (:func:`lindel_spark.features.corr_matrix` gives
    the raw matrix; this subtracts one known driver). Rows with any
    NULL among x/y/z are excluded (complete-case, so the three
    correlations share one sample). Degenerate inputs (any variance
    zero, or |r| = 1 with z) return NULL for the affected outputs.

    ONE map-side-combined aggregate of raw sums; every correlation
    is the same explicit ``(nΣxy − ΣxΣy)/sqrt(…)`` expression tree
    as :func:`lindel_spark.timeseries.acf`, so both engines evaluate
    identical double algebra.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    z = F.col(z_col).cast("double")
    base = (df.select(x.alias("x"), y.alias("y"), z.alias("z"))
            .filter(F.col("x").isNotNull() & F.col("y").isNotNull()
                    & F.col("z").isNotNull()))
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("y") * F.col("z")).alias("syz"))
    nn = F.col("n").cast("double")

    def corr(sab, sa, sb, saa, sbb):
        cov = nn * F.col(sab) - F.col(sa) * F.col(sb)
        va = nn * F.col(saa) - F.col(sa) * F.col(sa)
        vb = nn * F.col(sbb) - F.col(sb) * F.col(sb)
        return F.when((va > 0) & (vb > 0),
                      cov / F.sqrt(va * vb))

    r_xy = corr("sxy", "sx", "sy", "sxx", "syy")
    r_xz = corr("sxz", "sx", "sz", "sxx", "szz")
    r_yz = corr("syz", "sy", "sz", "syy", "szz")
    out = agg.select("n", r_xy.alias("r_xy"), r_xz.alias("r_xz"),
                     r_yz.alias("r_yz"))
    den = ((1.0 - F.col("r_xz") * F.col("r_xz"))
           * (1.0 - F.col("r_yz") * F.col("r_yz")))
    pc = F.when(den > 0,
                (F.col("r_xy") - F.col("r_xz") * F.col("r_yz"))
                / F.sqrt(den))
    return out.withColumn("r_xy_z", pc)


def cronbach_alpha(
    df: DataFrame,
    block_col: str,
    item_col: str,
    value_col: str,
) -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient (Cronbach
    1951): one row ``(n_blocks, k, alpha)`` —

        α = k/(k−1) · (1 − Σ_i var(item_i) / var(total))

    over complete blocks (every block scored on all k items). The
    "do these k graders/metrics measure ONE underlying thing"
    reliability audit next to :func:`agreement_kappa` (kappa grades
    pairwise label agreement; alpha grades a whole battery's
    coherence on a continuous scale — α ≥ 0.8 is the conventional
    'consistent battery' bar before averaging judge scores into one
    quality signal).

    Same design contracts as :func:`friedman_test`: complete blocks
    only, duplicate (block, item) cells raise in-plan on the
    PRE-filter frame. Sample variances ((Σx² − (Σx)²/n)/(n−1));
    degenerate input (n_blocks < 2, k < 2, or zero total variance)
    returns NULL alpha.

    Plan: the completeness semi-join + per-item and per-block-total
    moment aggregates — three map-side-combined passes over the
    cell frame, no window; with integer-valued scores every moment
    is exact and alpha replays engine-exactly.
    """
    b = (df.select(F.col(block_col).alias("b"),
                   F.col(item_col).alias("t"),
                   F.col(value_col).cast("double").alias("v"))
         .filter(F.col("b").isNotNull() & F.col("t").isNotNull()
                 & F.col("v").isNotNull()))
    kt = b.agg(F.count_distinct("t").cast("long").alias("k"))
    cell = (b.groupBy("b", "t")
            .agg(F.count(F.lit(1)).cast("long").alias("__c"),
                 F.sum("v").alias("v"))
            .withColumn("__c", F.when(F.col("__c") > 1, F.raise_error(
                F.lit("LINDEL: cronbach_alpha: duplicate (block, "
                      "item) observation — one score per cell is "
                      "the design"))).otherwise(F.col("__c"))))
    complete = (cell.groupBy("b")
                .agg(F.sum("__c").cast("long").alias("__nb"))
                .crossJoin(F.broadcast(kt))
                .filter(F.col("__nb") == F.col("k"))
                .select("b"))
    rows = cell.join(complete, "b", "left_semi")
    per_item = (rows.groupBy("t")
                .agg(F.count(F.lit(1)).cast("long").alias("__n"),
                     F.sum("v").alias("__s"),
                     F.sum(F.col("v") * F.col("v")).alias("__s2")))
    nn_i = F.col("__n").cast("double")
    var_i = (F.col("__s2") - F.col("__s") * F.col("__s") / nn_i) \
        / (nn_i - 1.0)
    items = per_item.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("__n").cast("long").alias("n_blocks"),
        F.sum(F.when(F.col("__n") > 1, var_i)).alias("__svar"))
    totals = (rows.groupBy("b").agg(F.sum("v").alias("__tot"))
              .agg(F.count(F.lit(1)).cast("long").alias("__nb"),
                   F.sum("__tot").alias("__st"),
                   F.sum(F.col("__tot") * F.col("__tot"))
                   .alias("__st2")))
    nn_b = F.col("__nb").cast("double")
    var_t = (F.col("__st2") - F.col("__st") * F.col("__st") / nn_b) \
        / (nn_b - 1.0)
    j = items.crossJoin(F.broadcast(totals))
    kk = F.col("k").cast("double")
    alpha = F.when((F.col("k") > 1) & (F.col("n_blocks") > 1)
                   & (var_t > 0),
                   kk / (kk - 1.0)
                   * (1.0 - F.col("__svar") / var_t))
    return j.select("n_blocks", "k", alpha.alias("alpha"))


def randomization_test(
    df: DataFrame,
    value_col: str,
    label_col: str,
    id_col: str,
    n_draws: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Seeded two-sample randomization test of the mean difference:
    one row ``(n1, n0, obs_diff, n_draws, n_ge, p)`` — the
    assumption-free significance tier completing the two-sample
    ladder (:func:`welch_ttest` assumes normal-ish tails,
    :func:`mann_whitney_u` tests stochastic dominance of RANKS;
    this tests the MEAN DIFFERENCE itself under the label-exchange
    null, so it answers the exact question an A/B metric asks).
    ``p = (1 + #{draws with |diff| ≥ |obs|}) / (n_draws + 1)`` — the
    standard add-one Monte-Carlo convention, two-sided.

    DETERMINISTIC Monte-Carlo (the seeded-Laplace /
    poisson-bootstrap precedent): draw b reassigns each row to a
    pseudo-group by one md5 bit of ``(seed, b, id)`` — binomial
    (50/50) label randomization, the exchangeable-null variant that
    needs NO global permutation shuffle, so every draw is a pure
    column expression and the whole test is ONE map-side-combined
    aggregate over ``rows × n_draws`` exploded lightweight tuples
    (n·B map rows, zero driver loops, replayable in any engine with
    md5). NULL values/labels/ids are excluded; empty sides give
    NULL p.
    """
    if n_draws < 1:
        raise ValueError("n_draws must be >= 1")
    v = F.col(value_col).cast("double")
    y = (F.col(label_col).cast("double") != 0.0).cast("int")
    base = (df.select(v.alias("v"), y.alias("y"),
                      F.col(id_col).cast("string").alias("id"))
            .filter(F.col("v").isNotNull()
                    & F.col(label_col).isNotNull()
                    & F.col("id").isNotNull()))
    obs = base.agg(
        F.sum(F.when(F.col("y") == 1, F.col("v"))).alias("__s1"),
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
        .cast("long").alias("n1"),
        F.sum(F.when(F.col("y") == 0, F.col("v"))).alias("__s0"),
        F.sum(F.when(F.col("y") == 0, 1).otherwise(0))
        .cast("long").alias("n0"))
    # draws: explode b = 0..B-1 per row; group bit from one md5 hex
    # nibble of (seed, b, id) — engine-portable column algebra
    bit = (F.conv(F.substring(F.md5(F.concat(
        F.lit(f"{seed}:"), F.col("b").cast("string"),
        F.lit(":"), F.col("id"))), 1, 1), 16, 10)
        .cast("long") % 2)
    drawn = (base.select(
        "v", F.explode(F.sequence(
            F.lit(0), F.lit(int(n_draws) - 1))).alias("b"), "id")
        .select("v", "b", bit.alias("g")))
    per = (drawn.groupBy("b")
           .agg(F.sum(F.when(F.col("g") == 1, F.col("v")))
                .alias("__t1"),
                F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
                .cast("long").alias("__m1"),
                F.sum(F.when(F.col("g") == 0, F.col("v")))
                .alias("__t0"),
                F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
                .cast("long").alias("__m0")))
    od = (F.col("__s1") / F.col("n1").cast("double")
          - F.col("__s0") / F.col("n0").cast("double"))
    dd = (F.col("__t1") / F.col("__m1").cast("double")
          - F.col("__t0") / F.col("__m0").cast("double"))
    hits = (per.crossJoin(F.broadcast(
        obs.select("n1", "n0", od.alias("__od"))))
        .agg(F.max("n1").alias("n1"), F.max("n0").alias("n0"),
             F.max("__od").alias("obs_diff"),
             F.count(F.lit(1)).cast("long").alias("n_draws"),
             F.sum(F.when(F.col("__m1") > 0, F.when(
                 F.col("__m0") > 0, F.when(
                     F.abs(dd) >= F.abs(F.col("__od")), 1)
                 .otherwise(0)).otherwise(0)).otherwise(0))
             .cast("long").alias("n_ge")))
    p = F.when(F.col("n1") > 0, F.when(
        F.col("n0") > 0,
        (1.0 + F.col("n_ge").cast("double"))
        / (F.col("n_draws").cast("double") + 1.0)))
    return hits.select("n1", "n0", "obs_diff", "n_draws", "n_ge",
                       p.alias("p"))
