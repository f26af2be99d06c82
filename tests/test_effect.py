"""Effect test (SURVEY §5.2.5): z-ordered vs unordered Parquet.

The reference's entire point (reference docs/README.md:51-72) is that
`ORDER BY hilbert_encode(...)` before writing Parquet clusters the
row-group min/max statistics so 2-D range predicates skip row groups.
This test writes sf0.01 lineitem both ways with small row groups and
evaluates the footer statistics exactly the way a stats-pruning reader
does: a row group survives only if [min, max] intersects the predicate
on BOTH dimensions.
"""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lindel_spark import write as LW

SF_DIR = "/root/testdata/sf0.01"


def _row_group_stats(path: str, cols):
    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            stats = {}
            for c in cols:
                s = g.column(idx[c]).statistics
                stats[c] = (s.min, s.max)
            out.append(stats)
    return out


def _surviving(groups, predicate):
    keep = 0
    for g in groups:
        if all(g[c][0] <= hi and g[c][1] >= lo
               for c, (lo, hi) in predicate.items()):
            keep += 1
    return keep


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory):
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    base = tmp_path_factory.mktemp("effect")
    zpath, upath = str(base / "z"), str(base / "u")
    cols = [F.col("l_orderkey").cast("int"), F.col("l_partkey").cast("int")]
    # small row groups so sf0.01 yields enough groups to measure skipping
    LW.zorder_write(li, cols, zpath, elem="int32", num_files=4,
                    **{"parquet.block.size": str(256 * 1024)})
    (li.repartition(4).write.mode("overwrite")
       .option("parquet.block.size", str(256 * 1024)).parquet(upath))
    return zpath, upath, li


def test_zorder_skips_row_groups(written):
    zpath, upath, li = written
    ok_max = li.agg(F.max("l_orderkey")).first()[0]
    pk_max = li.agg(F.max("l_partkey")).first()[0]
    # a 2-D square covering ~1/8 of each dimension (~1/64 of the space)
    pred = {
        "l_orderkey": (int(ok_max * 0.4), int(ok_max * 0.525)),
        "l_partkey": (int(pk_max * 0.4), int(pk_max * 0.525)),
    }
    cols = list(pred)
    zg = _row_group_stats(zpath, cols)
    ug = _row_group_stats(upath, cols)
    assert len(zg) >= 8 and len(ug) >= 8, (len(zg), len(ug))
    z_keep, u_keep = _surviving(zg, pred), _surviving(ug, pred)
    z_skip = 1 - z_keep / len(zg)
    u_skip = 1 - u_keep / len(ug)
    # unordered data: every row group spans the whole key space -> ~0 skipped;
    # z-ordered: the square predicate touches a contiguous curve range
    assert z_skip > u_skip, (z_skip, u_skip)
    assert z_skip >= 0.5, f"z-ordered skip ratio {z_skip:.2f} < 0.5"


def test_zorder_3d_skips_row_groups(spark, tmp_path_factory):
    """The encode ladder is N-dimensional (the reference registers up
    to 16-D); prove the clustering effect holds past 2-D with a 3-D
    write and a 3-D range predicate."""
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    base = tmp_path_factory.mktemp("effect3d")
    zpath, upath = str(base / "z3"), str(base / "u3")
    cols = [F.col("l_orderkey").cast("int"), F.col("l_partkey").cast("int"),
            F.col("l_suppkey").cast("int")]
    LW.zorder_write(li, cols, zpath, elem="int32", num_files=4,
                    **{"parquet.block.size": str(256 * 1024)})
    (li.repartition(4).write.mode("overwrite")
       .option("parquet.block.size", str(256 * 1024)).parquet(upath))

    mx = li.agg(F.max("l_orderkey"), F.max("l_partkey"),
                F.max("l_suppkey")).first()
    # ~1/4 of each dimension -> ~1/64 of the 3-D space
    pred = {
        "l_orderkey": (int(mx[0] * 0.4), int(mx[0] * 0.65)),
        "l_partkey": (int(mx[1] * 0.4), int(mx[1] * 0.65)),
        "l_suppkey": (int(mx[2] * 0.4), int(mx[2] * 0.65)),
    }
    names = list(pred)
    zg = _row_group_stats(zpath, names)
    ug = _row_group_stats(upath, names)
    assert len(zg) >= 8 and len(ug) >= 8, (len(zg), len(ug))
    z_skip = 1 - _surviving(zg, pred) / len(zg)
    u_skip = 1 - _surviving(ug, pred) / len(ug)
    assert z_skip > u_skip, (z_skip, u_skip)
    assert z_skip >= 0.5, f"3-D z-ordered skip ratio {z_skip:.2f} < 0.5"


def test_zorder_preserves_rows(written):
    zpath, _, li = written
    spark = li.sparkSession
    rb = spark.read.parquet(zpath)
    assert rb.count() == li.count()
    # decimal sum is order-independent (double sums differ after reorder)
    price = F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
    a = li.agg(F.sum("l_orderkey"), price).first()
    b = rb.agg(F.sum("l_orderkey"), price).first()
    assert tuple(a) == tuple(b)


def test_zorder_write_hive_partitioned(spark, tmp_path):
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    out = str(tmp_path / "zp")
    LW.zorder_write(
        li, [F.col("l_orderkey").cast("int"), F.col("l_partkey").cast("int")],
        out, elem="int32", num_files=4, partition_by=["l_returnflag"],
    )
    dirs = {os.path.basename(d) for d in glob.glob(os.path.join(out, "l_returnflag=*"))}
    flags = {f"l_returnflag={r[0]}" for r in
             li.select("l_returnflag").distinct().collect()}
    assert dirs == flags
    rb = spark.read.parquet(out)
    assert rb.count() == li.count()
    # partition pruning: scanning one flag reads only that directory
    one = sorted(flags)[0].split("=")[1]
    assert (rb.filter(F.col("l_returnflag") == one).count()
            == li.filter(F.col("l_returnflag") == one).count())


def test_zorder_store_append_maintain_cycle(spark, tmp_path_factory):
    """The incremental store: appends degrade row-group skipping,
    maintenance restores it; contents stay lossless throughout."""
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    cols = [F.col("l_orderkey").cast("int"),
            F.col("l_partkey").cast("int")]
    store = str(tmp_path_factory.mktemp("zstore") / "s")
    opts = {"elem": "int32", "num_files": 4,
            "parquet.block.size": str(256 * 1024)}
    base = li.filter("l_orderkey % 5 != 0")
    tail = li.filter("l_orderkey % 5 = 0")
    LW.zorder_store_init(base, cols, store, **opts)

    # below-threshold maintain is a no-op
    stats = LW.zorder_store_maintain(spark, store, cols,
                                     tail_ratio=0.9, **opts)
    assert stats["rewritten"] is False

    LW.zorder_store_append(tail, store)
    n_before = LW.zorder_store_read(spark, store).count()
    assert n_before == li.count()  # lossless with a tail present

    stats = LW.zorder_store_maintain(spark, store, cols,
                                     tail_ratio=0.1, **opts)
    assert stats["rewritten"] is True and stats["tail_bytes"] > 0
    rb = LW.zorder_store_read(spark, store)
    assert rb.count() == li.count()  # lossless after the rewrite
    assert sorted(rb.columns) == sorted(li.columns)

    # the rewritten base skips like a fresh zorder_write
    import glob as _glob
    v = max(int(d.split("-v")[1])
            for d in os.listdir(store) if d.startswith("base-v"))
    groups = _row_group_stats(os.path.join(store, f"base-v{v}"),
                              ["l_orderkey", "l_partkey"])
    pred = {"l_orderkey": (1000, 2000), "l_partkey": (100, 400)}
    skip = 1 - _surviving(groups, pred) / len(groups)
    assert skip >= 0.5, f"post-maintain skip ratio {skip:.2f}"
    # tail folded in (only the snapshotted files are deleted — a
    # concurrent append between read and cleanup must survive, so the
    # directory itself may remain, empty); previous base RETAINED
    tail_left = _glob.glob(os.path.join(store, "tail", "*.parquet"))
    assert tail_left == []
    versions = sorted(int(d.split("-v")[1]) for d in os.listdir(store)
                      if d.startswith("base-v"))
    assert versions == [v - 1, v]
    old_rb = LW.zorder_store_read(spark, store, version=v - 1)
    assert old_rb.count() == base.count()  # pre-append snapshot
    import pytest as _p
    with _p.raises(FileNotFoundError, match="not retained"):
        LW.zorder_store_read(spark, store, version=99)


def test_zorder_store_bloom_lookup_cycle(spark, tmp_path_factory,
                                        traced):
    """Store bloom filters: native Parquet bloom filters written at
    init, append and maintain; an equality probe runs no Spark job
    before its scan, counts in at most the scan's own 2 jobs, and an
    absent key inside a file's [min, max] reads no records; a tail
    data file whose stats row hasn't landed is scanned conservatively
    (advisory-index contract)."""
    import pytest as _p

    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    cols = [F.col("l_orderkey").cast("int"),
            F.col("l_partkey").cast("int")]
    store = str(tmp_path_factory.mktemp("zbloom") / "s")
    opts = {"elem": "int32", "num_files": 8}
    LW.zorder_store_init(li.filter("l_orderkey % 5 != 0"), cols, store,
                         stat_cols=["l_orderkey"],
                         bloom_cols=["l_orderkey"], **opts)
    LW.zorder_store_append(li.filter("l_orderkey % 5 = 0"), store)

    probe = int(li.selectExpr("min(l_orderkey)").first()[0]) + 999
    want = li.filter(F.col("l_orderkey") == probe).count()
    hits, stats = LW.zorder_store_lookup(spark, store, "l_orderkey",
                                         probe)
    assert hits.count() == want
    assert stats["files_scanned"] < stats["files_total"]

    with _p.raises(ValueError, match="not bloom-indexed"):
        LW.zorder_store_lookup(spark, store, "l_partkey", 1)

    st = LW.zorder_store_maintain(spark, store, cols, tail_ratio=0.01,
                                  **opts)
    assert st["rewritten"] is True
    (hits, stats), n_jobs, _ = traced(
        lambda: LW.zorder_store_lookup(spark, store, "l_orderkey", probe))
    assert n_jobs == 0  # pruning ran on the driver
    assert stats["tail_files_total"] == 0
    n, n_jobs, _ = traced(hits.count)
    assert n == want and n_jobs <= 2
    assert stats["files_scanned"] < stats["files_total"]

    # an absent key that min/max cannot prune: the bloom filters can
    keys = {r[0] for r in li.select("l_orderkey").distinct().collect()}
    absent = next(k for k in range(min(keys), max(keys)) if k not in keys)
    miss, mstats = LW.zorder_store_lookup(spark, store, "l_orderkey",
                                          absent)
    assert mstats["files_scanned"] >= 1
    n, n_jobs, records = traced(miss.count)
    assert (n, records) == (0, 0) and n_jobs <= 2

    # data-before-index append window: raw tail file, no stats row yet
    extra = li.filter(F.col("l_orderkey") == probe).limit(3)
    n_extra = extra.count()
    extra.write.mode("append").parquet(os.path.join(store, "tail"))
    hits, stats = LW.zorder_store_lookup(spark, store, "l_orderkey",
                                         probe)
    assert stats["tail_files_scanned"] == stats["tail_files_total"] == 1
    assert hits.count() == want + n_extra


def test_zorder_store_append_checks_schema(spark, tmp_path_factory):
    """Append compares the frame's columns and types with the schema
    recorded at init: a matching frame (any column order) round-trips,
    an extra or retyped column raises instead of being silently
    dropped or nulled by the store's named-schema reads."""
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    cols = [F.col("l_orderkey").cast("int"),
            F.col("l_partkey").cast("int")]
    store = str(tmp_path_factory.mktemp("zschema") / "s")
    LW.zorder_store_init(li.filter("l_orderkey % 5 != 0"), cols, store,
                         stat_cols=["l_orderkey"], elem="int32",
                         num_files=4)
    tail = li.filter("l_orderkey % 5 = 0")
    LW.zorder_store_append(tail.select(*reversed(tail.columns)), store)
    assert LW.zorder_store_read(spark, store).count() == li.count()
    with pytest.raises(ValueError, match="LINDEL: .*extra"):
        LW.zorder_store_append(tail.withColumn("extra", F.lit(1)), store)
    with pytest.raises(ValueError, match="LINDEL: .*l_quantity"):
        LW.zorder_store_append(
            tail.withColumn("l_quantity", F.col("l_quantity").cast("string")),
            store)
    assert LW.zorder_store_read(spark, store).count() == li.count()
    with pytest.raises(TypeError, match="bloom_m_bits"):
        LW.zorder_store_init(li, cols, store + "2", bloom_m_bits=1 << 10)


def test_zorder_store_select_survives_drained_manifest_tail(
        spark, tmp_path_factory):
    """Round-9 ADVICE regression: after maintain drains manifest-tail
    parts the directory survives with only _SUCCESS; a subsequent
    append whose data landed but whose stats row hasn't (or never
    will) must make select fall back to the documented CONSERVATIVE
    tail scan, not throw 'Unable to infer schema'."""
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    cols = [F.col("l_orderkey").cast("int"),
            F.col("l_partkey").cast("int")]
    store = str(tmp_path_factory.mktemp("zdrain") / "s")
    opts = {"elem": "int32", "num_files": 4}
    LW.zorder_store_init(li.filter("l_orderkey % 5 != 0"), cols, store,
                         stat_cols=["l_orderkey"], **opts)
    LW.zorder_store_append(li.filter("l_orderkey % 5 = 0"), store)
    LW.zorder_store_maintain(spark, store, cols, tail_ratio=0.01,
                             **opts)
    # the drained dir is exactly the poisoned state: exists, no parts
    mtail = os.path.join(store, "manifest-tail")
    assert os.path.isdir(mtail)
    import glob as _glob
    assert _glob.glob(os.path.join(mtail, "*.parquet")) == []
    # data lands, stats never do (simulated crash between the two)
    raw = li.filter("l_orderkey = 2500").limit(5)
    raw.write.mode("append").parquet(os.path.join(store, "tail"))
    hits, stats = LW.zorder_store_select(
        spark, store, {"l_orderkey": (2000, 3000)})
    assert stats["tail_files_scanned"] == stats["tail_files_total"] == 1
    want = (li.filter("l_orderkey between 2000 and 3000").count()
            + raw.count())
    assert hits.count() == want


def test_zorder_store_select_equality_consults_bloom(
        spark, tmp_path_factory, traced):
    """A lo==hi range on a bloom column that is not a stat column
    (min/max cannot prune it) filters by equality, so the Parquet
    bloom filters drop row groups: results stay exact and an absent
    value reads no records."""
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    cols = [F.col("l_orderkey").cast("int"),
            F.col("l_partkey").cast("int")]
    store = str(tmp_path_factory.mktemp("zbloomsel") / "s")
    LW.zorder_store_init(li, cols, store,
                         stat_cols=["l_orderkey"],
                         bloom_cols=["l_suppkey"],
                         elem="int32", num_files=16)
    probe = int(li.selectExpr("min(l_suppkey)").first()[0])
    want = li.filter(F.col("l_suppkey") == probe).count()
    hits, stats = LW.zorder_store_select(
        spark, store, {"l_suppkey": (probe, probe)})
    assert hits.count() == want
    absent = int(li.selectExpr("max(l_suppkey)").first()[0]) + 1
    h0, s0 = LW.zorder_store_select(
        spark, store, {"l_suppkey": (absent, absent)})
    assert s0["files_scanned"] == s0["files_total"]
    n, _, records = traced(h0.count)
    assert (n, records) == (0, 0)
    h1, s1 = LW.zorder_store_select(
        spark, store, {"l_suppkey": (probe, probe + 1)})
    assert h1.count() == li.filter(
        (F.col("l_suppkey") >= probe)
        & (F.col("l_suppkey") <= probe + 1)).count()


def test_zorder_store_vacuum_retention_and_gdpr(spark,
                                                tmp_path_factory):
    """vacuum(keep_versions=k): old bases + manifests physically gone,
    current timeline untouched, commit log append-only; keep=1 after a
    tombstone purge removes the last physical copy of deleted rows
    (the GDPR completion)."""
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    cols = [F.col("l_orderkey").cast("int"),
            F.col("l_partkey").cast("int")]
    store = str(tmp_path_factory.mktemp("zvac") / "s")
    opts = {"elem": "int32", "num_files": 4}
    LW.zorder_store_init(li.filter("l_orderkey % 5 != 0"), cols,
                         store, stat_cols=["l_orderkey"], **opts)
    LW.zorder_store_append(li.filter("l_orderkey % 5 = 0"), store)
    victims = (li.filter("l_orderkey % 7 = 3")
               .select("l_orderkey").distinct())
    LW.zorder_store_delete(spark, store, "l_orderkey", victims)
    st = LW.zorder_store_maintain(spark, store, cols,
                                  tail_ratio=100.0, **opts)
    assert st["rewritten"]

    # keep=5 is a no-op here (only v0+v1 exist)
    rep = LW.zorder_store_vacuum(spark, store, keep_versions=5)
    assert rep["deleted"] == [] and "base-v1" in rep["kept"]

    # v0 still physically holds the tombstoned rows (retention copy)
    v0 = spark.read.parquet(os.path.join(store, "base-v0"))
    assert v0.filter("l_orderkey % 7 = 3").count() > 0

    rep = LW.zorder_store_vacuum(spark, store, keep_versions=1)
    assert "base-v0" in rep["deleted"]
    assert "manifest-v0" in rep["deleted"]
    assert not os.path.exists(os.path.join(store, "base-v0"))
    # commit log untouched (append-only contract)
    assert os.path.exists(os.path.join(store, "_commits", "v0"))
    # current read unaffected, purge now physical EVERYWHERE
    cur = LW.zorder_store_read(spark, store)
    want = li.filter("l_orderkey % 7 != 3").count()
    assert cur.count() == want
    import glob as _glob
    for d in _glob.glob(os.path.join(store, "base-v*")):
        got = spark.read.parquet(d).filter("l_orderkey % 7 = 3").count()
        assert got == 0, d
    with pytest.raises(FileNotFoundError, match="not retained"):
        LW.zorder_store_read(spark, store, version=0)
    # select still serves from the persisted manifest
    out, stats = LW.zorder_store_select(
        spark, store, {"l_orderkey": (1000, 2000)})
    assert stats["files_scanned"] <= stats["files_total"]
    assert out.count() > 0
    with pytest.raises(ValueError):
        LW.zorder_store_vacuum(spark, store, keep_versions=0)
