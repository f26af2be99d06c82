"""One-pass profiling: null handling and approx mode."""

from pyspark.sql import functions as F

from lindel_spark.profile import profile_table


def test_profile_nulls_and_types(spark):
    df = spark.createDataFrame(
        [(1, "a", None), (2, None, None), (2, "b", None)],
        "k long, s string, z string")
    p = {r.column: r for r in profile_table(df).collect()}
    assert p["k"].n_rows == 3 and p["k"].n_nulls == 0
    assert p["k"].n_distinct == 2
    assert p["s"].n_nulls == 1 and p["s"].min_str == "a"
    assert p["z"].n_nulls == 3 and p["z"].min_str is None
    assert p["z"].n_distinct == 0


def test_profile_approx_mode(spark):
    df = spark.range(1000).select(F.col("id").alias("k"))
    p = profile_table(df, approx=True).collect()[0]
    assert abs(p.n_distinct - 1000) / 1000 < 0.1


def test_value_histogram_bins_and_counts(spark):
    from lindel_spark.profile import value_histogram
    df = spark.createDataFrame([(float(i),) for i in range(100)], ["v"])
    rows = {r["bin"]: r for r in value_histogram(df, "v", n_bins=10).collect()}
    assert set(rows) == set(range(10))
    assert all(rows[b]["n"] == 10 for b in rows)
    assert rows[0]["range_lo"] == 0.0 and rows[0]["range_hi"] == 99.0
    # top edge closes into the last bin (v == hi -> bin 9)


def test_value_histogram_constant_column(spark):
    from lindel_spark.profile import value_histogram
    df = spark.createDataFrame([(5.0,), (5.0,), (None,)], ["v"])
    rows = value_histogram(df, "v", n_bins=4).collect()
    assert len(rows) == 1
    assert rows[0]["bin"] == 0 and rows[0]["n"] == 2  # NULL skipped


def test_value_histogram_fixed_bounds(spark):
    from lindel_spark.profile import value_histogram
    df = spark.createDataFrame([(0.5,), (1.5,), (9.0,)], ["v"])
    rows = {r["bin"]: r["n"] for r in
            value_histogram(df, "v", n_bins=10, lo=0.0, hi=10.0).collect()}
    assert rows == {0: 1, 1: 1, 9: 1}


def test_parquet_layout_report_reconstructs_table(spark, tmp_path):
    from lindel_spark.profile import parquet_layout_report
    df = spark.range(1000).selectExpr("id", "id % 7 as k")
    df.repartition(5).write.parquet(str(tmp_path / "t"))
    rep = parquet_layout_report(spark, str(tmp_path / "t")).collect()
    assert len(rep) == 5
    assert sum(r["n_rows"] for r in rep) == 1000
    assert all(r["bytes"] > 0 and r["n_row_groups"] >= 1 for r in rep)


def test_expectations_report_metrics_and_verdicts(spark):
    from lindel_spark.profile import expectations_report
    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 50.0), (2, None, 500.0)],
        "id long, s string, v double")
    rep = {(r.constraint, r.column): r for r in expectations_report(df, [
        ("not_null", "s"),
        ("unique", "id"),
        ("range", "v", 0, 100),
        ("accepted", "s", ["a", "b"]),
        ("regex", "s", "^[ab]$", 0.5),
    ]).collect()}
    nn = rep[("not_null", "s")]
    assert abs(nn.metric - 2 / 3) < 1e-9 and not nn.passed
    uq = rep[("unique", "id")]
    assert abs(uq.metric - 2 / 3) < 1e-9 and not uq.passed
    rg = rep[("range", "v")]
    assert abs(rg.metric - 2 / 3) < 1e-9 and not rg.passed
    ac = rep[("accepted", "s")]
    assert ac.metric == 1.0 and ac.passed  # NULLs skipped
    rx = rep[("regex", "s")]
    assert rx.metric == 1.0 and rx.passed


def test_expectations_single_aggregate_pass(spark):
    from lindel_spark.profile import expectations_report
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("v"))
    rep = expectations_report(df, [
        ("not_null", "id"), ("range", "v", 0, 10)])
    plan = rep._jdf.queryExecution().executedPlan().toString()
    # exactly one scan of the input: all constraints share one agg
    assert plan.count("Scan ") <= 1
    import pytest as _p
    with _p.raises(ValueError, match="unknown expectation"):
        expectations_report(df, [("median", "v")]).collect()


def test_k_anonymity_report_flags_small_groups(spark):
    from lindel_spark.profile import k_anonymity_report
    import pytest as _p
    df = spark.createDataFrame(
        [("us", "a")] * 5 + [("us", "b")] * 2 + [("fr", "a")] * 3,
        "country string, seg string")
    rep = {(r.country, r.seg): (r.group_n, r.anonymous)
           for r in k_anonymity_report(df, ["country", "seg"], 3)
           .collect()}
    assert rep == {("us", "a"): (5, True), ("us", "b"): (2, False),
                   ("fr", "a"): (3, True)}
    with _p.raises(ValueError, match="k must be"):
        k_anonymity_report(df, ["country"], 0)


def test_referential_integrity_counts_orphans(spark):
    from lindel_spark.profile import referential_integrity_report
    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    child = spark.createDataFrame(
        [(1, "a"), (1, "b"), (3, "c"), (None, "d")], "fk long, v string")
    rep = referential_integrity_report(
        [("child->parent", child, "fk", parent, "pk")]).collect()
    assert len(rep) == 1
    r = rep[0]
    # NULL fk excluded from both counts; fk=3 is the one orphan
    assert (r.relationship, r.n_child, r.n_orphans, r.intact) == \
        ("child->parent", 3, 1, False)

    import pytest as _p
    with _p.raises(ValueError, match="at least one"):
        referential_integrity_report([])


def test_file_minmax_manifest_prunes_files(spark, tmp_path_factory):
    """The manifest index must (a) return correct rows — identical to
    a plain filtered scan — and (b) actually skip files on a
    z-ordered layout."""
    import os

    from lindel_spark import profile as LP
    from lindel_spark import write as LW

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    li = spark.read.parquet(os.path.join(sf, "lineitem.parquet"))
    zpath = str(tmp_path_factory.mktemp("manifest") / "z")
    LW.zorder_write(
        li, [F.col("l_orderkey").cast("int"),
             F.col("l_partkey").cast("int")],
        zpath, elem="int32", num_files=8)
    manifest = LP.file_minmax_manifest(spark, zpath, ["l_orderkey"])
    assert manifest.num_rows == 8
    pruned, stats = LP.manifest_pruned_read(
        spark, zpath, manifest, {"l_orderkey": (1000, 2000)})
    want = li.filter("l_orderkey between 1000 and 2000")
    assert pruned.count() == want.count()
    assert (pruned.agg(F.sum("l_partkey")).first()[0]
            == want.agg(F.sum("l_partkey")).first()[0])
    # clustering on (orderkey, partkey) makes per-file orderkey ranges
    # tight: a narrow predicate must not scan every file
    assert stats["files_scanned"] < stats["files_total"]
    # empty intersection: zero files scanned, empty (not failing) frame
    none_df, none_stats = LP.manifest_pruned_read(
        spark, zpath, manifest, {"l_orderkey": (10**9, 10**9 + 1)})
    assert none_stats["files_scanned"] == 0
    assert none_df.count() == 0


def test_file_minmax_manifest_footer_routes_agree(spark, tmp_path_factory,
                                                  monkeypatch, traced):
    """The driver's footer reads (at most ``MANIFEST_DRIVER_FILES``
    files, no Spark job) and the distributed footer job (above the
    bound) build the same manifest Table — schema and rows — for an
    int and two decimal stat columns."""
    import math
    import os

    from lindel_spark import profile as LP
    from lindel_spark import write as LW

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    li = spark.read.parquet(os.path.join(sf, "lineitem.parquet"))
    price = F.col("l_extendedprice")
    df = li.select(F.col("l_orderkey").cast("int").alias("k"),
                   price.cast("decimal(12,2)").alias("price"),
                   price.cast("decimal(30,2)").alias("wide"), "l_partkey")
    zpath = str(tmp_path_factory.mktemp("routes") / "z")
    LW.zorder_write(df, [F.col("k"), F.col("l_partkey").cast("int")],
                    zpath, elem="int32", num_files=8)
    cols = ["k", "price", "wide"]
    driver, n_jobs, _ = traced(
        lambda: LP.file_minmax_manifest(spark, zpath, cols))
    assert n_jobs == 0 and driver.num_rows == 8
    monkeypatch.setattr(LP, "MANIFEST_DRIVER_FILES", 0)
    spread, n_jobs, _ = traced(
        lambda: LP.file_minmax_manifest(spark, zpath, cols))
    assert n_jobs >= 1
    assert spread.schema == driver.schema
    assert spread.sort_by("file").equals(driver.sort_by("file"))
    # decimal stats (int-backed and fixed-width) scale exactly
    lo = float(df.agg(F.min("price")).first()[0])
    for c in ("min_price", "min_wide"):
        assert min(driver.column(c).to_pylist()) == math.nextafter(
            lo, -math.inf)


def test_bloom_manifest_no_false_negatives_and_prunes(spark, tmp_path):
    """Round-9 bloom index: every present value MUST be admitted by
    its file's bitset (no false negatives), point lookups skip files,
    and an absent value prunes (almost) everything."""
    from lindel_spark import profile as LP

    df = spark.range(20000).select(
        (F.col("id") * 37 + 11).alias("key"),
        (F.col("id") % 100).alias("v"))
    path = str(tmp_path / "bloom")
    df.repartition(8).write.parquet(path)
    man = LP.file_bloom_manifest(spark, path, "key").collect()
    # present values: exact result through the pruned read
    for probe in (11, 11 + 37 * 9999, 11 + 37 * 19999):
        hits, stats = LP.bloom_pruned_read(spark, path, man,
                                           "key", probe)
        assert hits.count() == 1, probe
        assert stats["files_scanned"] >= 1
        assert stats["files_scanned"] < stats["files_total"]
    # absent value: fpp ~1e-4 per file -> expect 0 scanned of 8
    _hits, stats = LP.bloom_pruned_read(spark, path, man, "key", 12)
    assert stats["files_scanned"] <= 1


def test_bloom_distributed_matches_rows_path_never_ships_bitsets(
        spark, tmp_path, monkeypatch):
    """Round-10: the DataFrame-manifest probe path filters DISTRIBUTED
    — the single driver action returns (count, survivor paths); no
    frame carrying the ``bits`` column is ever collect()ed/first()ed
    (round-9 verdict item 1: the old path shipped 128 KiB x file_count
    to the driver per probe). Survivors match the rows path exactly."""
    from pyspark.sql import DataFrame as DF

    from lindel_spark import profile as LP

    df = spark.range(20000).select(
        (F.col("id") * 37 + 11).alias("key"),
        (F.col("id") % 100).alias("v"))
    path = str(tmp_path / "bloom10")
    df.repartition(8).write.parquet(path)
    man = LP.file_bloom_manifest(spark, path, "key")
    rows = man.collect()

    seen_schemas = []
    orig_first, orig_collect = DF.first, DF.collect

    def spy_first(self):
        seen_schemas.append([f.name for f in self.schema.fields])
        return orig_first(self)

    def spy_collect(self):
        seen_schemas.append([f.name for f in self.schema.fields])
        return orig_collect(self)

    monkeypatch.setattr(DF, "first", spy_first)
    monkeypatch.setattr(DF, "collect", spy_collect)
    for probe in (11, 11 + 37 * 9999, 12):
        seen_schemas.clear()
        hits, stats = LP.bloom_pruned_read(spark, path, man, "key",
                                           probe)
        assert all("bits" not in s for s in seen_schemas), seen_schemas
        monkeypatch.setattr(DF, "first", orig_first)
        monkeypatch.setattr(DF, "collect", orig_collect)
        _rh, rstats = LP.bloom_pruned_read(spark, path, rows, "key",
                                           probe)
        assert stats == rstats, probe
        monkeypatch.setattr(DF, "first", spy_first)
        monkeypatch.setattr(DF, "collect", spy_collect)


def test_bloom_spark_rendered_probe_double_and_bool(spark, tmp_path):
    """Round-9 ADVICE regression: double/boolean probes must have NO
    false negatives — the DataFrame path renders the probe with the
    same Spark cast-to-string the build hashed ('1.0E20' style), where
    Python f-string rendering ('1e+20') silently dropped files."""
    from lindel_spark import profile as LP

    d = spark.range(1000).select(
        (F.col("id").cast("double") * 1e17).alias("d"))
    pd_ = str(tmp_path / "dbl")
    d.repartition(4).write.parquet(pd_)
    md = LP.file_bloom_manifest(spark, pd_, "d")
    hits, stats = LP.bloom_pruned_read(spark, pd_, md, "d", 500 * 1e17)
    assert hits.count() == 1
    assert 1 <= stats["files_scanned"] < stats["files_total"]

    b = spark.range(100).select((F.col("id") % 2 == 0).alias("b"))
    pb = str(tmp_path / "bool")
    b.repartition(2).write.parquet(pb)
    mb = LP.file_bloom_manifest(spark, pb, "b")
    hits, stats = LP.bloom_pruned_read(spark, pb, mb, "b", True)
    assert hits.count() == 50  # every True row found: no false negatives
    assert stats["files_scanned"] == stats["files_total"]  # both hold True


def test_bloom_rows_path_rejects_nonportable_probe_types(
        spark, tmp_path):
    """The collected-rows path only supports int/str probes (Python
    str() and Spark cast-to-string diverge on float/bool renderings,
    which would silently false-negative) — other types must raise,
    pointing at the DataFrame path."""
    import pytest as _p

    from lindel_spark import profile as LP

    d = spark.range(100).select((F.col("id") * 1.5).alias("d"))
    pd_ = str(tmp_path / "rows")
    d.repartition(2).write.parquet(pd_)
    rows = LP.file_bloom_manifest(spark, pd_, "d").collect()
    with _p.raises(TypeError, match="int/str"):
        LP.bloom_pruned_read(spark, pd_, rows, "d", 1.5)
    with _p.raises(TypeError, match="int/str"):
        LP.bloom_pruned_read(spark, pd_, rows, "d", True)


def test_column_entropy_profile_hand_computed(spark):
    """Constructed distribution: entropy/top/tie-break verified by
    hand — column a: {x:3, y:1} (H = ln4 - (3ln3)/4), column b:
    uniform over two values with a count tie -> lexicographic top,
    H = ln 2; nulls excluded from n_values."""
    import math

    from lindel_spark.profile import column_entropy_profile
    df = spark.createDataFrame(
        [("x", "q"), ("x", "p"), ("x", None), ("y", "q"), (None, "p")],
        "a string, b string")
    out = {r.column: r for r in
           column_entropy_profile(df, ["a", "b"]).collect()}
    a = out["a"]
    assert (a.n_values, a.n_distinct, a.top_value, a.top_cnt) \
        == (4, 2, "x", 3)
    assert abs(a.entropy - (math.log(4) - 3 * math.log(3) / 4)) < 1e-12
    assert abs(a.top_share - 0.75) < 1e-12
    b = out["b"]
    assert (b.n_values, b.n_distinct, b.top_value, b.top_cnt) \
        == (4, 2, "p", 2)  # 2-2 tie -> smaller string
    assert abs(b.entropy - math.log(2)) < 1e-12


def test_column_entropy_profile_validates(spark):
    from lindel_spark.profile import column_entropy_profile
    df = spark.createDataFrame([("x",)], "a string")
    import pytest
    with pytest.raises(ValueError, match="non-empty"):
        column_entropy_profile(df, [])


def test_distribution_drift_identical_and_shifted(spark):
    import math

    from lindel_spark.profile import distribution_drift

    base = [(float(i % 10),) for i in range(100)]
    ref = spark.createDataFrame(base, ["v"])
    same = spark.createDataFrame(base, ["v"])
    out = {r.column: r for r in
           distribution_drift(ref, same, ["v"], bins=10).collect()}
    # identical distributions: smoothing cancels, psi == kl == 0
    assert abs(out["v"].psi) < 1e-12 and abs(out["v"].kl) < 1e-12
    assert out["v"].n_ref == 100 and out["v"].n_cur == 100

    # all mass moves to one value: drift must scream
    shifted = spark.createDataFrame([(9.0,)] * 100, ["v"])
    d = distribution_drift(ref, shifted, ["v"], bins=10).collect()[0]
    assert d.psi > 1.0 and d.kl > 1.0

    # hand-check one cell of the shifted case: bin 9 holds all 100
    # cur rows vs 10 ref rows -> shares (100.5/105, 10.5/105)
    cs, rs = 100.5 / 105.0, 10.5 / 105.0
    term9 = (cs - rs) * (math.log(cs) - math.log(rs))
    # bins 0..8: cur 0 vs ref 10 each
    cs0, rs0 = 0.5 / 105.0, 10.5 / 105.0
    expected = term9 + 9 * (cs0 - rs0) * (math.log(cs0) - math.log(rs0))
    assert abs(d.psi - expected) < 1e-12


def test_distribution_drift_out_of_range_clamps(spark):
    from lindel_spark.profile import distribution_drift

    ref = spark.createDataFrame([(float(i),) for i in range(10)], ["v"])
    cur = spark.createDataFrame([(-50.0,), (50.0,), (None,)], ["v"])
    d = distribution_drift(ref, cur, ["v"], bins=5).collect()[0]
    assert d.n_cur == 2  # null dropped; out-of-range rows kept (edge bins)
    assert d.psi > 0.0


def test_l_diversity_flags_homogeneous_class(spark):
    from lindel_spark.profile import l_diversity_report

    df = spark.createDataFrame(
        [("a", 1, "flu"), ("a", 1, "flu"), ("a", 1, "flu"),
         ("b", 2, "flu"), ("b", 2, "cold"), ("b", 2, "hiv")],
        "zip string, age long, dx string")
    rows = {(r.zip, r.age): r for r in
            l_diversity_report(df, ["zip", "age"], "dx", l=2).collect()}
    assert rows[("a", 1)].group_n == 3
    assert rows[("a", 1)].n_sensitive == 1
    assert not rows[("a", 1)].diverse  # 3-anonymous yet fully disclosed
    assert rows[("b", 2)].n_sensitive == 3 and rows[("b", 2)].diverse


def test_drift_and_l_diversity_validate(spark):
    import pytest

    from lindel_spark.profile import (distribution_drift,
                                      l_diversity_report)

    df = spark.createDataFrame([(1.0,)], ["v"])
    with pytest.raises(ValueError):
        distribution_drift(df, df, [], bins=10)
    with pytest.raises(ValueError):
        distribution_drift(df, df, ["v"], bins=1)
    with pytest.raises(ValueError):
        l_diversity_report(df, ["v"], "v", l=0)


def test_equidepth_histogram_equal_counts_and_edges(spark):
    from lindel_spark.profile import equidepth_histogram

    df = spark.createDataFrame([(float(i),) for i in range(100)], ["v"])
    rows = {r.bin: r for r in
            equidepth_histogram(df, "v", n_bins=10).collect()}
    assert set(rows) == set(range(10))
    assert all(rows[b].n == 10 for b in rows)
    assert rows[0].lo == 0.0 and rows[0].hi == 9.0
    assert rows[9].lo == 90.0 and rows[9].hi == 99.0


def test_equidepth_histogram_heavy_tail_and_ties(spark):
    from lindel_spark.profile import equidepth_histogram

    # 90 zeros + 10 spread values: equi-width would put 99% in bin 0;
    # equi-depth keeps counts equal and is deterministic under ties
    vals = [0.0] * 90 + [float(10 ** k) for k in range(1, 11)]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    rows = sorted(equidepth_histogram(df, "v", n_bins=4).collect())
    assert [r.n for r in rows] == [25, 25, 25, 25]
    assert rows[0].lo == 0.0 and rows[0].hi == 0.0
    assert rows[3].hi == 1e10
    # determinism across layouts despite the 90-way tie
    again = sorted(equidepth_histogram(df.repartition(13), "v",
                                       n_bins=4).collect())
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_equidepth_histogram_uneven_split_and_validate(spark):
    import pytest

    from lindel_spark.profile import equidepth_histogram

    df = spark.createDataFrame([(float(i),) for i in range(10)], ["v"])
    rows = sorted(equidepth_histogram(df, "v", n_bins=3).collect())
    assert sum(r.n for r in rows) == 10
    assert max(r.n for r in rows) - min(r.n for r in rows) <= 1
    with pytest.raises(ValueError):
        equidepth_histogram(df, "v", n_bins=0)
