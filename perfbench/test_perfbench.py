"""Self-tests for the benchmark's own helpers.

    python3 -m pytest perfbench -q

The status-store test starts a small local Spark session.
"""

import itertools
import os
import random
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import reference  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# 5x5 grid, a-major order (FIXTURES.md F1)
GRID_HILBERT = [0, 3, 4, 5, 58, 1, 2, 7, 6, 57, 14, 13, 8, 9, 54,
                15, 12, 11, 10, 53, 16, 17, 30, 31, 32]
GRID_MORTON = [0, 1, 4, 5, 16, 2, 3, 6, 7, 18, 8, 9, 12, 13, 24,
               10, 11, 14, 15, 26, 32, 33, 36, 37, 48]


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99
    assert stats.tail_percentile(19) is None
    for n in range(20, 2000, 7):
        pct = stats.tail_percentile(n)
        values = list(range(n))
        cut = stats.nearest_rank(values, pct)
        assert sum(v > cut for v in values) >= stats.TAIL_SAMPLES
        if pct < 99:
            above = stats.nearest_rank(values, pct + 1)
            assert sum(v > above for v in values) < stats.TAIL_SAMPLES


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_median_sits_inside_one_mode(name):
    wl = WORKLOADS[name]
    kind, margin = stats.median_band(wl.mix, wl.typical_ms)
    assert kind == max(wl.mix, key=wl.mix.get)
    assert margin >= 0.1


def test_median_band_flags_a_boundary():
    kind, margin = stats.median_band({"a": 1, "b": 1}, {"a": 1, "b": 2})
    assert margin == 0.0


def test_mix_weighted_median_ignores_how_many_ops_a_run_reached():
    mix = {"s": 16, "a": 1, "m": 1}
    # a slow run that reached only two selects before its append and
    # maintain: the plain median would sit between modes
    slow = [("s", 1250.0), ("s", 1260.0), ("a", 2400.0), ("m", 7400.0)]
    assert stats.weighted_quantile(slow, mix, 0.5) == ("s", 1260.0)
    assert stats.central_share(slow, mix) == 1.0
    fast = [("s", float(500 + i)) for i in range(16)] + [("a", 1200.0),
                                                          ("m", 4000.0)]
    assert stats.weighted_quantile(fast, mix, 0.5) == ("s", 508.0)
    # one kind: the plain lower median
    one = [("e", v) for v in (3.0, 1.0, 2.0, 4.0)]
    assert stats.weighted_quantile(one, {"e": 1}, 0.5) == ("e", 2.0)


def test_central_share_flags_a_boundary():
    samples = [("s", 1.0), ("l", 2.0), ("s", 3.0), ("l", 4.0)]
    assert stats.central_share(samples, {"s": 1, "l": 1}) < 1.0


def test_reference_scalar_goldens():
    assert reference.hilbert_index([1, 2, 3], 8) == 22
    assert reference.morton_index([1, 2, 3], 8) == 29
    assert reference.hilbert_point(22, 3, 8) == [1, 2, 3]
    assert (reference.hilbert_index([37.8, 0.2], 64)
            == 42534209309512799991913666633619307890)


def test_reference_grid_goldens():
    grid = list(itertools.product(range(5), range(5)))
    assert [reference.hilbert_index(p, 8) for p in grid] == GRID_HILBERT
    assert [reference.morton_index(p, 8) for p in grid] == GRID_MORTON
    for p, h in zip(grid, GRID_HILBERT):
        assert reference.hilbert_point(h, 2, 8) == list(p)


def test_reference_round_trip_and_signed_bitcast():
    rng = random.Random(7)
    for _ in range(200):
        p = [rng.randrange(-2**31, 2**31) for _ in range(2)]
        u = [v & 0xFFFFFFFF for v in p]
        assert reference.hilbert_point(reference.hilbert_index(p, 32),
                                       2, 32) == u


def test_call_timer_counts_outer_calls_once():
    timer = tracing.CallTimer()

    def inner():
        return 1

    shim_inner = timer.wrap("inner", inner)

    def outer():
        return shim_inner() + shim_inner()

    assert timer.wrap("outer", outer)() == 2
    assert timer.calls == {"outer": 1}
    assert shim_inner() == 1
    assert timer.calls == {"outer": 1, "inner": 1}


def test_union_ms():
    assert tracing._union_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert tracing._union_ms([(-5, 5), (95, 105)], 0, 100) == 10
    assert tracing._union_ms([], 0, 100) == 0


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from lindel_spark.session import get_spark

    s = get_spark("perfbench-tests", shuffle_partitions=3)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_status_store_reads_a_two_stage_job(spark):
    import time

    from pyspark.sql import functions as F

    sc = spark.sparkContext
    sc.setJobGroup("perfbench-test", "two stages", False)
    t0 = time.time() * 1e3
    rows = (spark.range(0, 10_000, 1, 4)
            .groupBy((F.col("id") % 7).alias("k")).count().collect())
    t1 = time.time() * 1e3
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 7
    got = tracing.job_group_stats(spark, "perfbench-test", t0, t1)
    # a map stage of 4 tasks and a reduce stage; with adaptive execution
    # the reduce stage runs as a second job that skips the map stage,
    # which must not be counted twice
    assert got["stages"] == 2
    assert got["jobs"] >= 1
    assert got["tasks"] >= 5
    assert got["shuffle_write_bytes"] > 0
    assert got["executor_run_ms"] > 0
    assert got["max_task_ms"] <= got["executor_run_ms"]
    assert 0 <= got["driver_gap_ms"] <= t1 - t0
