"""Per-row and per-Column cost of the shipped curve functions.

perfbench's ``curve.*_ns_per_row`` times the NumPy reference in
``lindel_spark/curve.py``; this script times the JVM kernels the
library runs. Recipe (ROADMAP item 10):

- input: 4M random int32 ``(x, y)`` rows (plus float64 ``(fx, fy)`` and
  an int64 ``key``) in one Parquet file of 8 row groups, on ``local[4]``
- each query writes to the ``noop`` sink; rounds visit the queries in
  turn, the first 2 rounds warm up, and each figure is the median of
  the next 5
- a query's cost is its median above the scan-only query over the same
  columns, also given per row per core
- Column construction: the median driver time to build each form's
  Column, over 50 builds after 10 warm-up builds

Prints one JSON object. Usage::

    python scripts/curve_cost_probe.py [--rows N] [--work DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CORES = 4
ROW_GROUPS = 8
WARMUP, TIMED = 2, 5
BUILD_WARMUP, BUILDS = 10, 50


def _write_input(path: str, rows: int) -> None:
    rng = np.random.default_rng(0)
    xy = rng.integers(-2**31, 2**31, (rows, 2)).astype(np.int32)
    fxy = rng.normal(0, 1e3, (rows, 2))
    pq.write_table(pa.table({
        "x": xy[:, 0], "y": xy[:, 1], "fx": fxy[:, 0], "fy": fxy[:, 1],
        "key": rng.integers(-2**63, 2**63 - 1, rows, dtype=np.int64)}),
        path, row_group_size=-(-rows // ROW_GROUPS))


def _forms():
    """name -> (makes the curve Column, the scan it sits on)."""
    from pyspark.sql import functions as F

    from lindel_spark import functions as LF

    return {
        "hilbert_list_i32": (
            lambda: LF.hilbert_encode(["x", "y"], "int32"), "xy"),
        "hilbert_array_i32": (
            lambda: LF.hilbert_encode(F.array("x", "y"), "int32", n=2), "xy"),
        "hilbert_list_f64": (
            lambda: LF.hilbert_encode(["fx", "fy"], "float64"), "fxy"),
        "hilbert_decode_i32": (
            lambda: LF.hilbert_decode("key", 2, input_width=64), "key"),
        "morton_list_i32": (
            lambda: LF.morton_encode(["x", "y"], "int32"), "xy"),
        "morton_native_i32": (
            lambda: LF.morton_encode_native(["x", "y"], "int32"), "xy"),
    }


SCANS = {"xy": ["x", "y"], "fxy": ["fx", "fy"], "key": ["key"]}


def _build_ms(build) -> float:
    for _ in range(BUILD_WARMUP):
        build()
    times = []
    for _ in range(BUILDS):
        t0 = time.perf_counter()
        build()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--work", default=None,
                    help="scratch directory (default: a new temp dir)")
    args = ap.parse_args(argv)

    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    from lindel_spark.session import get_spark

    work = args.work or tempfile.mkdtemp(prefix="curve-cost-probe-")
    os.makedirs(work, exist_ok=True)
    path = os.path.join(work, "input.parquet")
    spark = get_spark("curve-cost-probe")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        _write_input(path, args.rows)
        df = spark.read.parquet(path)
        forms = _forms()
        queries = {f"scan_{s}": df.select(*cols) for s, cols in SCANS.items()}
        for name, (build, _) in forms.items():
            queries[name] = df.select(build().alias("k"))
        times = {q: [] for q in queries}
        for r in range(WARMUP + TIMED):
            for q, qdf in queries.items():
                t0 = time.perf_counter()
                qdf.write.format("noop").mode("overwrite").save()
                if r >= WARMUP:
                    times[q].append((time.perf_counter() - t0) * 1e3)
        med = {q: statistics.median(t) for q, t in times.items()}
        out = {"rows": args.rows, "row_groups": ROW_GROUPS,
               "master": f"local[{CORES}]", "runs": TIMED, "warmups": WARMUP,
               "scan_ms": {s: round(med[f"scan_{s}"], 1) for s in SCANS},
               "queries": {}, "column_build_ms": {}}
        for name, (build, scan) in forms.items():
            above = med[name] - med[f"scan_{scan}"]
            out["queries"][name] = {
                "median_ms": round(med[name], 1),
                "range_ms": [round(min(times[name]), 1),
                             round(max(times[name]), 1)],
                "above_scan_ms": round(above, 1),
                "ns_per_row_per_core": round(
                    above * 1e6 * CORES / args.rows, 1),
            }
            out["column_build_ms"][name] = round(_build_ms(build), 3)
        return out
    finally:
        spark.stop()
        if args.work is None:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    print(json.dumps(main(), indent=1))
