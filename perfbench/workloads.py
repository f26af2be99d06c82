"""The workloads: seeded inputs, the op each timed iteration runs,
and the check applied to every op's result.

The library sees only generated Parquet files (NumPy data written with
pyarrow); every op goes through the public API of
``lindel_spark.functions`` and ``lindel_spark.write``.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import reference
from lindel_spark import fs
from lindel_spark import functions as LF
from lindel_spark.write import (zorder_store_append, zorder_store_init,
                                zorder_store_lookup, zorder_store_maintain,
                                zorder_store_select)

COORD_BITS = 20          # clustered coordinates live in [0, 2**20)
CLUSTERS = 8             # Gaussian clusters, Zipf-weighted
SAMPLE_ROWS = 32         # rows per encode_scan op checked against reference
WARMUP_ID = 1 << 30      # op indices of encode_scan warm-up ops


class CheckFailed(Exception):
    """An op returned a result that disagrees with the ground truth."""


@dataclass
class Op:
    kind: str
    rows: int                          # logical input rows of the op
    run: Callable[[], Any]             # the timed call
    check: Callable[[Any], None]       # untimed; raises CheckFailed


def _write(table: pa.Table, path: str) -> None:
    """One file, one row group."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def clustered_xy(rng, n: int) -> np.ndarray:
    """(n, 2) int32 points from Zipf-weighted Gaussian clusters."""
    centers = rng.integers(1 << 16, (1 << COORD_BITS) - (1 << 16),
                           (CLUSTERS, 2))
    w = 1.0 / np.arange(1, CLUSTERS + 1)
    label = rng.choice(CLUSTERS, n, p=w / w.sum())
    xy = centers[label] + rng.normal(0, 1 << 14, (n, 2))
    return np.clip(xy, 0, (1 << COORD_BITS) - 1).astype(np.int32)


def _parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(d, f) for d, _, names in os.walk(path)
                  for f in names if f.endswith(".parquet"))


class Workload:
    name = ""
    mix: dict = {}           # share of each op kind in the declared mix
    typical_ms: dict = {}    # latency order of the kinds' modes

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def rng(self, *stream: int):
        """Independent generator per purpose, so op parameters never
        depend on how many ops a run reaches."""
        return np.random.default_rng([self.seed, *stream])

    def generate(self) -> None:
        raise NotImplementedError

    def build(self) -> None:
        """Store build (set-up); most workloads have none."""

    def warmup_ops(self) -> list[Callable[[], Op]]:
        """Op builders for the fixed warm-up, one per op. An op is built
        only when its turn comes, as its parameters may depend on the
        effects of the ops before it."""
        raise NotImplementedError

    def begin_timed(self) -> None:
        """Forget what warm-up ops recorded."""

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def kernel_arrays(self) -> tuple[np.ndarray, np.ndarray]:
        """(int32 pair, float64 pair) arrays for direct kernel timing."""
        raise NotImplementedError

    def layer_metrics(self) -> dict:
        return {}


class EncodeScan(Workload):
    """Four curve queries over one single-row-group Parquet file."""

    name = "encode_scan"
    mix = {"encode": 1.0}
    typical_ms = {"encode": 1.0}
    ROWS = 100_000
    QUERIES = ("hilbert_i32x2", "hilbert_f64x2", "morton_i32x2",
               "hilbert_roundtrip_i32x2")

    def generate(self):
        rng = self.rng(0)
        n = self.ROWS
        self.xy = rng.integers(-2**31, 2**31, (n, 2)).astype(np.int32)
        self.fxy = rng.normal(0, 1e3, (n, 2))
        self.key = np.arange(n, dtype=np.int64)
        self.path = os.path.join(self.work, "encode_input")
        os.makedirs(self.path, exist_ok=True)
        _write(pa.table({
            "x": self.xy[:, 0], "y": self.xy[:, 1],
            "fx": self.fxy[:, 0], "fy": self.fxy[:, 1],
            "key": self.key,
            "payload": rng.integers(0, 1 << 40, n)}),
            os.path.join(self.path, "part-0.parquet"))

    @staticmethod
    def _columns() -> dict:
        """The op's curve expressions, built anew per op as a caller would."""
        h32 = LF.hilbert_encode(["x", "y"], "int32")
        return {
            "hilbert_i32x2": h32,
            "hilbert_f64x2": LF.hilbert_encode(["fx", "fy"], "float64"),
            "morton_i32x2": LF.morton_encode(["x", "y"], "int32"),
            "decoded": LF.hilbert_decode(h32, 2, input_width=64),
        }

    def _run(self) -> dict:
        df = self.spark.read.parquet(self.path)
        cols = self._columns()
        query_ms = {}
        for q in self.QUERIES[:3]:
            t0 = time.perf_counter()
            (df.select(cols[q].alias("k")).write.format("noop")
             .mode("overwrite").save())
            query_ms[q] = (time.perf_counter() - t0) * 1e3
        # the round trip is checked over the whole table inside the op:
        # the query counts rows whose decoded point differs from (x, y)
        t0 = time.perf_counter()
        dec = cols["decoded"]
        bad = df.select(F.sum(F.when(
            (dec.getItem(0) != F.col("x")) | (dec.getItem(1) != F.col("y")),
            1).otherwise(0)).alias("bad")).first()["bad"]
        query_ms[self.QUERIES[3]] = (time.perf_counter() - t0) * 1e3
        return {"query_ms": query_ms, "roundtrip_bad": bad}

    def _check(self, i: int, result: dict) -> None:
        if result["roundtrip_bad"] != 0:
            raise CheckFailed(f"decode(encode(x)) != x on "
                              f"{result['roundtrip_bad']} rows")
        idx = self.rng(1, i).choice(self.ROWS, SAMPLE_ROWS, replace=False)
        cols = self._columns()
        rows = (self.spark.read.parquet(self.path)
                .filter(F.col("key").isin([int(k) for k in self.key[idx]]))
                .select("key", *(cols[q].alias(q) for q in self.QUERIES[:3]))
                .collect())
        if len(rows) != SAMPLE_ROWS:
            raise CheckFailed(f"sample query returned {len(rows)} rows")
        m64 = (1 << 64) - 1
        for r in rows:
            k = r["key"]
            p32 = [int(v) for v in self.xy[k]]
            pf = [float(v) for v in self.fxy[k]]
            got = (r["hilbert_i32x2"] & m64,
                   int.from_bytes(r["hilbert_f64x2"], "big"),
                   r["morton_i32x2"] & m64)
            want = (reference.hilbert_index(p32, 32),
                    reference.hilbert_index(pf, 64),
                    reference.morton_index(p32, 32))
            if got != want:
                raise CheckFailed(f"row key={k}: keys {got} != reference "
                                  f"{want}")

    def _op(self, i: int) -> Op:
        return Op("encode", len(self.QUERIES) * self.ROWS, self._run,
                  lambda res: self._check(i, res))

    def warmup_ops(self):
        return [lambda: self._op(WARMUP_ID), lambda: self._op(WARMUP_ID + 1)]

    def op(self, i):
        return self._op(i)

    def kernel_arrays(self):
        return self.xy, self.fxy


class StoreMix(Workload):
    """Range selects and point lookups on one z-order store, with appends
    and the maintain each append triggers.

    Every append crosses ``TAIL_RATIO`` and is folded by the maintain that
    follows, so reads always see a fully clustered base: the measured
    pruning is the clustering's, and select latency stays in one mode.
    """

    name = "store_mix"
    BASE_ROWS = 100_000
    NUM_FILES = 16
    BATCH_ROWS = 6_000
    TAIL_RATIO = 0.04
    # One block of 20 ops; positions fixed, parameters seeded. 16 selects,
    # 3 lookups, 1 append (plus its maintain): the median op is a select,
    # far from the band edges (see stats.median_band). The append comes
    # early, so even a slow run reaches every kind.
    LAYOUT = "SSALSSSSSSLSSSSSSLSS"
    mix = {"select": 16, "lookup": 3, "append": 1, "maintain": 1}
    typical_ms = {"select": 700, "lookup": 1000, "append": 1500,
                  "maintain": 5000}
    # selectivity strata, log-uniform over [1e-4, 5e-2], visited in
    # bit-reversed order so any prefix of a run covers them evenly
    SEL_LO, SEL_HI, STRATA = 1e-4, 5e-2, 16
    STRATUM_ORDER = (0, 8, 4, 12, 2, 10, 6, 14, 1, 9, 5, 13, 3, 11, 7, 15)
    KEY_STRIDE = 7           # present keys are 3 mod 7; probes for 0 mod 7 miss

    def generate(self):
        rng = self.rng(0)
        n = self.BASE_ROWS
        self.xy = clustered_xy(rng, n)
        self.key = (rng.permutation(n).astype(np.int64) * self.KEY_STRIDE + 3)
        self.base_path = os.path.join(self.work, "store_base.parquet")
        _write(pa.table({"x": self.xy[:, 0], "y": self.xy[:, 1],
                         "key": self.key,
                         "payload": rng.integers(0, 1 << 40, n)}),
               self.base_path)
        self.store = os.path.join(self.work, "store")
        self.batch_dir = os.path.join(self.work, "batches")
        os.makedirs(self.batch_dir, exist_ok=True)

    def build(self):
        shutil.rmtree(self.store, ignore_errors=True)
        zorder_store_init(self.spark.read.parquet(self.base_path), ["x", "y"],
                          self.store, stat_cols=["x", "y"],
                          bloom_cols=["key"], elem="int32", curve="hilbert",
                          num_files=self.NUM_FILES)
        # ground truth: every row written so far
        self.all_xy, self.all_key = self.xy, self.key
        self.base_rows, self.tail_rows = self.BASE_ROWS, 0
        self.batches = self.selects = self.lookups = 0
        self.layout_pos = 0
        self.maintain_pending = False
        self.maintains = 0
        self.written: list[tuple] = []   # (files, bytes, rows) per rewrite

    # -- op builders ---------------------------------------------------
    def _select(self) -> Op:
        j = self.selects
        self.selects += 1
        rng = self.rng(2, j)
        stratum = self.STRATUM_ORDER[j % self.STRATA]
        u = (stratum + rng.random()) / self.STRATA
        frac = self.SEL_LO * (self.SEL_HI / self.SEL_LO) ** u
        xy = self.all_xy
        a = xy[rng.integers(len(xy))].astype(np.int64)
        cheb = np.abs(xy.astype(np.int64) - a).max(axis=1)
        k = max(1, int(round(frac * len(xy))))
        r = int(np.partition(cheb, k - 1)[k - 1])
        box = {"x": (int(a[0] - r), int(a[0] + r)),
               "y": (int(a[1] - r), int(a[1] + r))}
        want = int(np.count_nonzero(cheb <= r))

        def run():
            df, st = zorder_store_select(self.spark, self.store, box)
            return df.count(), st

        return Op("select", len(xy), run,
                  lambda res: self._check_read(res, want, box))

    def _lookup(self) -> Op:
        j = self.lookups
        self.lookups += 1
        rng = self.rng(3, j)
        if j % 2 == 0:
            v = int(self.all_key[rng.integers(len(self.all_key))])
        else:
            v = int(rng.integers(0, len(self.all_key))) * self.KEY_STRIDE
        want = int(np.count_nonzero(self.all_key == v))

        def run():
            df, st = zorder_store_lookup(self.spark, self.store, "key", v)
            return df.count(), st

        return Op("lookup", len(self.all_key), run,
                  lambda res: self._check_read(res, want, {"key": v}))

    @staticmethod
    def _check_read(res, want: int, what) -> None:
        got, _stats = res
        if got != want:
            raise CheckFailed(f"{what}: {got} rows, ground truth {want}")

    def _append(self) -> Op:
        b = self.batches
        self.batches += 1
        rng = self.rng(4, b)
        n = self.BATCH_ROWS
        xy = np.clip(self.all_xy[rng.integers(len(self.all_xy), size=n)]
                     + rng.normal(0, 1 << 12, (n, 2)), 0,
                     (1 << COORD_BITS) - 1).astype(np.int32)
        # fresh keys, above every key written so far, still 3 mod 7
        start = self.BASE_ROWS + b * n
        key = (np.arange(start, start + n, dtype=np.int64) * self.KEY_STRIDE
               + 3)
        path = os.path.join(self.batch_dir, f"batch-{b}.parquet")
        _write(pa.table({"x": xy[:, 0], "y": xy[:, 1], "key": key,
                         "payload": rng.integers(0, 1 << 40, n)}), path)

        def run():
            zorder_store_append(self.spark.read.parquet(path), self.store)

        def check(_):
            self.all_xy = np.concatenate([self.all_xy, xy])
            self.all_key = np.concatenate([self.all_key, key])
            self.tail_rows += n
            if self.tail_rows >= self.TAIL_RATIO * self.base_rows:
                self.maintain_pending = True

        return Op("append", n, run, check)

    def _maintain(self, tail_ratio: float) -> Op:
        self.maintain_pending = False

        def run():
            return zorder_store_maintain(
                self.spark, self.store, ["x", "y"], tail_ratio=tail_ratio,
                elem="int32", curve="hilbert", num_files=self.NUM_FILES)

        def check(res):
            if res["rewritten"]:
                self.maintains += 1
                self.base_rows += self.tail_rows
                self.tail_rows = 0
                base = max((d for d in os.listdir(self.store)
                            if d.startswith("base-v")),
                           key=lambda d: int(d[len("base-v"):]))
                files = _parquet_files(os.path.join(self.store, base))
                self.written.append(
                    (len(files), sum(os.path.getsize(f) for f in files),
                     self.base_rows))

        return Op("maintain", len(self.all_key), run, check)

    # -- schedule --------------------------------------------------------
    def warmup_ops(self):
        """Each kind at a fixed count. Reads stay slower for their first
        few calls in a fresh session (driver-side JIT), so they get more."""
        return ([self._select] * 6 + [self._lookup] * 2
                + [self._append, lambda: self._maintain(self.TAIL_RATIO)])

    def begin_timed(self):
        self.maintains, self.written = 0, []

    def op(self, i):
        if self.maintain_pending:
            return self._maintain(self.TAIL_RATIO)
        c = self.LAYOUT[self.layout_pos % len(self.LAYOUT)]
        self.layout_pos += 1
        return {"S": self._select, "L": self._lookup,
                "A": self._append}[c]()

    def kernel_arrays(self):
        return self.xy, self.xy.astype(np.float64)

    def layer_metrics(self):
        tail = fs.list_files(self.spark, fs.join(self.store, "tail"))
        out = {"write.maintain_count": self.maintains,
               "write.tail_files_end": len(tail)}
        if self.written:
            files, nbytes, rows = self.written[-1]
            out.update({"write.files_written": files,
                        "write.bytes_written": nbytes,
                        "write.bytes_per_row": nbytes / rows})
        return out


WORKLOADS = {w.name: w for w in (EncodeScan, StoreMix)}
