"""Traced-run instruments: call shims around library modules and a reader
for Spark's status store.

Calls are timed from the benchmark's side only: a shim replaces a module
attribute for the duration of one traced op, so calls the library makes
through that module (``from lindel_spark import fs as _fs`` then
``_fs.list_files``; ``from lindel_spark.profile import bloom_survivors``
inside a function body) are timed. Nothing in the library changes.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# Module functions timed in traced ops, by layer. Nested calls inside a
# module (fs.committed_versions -> fs.list_names) count once, as the outer
# call.
SHIMS = {
    "fs": ("lindel_spark.fs",
           ("exists", "is_dir", "read_text", "commit_new",
            "committed_versions", "list_names", "list_files", "du_suffix",
            "delete")),
    "profile": ("lindel_spark.profile",
                ("minmax_survivor_stats", "bloom_survivors")),
    "write": ("lindel_spark.write", ("zorder_write",)),
}


class CallTimer:
    """Counts and times outermost calls into wrapped module functions."""

    def __init__(self):
        self.calls: dict[str, int] = {}
        self.ms: dict[str, float] = {}
        self._depth = 0

    def wrap(self, name: str, fn):
        def shim(*args, **kwargs):
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1
                if self._depth == 0:
                    self.calls[name] = self.calls.get(name, 0) + 1
                    self.ms[name] = (self.ms.get(name, 0.0)
                                     + (time.perf_counter() - t0) * 1e3)
        return shim


@contextmanager
def shimmed(timers: dict):
    """Install a shim on every function of ``SHIMS``, timed by the
    ``timers[layer]`` of its layer; restore the originals on exit."""
    import importlib

    saved = []
    for layer, (module, attrs) in SHIMS.items():
        mod = importlib.import_module(module)
        for attr in attrs:
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, timers[layer].wrap(attr, orig))
    try:
        yield
    finally:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)


SPARK_FIELDS = ("jobs", "stages", "tasks", "executor_run_ms",
                "executor_cpu_ms", "max_task_ms", "busy_cores",
                "shuffle_write_bytes", "spill_bytes", "input_bytes",
                "input_records", "driver_gap_ms")


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    covered, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return covered


def job_group_stats(spark, group: str, wall_start_ms: float,
                    wall_end_ms: float) -> dict:
    """Engine counters for every job run under ``group`` (set with
    ``setJobGroup``), read from the status store, which Spark keeps even
    with the UI disabled. Skipped stages (shuffle reuse) are not counted.
    ``driver_gap_ms`` is the op wall time no job interval covers:
    planning, driver Python and metadata I/O on the driver."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm, gw = sc._jvm, sc._gateway
    no_quantiles = gw.new_array(jvm.double, 0)
    max_q = gw.new_array(jvm.double, 1)
    max_q[0] = 1.0
    out = dict.fromkeys(SPARK_FIELDS, 0.0)
    intervals = []
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out["jobs"] += 1
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append((float(job.submissionTime().get().getTime()),
                              float(job.completionTime().get().getTime())))
        stage_ids = job.stageIds().iterator()
        while stage_ids.hasNext():
            sid = stage_ids.next()
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                       False, no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
                out["input_bytes"] += sd.inputBytes()
                out["input_records"] += sd.inputRecords()
                summary = store.taskSummary(sid, sd.attemptId(), max_q)
                if summary.isDefined():
                    out["max_task_ms"] = max(
                        out["max_task_ms"],
                        summary.get().executorRunTime().apply(0))
    wall = wall_end_ms - wall_start_ms
    out["busy_cores"] = out["executor_run_ms"] / wall if wall > 0 else 0.0
    out["driver_gap_ms"] = wall - _union_ms(intervals, wall_start_ms,
                                            wall_end_ms)
    return out
