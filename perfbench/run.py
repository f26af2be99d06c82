"""Benchmark of the curve -> clustered write -> pruned read path.

    python3 perfbench/run.py --workload encode_scan --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One closed-loop client drives the public
API of ``lindel_spark`` on a ``local[4]`` session: each op starts when the
previous one and its output check have finished. Set-up (session start,
data generation, store build, a fixed warm-up of every op kind) is timed
as ``setup_s``; then ops run for ``--seconds``. With ``--trace 0`` the
last stdout line carries the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` every other op of each kind is traced (module shims, Spark
status store) and the line carries the per-layer metrics instead. The exit code is 0
when every op's output check passed, 1 when one failed, and 2 or 3 when
the run could not be made (no library next to this directory, a failing
warm-up); those print no result.

Everything a run writes (inputs, stores, Spark's local and temp dirs)
goes under ``.perfbench_work/<pid>/`` in the checkout and is removed at
exit. Nothing is fsynced: files sit in the page cache, as Spark's local
writers leave them.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work" / str(os.getpid())
CORES = 4
DRIVER_MEM = "2g"
GENERATE_REPEATS = 3     # data generation repeated in set-up; median reported
KERNEL_ROWS = 100_000    # direct kernel timing in traced runs
KERNEL_REPEATS = 3
RUN_LIMIT_S = 170        # whole-run watchdog
ALL_KINDS = ("encode", "select", "lookup", "append", "maintain")
STORE_KINDS = ("select", "lookup", "append", "maintain")


class RunAborted(Exception):
    """The run cannot produce a result worth recording."""


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def _worker_lindel_path(_):
    import lindel_spark

    return os.path.realpath(lindel_spark.__file__)


def _prepare_env() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True)
    old = os.environ.get("PYTHONPATH")
    # Spark's Python workers inherit this: they must import the checkout's
    # lindel_spark, and nothing else
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(min(CORES, len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_MAX_RESULT", None)
    # -XX:-UsePerfData: the JVM would otherwise keep a file in /tmp
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {java_opts} pyspark-shell")
    sys.path.insert(0, str(ROOT))


def _start_session():
    import numpy  # noqa: F401
    import pyarrow  # noqa: F401

    from lindel_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    want = os.path.realpath(ROOT / "lindel_spark" / "__init__.py")
    try:
        got = (spark.sparkContext.parallelize([0], 1)
               .map(_worker_lindel_path).collect())
    except Exception as e:
        raise RunAborted(f"Spark's Python workers cannot import "
                         f"lindel_spark: {e}") from e
    if got != [want]:
        raise RunAborted(f"workers import {got}, not {want}")
    return spark


def _stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and with it Spark's Python
    workers) to exit; kill it if its shutdown hangs."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _kernel_ns_per_row(xy, fxy) -> dict:
    """Direct calls into the NumPy kernels on the workload's own arrays,
    converted as the SQL functions convert them."""
    import numpy as np

    from lindel_spark import curve

    u32 = curve.bitcast_to_unsigned(np.ascontiguousarray(xy[:KERNEL_ROWS]), 32)
    u64 = curve.bitcast_to_unsigned(np.ascontiguousarray(fxy[:KERNEL_ROWS]), 64)
    hi, lo = curve.hilbert_encode_batch(u32, 32)
    calls = {
        "curve.hilbert_encode_ns_per_row.i32x2":
            lambda: curve.hilbert_encode_batch(u32, 32),
        "curve.hilbert_encode_ns_per_row.f64x2":
            lambda: curve.hilbert_encode_batch(u64, 64),
        "curve.morton_encode_ns_per_row.i32x2":
            lambda: curve.morton_encode_batch(u32, 32),
        "curve.hilbert_decode_ns_per_row.i32x2":
            lambda: curve.hilbert_decode_batch(hi, lo, 2, 32),
    }
    return {name: statistics.median(_timed(fn) for _ in range(KERNEL_REPEATS))
            * 1e9 / len(u32) for name, fn in calls.items()}


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _median0(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _mix_rows_per_s(mix: dict, records: list) -> float:
    """Throughput of the workload's declared op mix: logical input rows
    over op time, each kind weighted by its share of the mix and taken at
    its median. Unlike a plain total it does not depend on how many ops of
    each kind a run happens to reach (one maintain weighs far more in a
    slow run that fits ten reads than in a fast one that fits twenty)."""
    rows = secs = 0.0
    for kind, weight in mix.items():
        mine = [r for r in records if r["kind"] == kind]
        if mine:
            rows += weight * statistics.median(r["rows"] for r in mine)
            secs += weight * statistics.median(r["ms"] for r in mine) / 1e3
    return rows / secs if secs else float("nan")


def _read_files(records) -> list[tuple[int, int]]:
    """(files in the store, files scanned) per pruned read; base and tail
    both count."""
    return [(st["files_total"] + st["tail_files_total"],
             st["files_scanned"] + st["tail_files_scanned"])
            for st in (r["result"][1] for r in records
                       if r["kind"] in ("select", "lookup"))]


def _scan_fraction(files) -> float:
    total = sum(t for t, _ in files)
    return sum(s for _, s in files) / total if total else 0.0


def _layer_metrics(wl, setup: dict, records: list) -> dict:
    """Per-layer metrics from the traced ops of a run (zero where the
    workload does not reach the layer)."""
    from tracing import SPARK_FIELDS

    out = {f"setup.{k}": v for k, v in setup.items()}
    kernel = _kernel_ns_per_row(*wl.kernel_arrays())
    out.update(kernel)
    traced = [r for r in records if r["traced"] and r["ok"]]
    by_kind = {k: [r for r in traced if r["kind"] == k] for k in ALL_KINDS}

    per_query_kernel = {
        "hilbert_i32x2": kernel["curve.hilbert_encode_ns_per_row.i32x2"],
        "hilbert_f64x2": kernel["curve.hilbert_encode_ns_per_row.f64x2"],
        "morton_i32x2": kernel["curve.morton_encode_ns_per_row.i32x2"],
        "hilbert_roundtrip_i32x2":
            kernel["curve.hilbert_encode_ns_per_row.i32x2"]
            + kernel["curve.hilbert_decode_ns_per_row.i32x2"],
    }
    for q, k_ns in per_query_kernel.items():
        ms = _median0(r["result"]["query_ms"][q] for r in by_kind["encode"])
        out[f"functions.query_ms.{q}"] = ms
        out[f"functions.overhead_ns_per_row.{q}"] = (
            ms * 1e6 / wl.ROWS - k_ns if ms else 0.0)

    timed = [r for r in records if r["ok"]]
    out["write.zorder_write_ms"] = _mean(
        r["write_ms"]["zorder_write"] for r in traced
        if "zorder_write" in r["write_ms"])
    out.update({"write.files_written": 0.0, "write.bytes_written": 0.0,
                "write.bytes_per_row": 0.0, "write.maintain_count": 0.0,
                "write.tail_files_end": 0.0})
    for k in STORE_KINDS:
        out[f"write.store_{k}_ms"] = _median0(
            r["ms"] for r in timed if r["kind"] == k)
    out.update(wl.layer_metrics())

    reads = by_kind["select"] + by_kind["lookup"]
    out["profile.minmax_survivor_ms"] = _mean(
        r["profile_ms"].get("minmax_survivor_stats", 0.0) for r in reads)
    out["profile.bloom_survivor_ms"] = _mean(
        r["profile_ms"].get("bloom_survivors", 0.0) for r in reads)
    files = _read_files(timed)
    out["profile.files_total"] = _mean(t for t, _ in files)
    out["profile.files_scanned"] = _mean(s for _, s in files)
    out["profile.scan_fraction"] = _scan_fraction(files)
    read_rows = sum(r["spark"]["input_records"] for r in reads)
    out["profile.rows_useful_ratio"] = (
        sum(r["result"][0] for r in reads) / read_rows if read_rows else 0.0)

    for k in STORE_KINDS:
        out[f"fs.calls.{k}"] = _mean(r["fs_calls"] for r in by_kind[k])
        out[f"fs.ms.{k}"] = _mean(r["fs_ms"] for r in by_kind[k])
    for k in ALL_KINDS:
        for f in SPARK_FIELDS:
            if f == "input_records":
                continue
            out[f"spark.{f}.{k}"] = _mean(r["spark"][f] for r in by_kind[k])
    # tracing overhead on the most frequent kind, which has ops both ways
    kind = max(wl.mix, key=wl.mix.get)
    out["trace.overhead_ms"] = (
        _median0(r["ms"] for r in timed if r["kind"] == kind and r["traced"])
        - _median0(r["ms"] for r in timed
                   if r["kind"] == kind and not r["traced"]))
    return out


def _run_op(spark, op, traced: bool) -> dict:
    """Time one op; trace it if asked. Returns its record."""
    from tracing import SHIMS, CallTimer, job_group_stats, shimmed

    rec = {"kind": op.kind, "rows": op.rows, "traced": traced, "ok": True}
    timers = {layer: CallTimer() for layer in SHIMS}
    sc = spark.sparkContext
    group = f"perfbench-{id(rec)}"
    with contextlib.ExitStack() as stack:
        if traced:
            sc.setJobGroup(group, op.kind, False)
            stack.callback(sc.setLocalProperty, "spark.jobGroup.id", None)
            stack.enter_context(shimmed(timers))
        wall0 = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            rec["result"] = op.run()
        except Exception:
            rec["ok"] = False
            traceback.print_exc()
        rec["ms"] = (time.perf_counter() - t0) * 1e3
        wall1 = time.time() * 1e3
    if traced:
        rec["spark"] = job_group_stats(spark, group, wall0, wall1)
        rec["fs_calls"] = sum(timers["fs"].calls.values())
        rec["fs_ms"] = sum(timers["fs"].ms.values())
        rec["profile_ms"] = dict(timers["profile"].ms)
        rec["write_ms"] = dict(timers["write"].ms)
    if rec["ok"]:
        from workloads import CheckFailed

        try:
            op.check(rec.get("result"))
        except CheckFailed as e:
            rec["ok"] = False
            print(f"perfbench: check failed on {op.kind} op: {e}",
                  file=sys.stderr)
    return rec


def run(args) -> dict:
    import stats
    from workloads import WORKLOADS

    spark = _start_session()
    try:
        setup = {"session_start_s": time.perf_counter() - T0}
        wl = WORKLOADS[args.workload](spark, str(WORK), args.seed)
        setup["datagen_s"] = statistics.median(
            _timed(wl.generate) for _ in range(GENERATE_REPEATS))
        setup["store_build_s"] = _timed(wl.build)
        t0 = time.perf_counter()
        for make in wl.warmup_ops():
            op = make()
            if not _run_op(spark, op, False)["ok"]:
                raise RunAborted(f"warm-up {op.kind} op failed")
        setup["warmup_s"] = time.perf_counter() - t0
        setup_s = sum(setup.values())

        wl.begin_timed()
        records = []
        seen = dict.fromkeys(ALL_KINDS, 0)
        end = time.perf_counter() + args.seconds
        while not records or time.perf_counter() < end:
            op = wl.op(len(records))
            # every other op of each kind is traced, its first one included
            records.append(_run_op(spark, op, args.trace
                                   and seen[op.kind] % 2 == 0))
            seen[op.kind] += 1

        ok = [r for r in records if r["ok"]]
        failed = len(records) - len(ok)
        samples = [(r["kind"], r["ms"]) for r in ok]
        e2e = {"setup_s": setup_s,
               "op_p50_ms": (stats.weighted_quantile(samples, wl.mix, 0.5)[1]
                             if ok else float("nan")),
               "rows_per_s": _mix_rows_per_s(wl.mix, ok)}
        report = {"attempted": len(records), "failed": failed, "e2e": e2e,
                  "setup": setup,
                  "latencies": {k: [r["ms"] for r in ok if r["kind"] == k]
                                for k in wl.mix}}
        tail = stats.tail_percentile(len(ok))
        if tail is not None:
            report["tail"] = (tail, stats.weighted_quantile(
                samples, wl.mix, tail / 100)[1])
        files = _read_files(ok)
        if files:
            report["scan_fraction"] = _scan_fraction(files)
        if ok:
            report["median_kind"] = (
                stats.weighted_quantile(samples, wl.mix, 0.5)[0],
                stats.central_share(samples, wl.mix))
        if args.trace:
            report["layers"] = _layer_metrics(wl, setup, records)
        return report
    finally:
        _stop_session(spark)


def _emit(spec: dict, report: dict, trace: bool) -> None:
    """Human-readable lines, then the one-line JSON result."""
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    n, f = report["attempted"], report["failed"]
    print(f"ops attempted {n}, failed {f}, error_rate {f / n:.4f} ratio")
    for kind, ms in report["latencies"].items():
        print(f"  {kind} x{len(ms)} ms: " + " ".join(f"{v:.0f}" for v in ms))
    for name, v in report["e2e"].items():
        print(f"{name} {v:.6g} {units[name]}")
    if "tail" in report:
        pct, v = report["tail"]
        print(f"op_p{pct}_ms {v:.6g} ms (highest percentile with >= 10 "
              f"of {n} samples beyond; same mix weighting as op_p50_ms)")
    if "scan_fraction" in report:
        print(f"scan_fraction {report['scan_fraction']:.6g} ratio (data files "
              f"scanned / data files in the store, over the run's reads)")
    if "median_kind" in report:
        kind, share = report["median_kind"]
        print(f"median op is a {kind} op; {share:.0%} of the mix between the "
              f"40th and 60th percentile is {kind} ops")
    print("setup phases: " + ", ".join(f"{k} {v:.3f} s"
                                       for k, v in report["setup"].items()))
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    values = report["layers"] if trace else report["e2e"]
    if sorted(values) != sorted(names):
        raise RunAborted(f"metrics {sorted(set(values) ^ set(names))} do not "
                         f"match BENCHMARK.json")
    print(json.dumps({
        "correct": f == 0, "attempted": n, "failed": f,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in names}}))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not (ROOT / "lindel_spark" / "__init__.py").is_file():
        print(f"perfbench: no lindel_spark package in {ROOT}; run from the "
              f"root of a full checkout", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    _prepare_env()
    sys.path.insert(0, str(HERE))
    try:
        report = run(args)
        _emit(spec, report, bool(args.trace))
    except (RunAborted, TimeoutError) as e:
        traceback.print_exc()
        print(f"perfbench: run aborted, nothing recorded: {e}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        shutil.rmtree(WORK, ignore_errors=True)
        with contextlib.suppress(OSError):
            WORK.parent.rmdir()     # only when no other run is using it
    return 0 if report["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
