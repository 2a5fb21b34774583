"""pvt-spark benchmark: one command per workload.

    python3 perfbench/run.py --workload build --seed 1 --seconds 2 --trace 0

Run from the repository root. It builds nothing: the engine is imported
from ``pvt_spark/`` in the working directory. Every file the run writes
(inputs, planets, Spark's temporary files, event logs, result records) stays under
``.perfbench/`` there.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
Spark's event log is switched on through the launch configuration and the
metrics are the per-layer metrics. The line before it is the run's stamp
(box, versions, commit, seed, calibration).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
LOCAL_CORES = 4  # Spark local[N]: N = min(LOCAL_CORES, nproc), recorded in the stamp


def _git_commit(root: str) -> str:
    """HEAD commit read from .git without running git; "unknown" outside
    a git checkout."""
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(root, ".git", ref)
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def _calibrate() -> float:
    """Fixed single-core Hilbert-encode calibration: best of 3 encodes
    of the same 100k points, in seconds. Compares boxes, not commits."""
    import numpy as np

    from pvt_spark import hilbert as hb

    rng = np.random.default_rng(0)
    lon = rng.integers(-1_800_000_000, 1_800_000_000, 100_000)
    lat = rng.integers(-850_000_000, 850_000_000, 100_000)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        hb.lonlat_to_h(lon, lat)
        best = min(best, time.perf_counter() - t0)
    return best


# stamp fields two runs must share for one to be the other's baseline
BASELINE_KEYS = ("commit", "nproc", "local_cores", "spark", "pyarrow", "numpy", "python")


def _same_build_and_box(a: dict, b: dict) -> bool:
    """Runs of the same commit and versions on the same box: equal
    BASELINE_KEYS and Hilbert calibrations within a factor 1.5."""
    if any(a.get(k) != b.get(k) for k in BASELINE_KEYS):
        return False
    ca, cb = a.get("calib_hilbert_s"), b.get("calib_hilbert_s")
    return bool(ca and cb) and max(ca, cb) / min(ca, cb) <= 1.5


def _launch_env(work: str, trace: bool, cores: int) -> None:
    """Keep Spark's and the JVM's temporary files in the work dir and turn the
    event log on from outside the program when tracing."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # fixed JIT compiler threads, so their CPU can be told apart (stats.tree_cpu)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("PVT_DRIVER_MEM", "3g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.getcwd(), os.environ.get("PYTHONPATH")) if p
    )
    args = [f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every child
    process of this one to end."""
    from pyspark import SparkContext

    from stats import _children_map

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while _children_map().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in _children_map().get(os.getpid(), []):
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (OSError, ChildProcessError):
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "pvt_spark")) or not os.path.exists(spec_path):
        print("run from the repository root: pvt_spark/ and BENCHMARK.json are needed", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, root)

    import stats
    import workloads

    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in workloads.WORKLOADS or args.workload not in {
        w["name"] for w in spec["workloads"]
    }:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2

    cores = min(LOCAL_CORES, os.cpu_count() or 1)
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _launch_env(work, bool(args.trace), cores)
    calib = _calibrate()

    import numpy as np
    import pyarrow
    import pyspark

    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "local_cores": cores,
        "shuffle_partitions": 2 * cores,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": np.__version__,
        "python": platform.python_version(),
        "commit": _git_commit(root),
        "calib_hilbert_s": calib,
    }

    try:
        return _run(args, spec, stamp, work, base, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec: dict, stamp: dict, work: str, base: str, cores: int) -> int:
    import layers
    import stats
    import workloads

    from pvt_spark.session import get_spark

    steal0 = stats.steal_seconds()
    # the sampler's own /proc scans would land in the CPU figures, and
    # peak memory is a per-layer metric: sample it in traced runs only
    with stats.RssSampler(enabled=bool(args.trace)) as rss, stats.SpeedProbe() as probe:
        spark = get_spark(
            master=f"local[{cores}]", app_name=f"perfbench-{args.workload}",
            shuffle_partitions=2 * cores,
        )
        spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Ctx(
            spark=spark, work=work, seed=args.seed, seconds=args.seconds,
            workload=args.workload, trace=bool(args.trace), probe=probe,
        )
        ctx.spans.settle = spark._jvm.System.gc
        try:
            figures = workloads.WORKLOADS[args.workload](ctx)
        finally:
            _stop_spark(spark)
    ctx.notes["peak_rss_mb"] = rss.peak / (1024 * 1024)
    ctx.notes["steal_s"] = stats.steal_seconds() - steal0

    results_dir = os.path.join(base, "results")
    os.makedirs(results_dir, exist_ok=True)
    untraced_path = os.path.join(results_dir, f"{args.workload}-untraced.jsonl")
    if args.trace:
        from eventlog import find_log, fold

        untraced = []
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                untraced = [
                    r["figures"] for r in map(json.loads, filter(str.strip, f))
                    if _same_build_and_box(r.get("stamp", {}), stamp)
                ]
        folded = fold(find_log(os.path.join(work, "eventlog")), ctx.spans.items)
        metrics = layers.per_layer(folded, ctx.spans.items, ctx.notes, ctx.lookups, figures, untraced)
        frac = metrics["trace.attributed_frac"][0]
        op = ctx.ledger.op("trace_attribution")
        ctx.ledger.check(op, abs(1 - frac) <= 0.05, f"spans hold {frac:.3f} of the log's task time")
        spec_metrics = spec["per_layer"]
    else:
        # walls repeat far less than CPU seconds on a shared VM (see
        # README): they go to the record and, traced, to the per-layer
        # trace.* metrics, not to the bounded end-to-end set
        spec_metrics = spec["end_to_end"]
        metrics = {m["name"]: figures[m["name"]] for m in spec_metrics}
        with open(untraced_path, "a") as f:
            f.write(json.dumps({
                "stamp": {k: stamp[k] for k in BASELINE_KEYS + ("calib_hilbert_s", "seed")},
                "figures": {k: v for k, (v, _u) in figures.items()},
            }) + "\n")

    out_metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}
    problems = stats.validate_metrics(out_metrics, spec_metrics)
    if problems:
        print("metrics do not match BENCHMARK.json: " + "; ".join(problems), file=sys.stderr)
        return 1

    record = {
        "stamp": stamp,
        "figures": {k: v for k, (v, _u) in figures.items()},
        "metrics": out_metrics,
        "failures": list(ctx.ledger.failures.values()),
        "notes": ctx.notes,
        "spans": ctx.spans.items,
        "lookups": ctx.lookups,
    }
    with open(os.path.join(results_dir, f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for failure in list(ctx.ledger.failures.values())[:20]:
        print(f"FAILED {failure}", file=sys.stderr)
    print(json.dumps({"stamp": stamp}))
    print(
        json.dumps(
            {
                "correct": ctx.ledger.failed == 0,
                "attempted": ctx.ledger.attempted,
                "failed": ctx.ledger.failed,
                "metrics": out_metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
