"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_burst --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The process re-executes itself once
with a fixed environment: PYTHONHASHSEED=0, SPARK_GRAFT_CPUS=min(4,
nproc), a fixed 1 GB Spark driver heap, and every scratch and temp path
inside a fresh run directory under ``.perfbench_runs/``. It runs one
workload, checks its outputs, stops every process it started and prints
a stamp line and, last, one JSON result line. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (spans are written
to ``.perfbench_runs/trace-<workload>-<seed>.jsonl``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CPUS = min(4, os.cpu_count() or 1)
WATCHDOG_S = 175.0
HEAP = "1g"


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _reexec(run_dir: str) -> None:
    """Re-run this script with the fixed environment (hash seed and
    Spark settings must be in place before the interpreter starts)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "PERFBENCH_T0": repr(T0),
        "PERFBENCH_RUN_DIR": run_dir,
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": HEAP,
        # a fixed heap size: peak RSS otherwise follows G1's heap
        # growth, which differs from run to run
        "PYSPARK_SUBMIT_ARGS": ("--conf spark.driver.defaultJavaOptions="
                                f"-Xms{HEAP} pyspark-shell"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # JVM scratch (and its perf-data file) stays inside the run dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    os.execve(sys.executable, [sys.executable, os.path.abspath(__file__)]
              + sys.argv[1:], env)


def _metrics(res, ctx, stats, peak_mb: float) -> dict:
    n = len(res.latencies)
    if ctx.trace:
        names = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]
        run_values = {
            "trace.setup_s": res.setup_s,
            # ~200 bytes per span tuple held in memory
            "trace.overhead_peak_rss_mb": len(ctx.tracer.spans) * 200 / 2**20,
        }
        out = {}
        for m in names:
            value = res.layers.get(m["name"], run_values.get(m["name"], 0.0))
            out[m["name"]] = {"value": value, "unit": m["unit"]}
        return out
    return {
        "setup_s": {"value": res.setup_s, "unit": "s"},
        "latency_ms": {"value": statistics.median(res.latencies) * 1e3, "unit": "ms"},
        "latency_tail_ms": {"value": stats.percentile(res.latencies, stats.TAIL_P) * 1e3,
                            "unit": "ms"},
        "ops_per_s": {"value": n / res.timed_wall, "unit": "1/s"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
    }


def _run(args, run_dir: str, t0: float) -> int:
    import harness
    import stats
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    os.chdir(run_dir)  # spark-warehouse/, checkpoints, derby: all in here
    load_before, cpu_before = harness.loadavg(), harness.cpu_times()
    sampler = harness.RssSampler().start()
    ctx = workloads.Ctx(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), t0=t0, run_dir=run_dir,
        anchor_ms=int(time.time() * 1000), sampler=sampler,
        tracer=Tracer() if args.trace else None)
    res = workloads.Result()
    try:
        workloads.WORKLOADS[args.workload](ctx, res)
        peak_mb = sampler.stop()
    finally:
        t_stop = time.monotonic()
        if ctx.spark is not None:
            harness.stop_spark(ctx.spark)
        harness.reap_descendants()
        workloads.log(f"workload done at {t_stop - t0:.2f}s, "
                      f"shutdown {time.monotonic() - t_stop:.2f}s")
    if ctx.tracer is not None:
        ctx.tracer.dump(os.path.join(
            ROOT, ".perfbench_runs", f"trace-{args.workload}-{args.seed}.jsonl"))
    if not res.latencies:
        print("perfbench: no timed op completed", file=sys.stderr)
        return 1

    import pyspark
    failed = sum(1 for ok in res.ok if not ok)
    for e in res.errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "nproc": os.cpu_count(), "pyspark": pyspark.__version__,
        "warmup_ops": res.warmup_ops, "timed_ops": len(res.latencies),
        "timed_seconds": res.timed_wall,
        "tail_percentile": stats.TAIL_P,
        "failed_share": failed / len(res.latencies),
        "loadavg_before": load_before, "loadavg_after": harness.loadavg(),
        "cpu_steal_share": harness.steal_share(cpu_before, harness.cpu_times()),
    }
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": res.correct and failed == 0,
        "attempted": len(res.latencies),
        "failed": failed,
        "metrics": _metrics(res, ctx, stats, peak_mb),
    }))
    return 0


def main() -> int:
    args = _args()
    if "PERFBENCH_RUN_DIR" not in os.environ:
        runs = os.path.join(ROOT, ".perfbench_runs")
        os.makedirs(runs, exist_ok=True)
        run_dir = os.path.join(runs, f"run-{os.getpid()}-{time.time_ns()}")
        os.makedirs(run_dir)
        _reexec(run_dir)
    run_dir = os.environ["PERFBENCH_RUN_DIR"]
    t0 = float(os.environ["PERFBENCH_T0"])
    # a TERM (e.g. a caller's time limit) unwinds through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        try:
            import market_data_ingestor_go_spark  # noqa: F401  the program under test
        except ImportError as exc:
            print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
            return 2
        sys.path.insert(0, HERE)
        import harness

        def _watchdog():
            time.sleep(max(1.0, WATCHDOG_S - (time.monotonic() - t0)))
            print("perfbench: run exceeded its time limit", file=sys.stderr, flush=True)
            harness.reap_descendants(term_grace=1)
            shutil.rmtree(run_dir, ignore_errors=True)
            os._exit(3)
        threading.Thread(target=_watchdog, daemon=True).start()
        return _run(args, run_dir, t0)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
