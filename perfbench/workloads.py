"""The benchmark workloads: closed loops of ops against the package's
public entry points, one generator (this process), one outstanding op.

Each workload returns a Result: per-op latencies and verdicts for the
timed ops, setup time, and (in a traced run) per-layer figures.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

import batch_gate
import checks
import gen
import stats
from batch_gate import parquet_table
from clients import Clients
from harness import OpRunner, OpTimeout, RssSampler
from tracing import Tracer

INGEST_WARMUP = 4
SERVE_WARMUP = 4
OP_TIMEOUT_S = 60.0
# A traced run stops after this many timed ops (half of them traced):
# its per-layer phases must fit the same per-run time limit.
TRACED_TIMED_OPS = 10
SAMPLE_EVERY = 5  # serve: check the frames of every 5th tick in full
LOCAL1_WARMUP = 1
LOCAL1_TIMED = 4


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    t0: float          # process start, time.monotonic()
    run_dir: str
    anchor_ms: int
    sampler: RssSampler
    tracer: Tracer | None = None
    spark: object = None   # the live session, for shutdown


@dataclass
class Result:
    setup_s: float = 0.0
    warmup_ops: int = 0
    latencies: list = field(default_factory=list)  # timed ops, seconds
    ok: list = field(default_factory=list)          # timed ops, verdicts
    timed_wall: float = 0.0
    correct: bool = True
    errors: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)      # per-layer metrics
    traced: list = field(default_factory=list)      # timed op traced?

    def fail(self, msg: str) -> None:
        self.correct = False
        if len(self.errors) < 20:
            self.errors.append(msg)


def is_traced(i: int, warmup: int) -> bool:
    """Traced runs trace every other timed op; the rest are the
    untraced comparison for the overhead figures."""
    return i >= warmup and (i - warmup) % 2 == 0


def drive(ctx: Ctx, res: Result, runner: OpRunner, op, warmup: int,
          tracer: Tracer | None) -> None:
    """Warm up by op count (discarded), then run timed ops for
    ctx.seconds and at least stats.MIN_TIMED_OPS of them (a traced run:
    TRACED_TIMED_OPS, however long they take).

    ``op.prepare(i)`` runs outside the timing, ``op.run`` is the timed
    op on the runner thread (its return value may carry an exact end
    time as ``value["end"]``), ``op.finish(i, value)`` runs outside the
    timing and returns the op's inline verdict."""
    need = TRACED_TIMED_OPS if tracer else stats.MIN_TIMED_OPS
    min_s = 0 if tracer else ctx.seconds
    cap = 2 * ctx.seconds + 10  # a slow host ends the run short, not late
    i = 0
    timed_start = None
    warm: list[float] = []
    while True:
        timed = i >= warmup
        if timed:
            if timed_start is None:
                timed_start = time.perf_counter()
            elapsed = time.perf_counter() - timed_start
            n = len(res.latencies)
            if (elapsed >= min_s and n >= need) or elapsed >= cap:
                break
        op.prepare(i)
        traced = bool(tracer) and is_traced(i, warmup)
        if tracer:
            tracer.op = i
            tracer.enabled = traced
        try:
            seconds, start, value = runner.call(op.run, OP_TIMEOUT_S)
            if isinstance(value, dict) and "end" in value:
                seconds = value["end"] - start
            if tracer:
                tracer.enabled = False
            ok = op.finish(i, value)
        except OpTimeout as exc:  # failed ops count as missing the limit
            seconds, ok = OP_TIMEOUT_S, False
            res.fail(f"op {i}: {exc}")
        except Exception as exc:  # a raising op is a failed op
            seconds, ok = OP_TIMEOUT_S, False
            res.fail(f"op {i}: {type(exc).__name__}: {exc}")
        finally:
            if tracer:
                tracer.enabled = False
        if timed:
            res.latencies.append(seconds)
            res.ok.append(ok)
            res.traced.append(traced)
        else:
            warm.append(seconds)
            if not ok:
                res.fail(f"warm-up op {i} failed")
        i += 1
        if runner.stuck:
            res.fail("op runner stuck; timed phase ended early")
            break
    if len(res.latencies) < need:
        res.fail(f"incomplete run: {len(res.latencies)} timed ops, fewer than {need}")
    res.warmup_ops = warmup
    log(f"warm-up {[round(x, 3) for x in warm]} timed "
        f"{[round(x, 3) for x in res.latencies]}")
    res.timed_wall = time.perf_counter() - (timed_start or time.perf_counter())


class JobCounter:
    """Spark jobs started since the last call, over the given job
    groups (None = jobs outside any group), from the status tracker."""

    def __init__(self, spark, groups):
        self.tracker = spark.sparkContext.statusTracker()
        self.groups = list(groups)
        self.seen = self._ids()

    def _ids(self) -> set:
        out = set()
        for g in self.groups:
            out.update(self.tracker.getJobIdsForGroup(g))
        return out

    def take(self) -> int:
        now = self._ids()
        new = now - self.seen
        self.seen |= now
        return len(new)


def _layer_median(per_op: list[dict], key: str) -> float:
    vals = [d[key] for d in per_op if key in d]
    return statistics.median(vals) if vals else 0.0


def _trace_overhead(res: Result) -> dict:
    """Traced minus untraced, over the interleaved timed ops."""
    t = [s for s, tr in zip(res.latencies, res.traced) if tr]
    u = [s for s, tr in zip(res.latencies, res.traced) if not tr]
    if not t or not u:
        return {}
    return {
        "trace.overhead_latency_ms": (statistics.median(t) - statistics.median(u)) * 1e3,
        "trace.overhead_latency_tail_ms":
            (stats.percentile(t, stats.TAIL_P) - stats.percentile(u, stats.TAIL_P)) * 1e3,
        "trace.overhead_ops_per_s": len(t) / sum(t) - len(u) / sum(u),
    }


def _symbols_schema():
    import pyarrow as pa
    return [("name", pa.string()), ("exchange", pa.string())]


# -- ingest_burst -------------------------------------------------------

class _IngestOps:
    def __init__(self, ctx, q, src, staging, uni, warmup, tracer, jobs):
        self.ctx, self.q = ctx, q
        self.src, self.staging = src, staging
        self.uni = uni
        self.exchange_of = uni.exchange_of
        self.model = checks.LatestModel(self.exchange_of)
        self.expected: list = []
        self.warmup, self.tracer, self.jobs = warmup, tracer, jobs
        self.per_op: list[dict] = []
        self.last_batch = -1
        self.pending = None

    def prepare(self, i: int) -> None:
        burst = gen.make_burst(self.ctx.seed, i, self.ctx.anchor_ms, self.uni)
        self.model.add(burst.valid)
        self.expected.append(checks.expected_summary(burst.valid,
                                                     self.exchange_of))
        tmp = os.path.join(self.staging, f"burst-{i:05d}.json")
        with open(tmp, "wb") as fh:
            fh.write(burst.data)
        self.pending = (tmp, os.path.join(self.src, f"burst-{i:05d}.json"))

    def run(self):
        os.rename(*self.pending)  # atomic landing
        self.q.processAllAvailable()

    def finish(self, i: int, _value) -> bool:
        if self.tracer:
            self._record_layers(i)
        return True  # history/latest verdicts come from the post-run check

    def _record_layers(self, i: int) -> None:
        progress = batch_gate.data_progress(self.q, self.last_batch)
        if progress:
            self.last_batch = max(p.batchId for p in progress)
        jobs = self.jobs.take()
        if not is_traced(i, self.warmup):
            return
        dur: dict[str, float] = {}
        for p in progress:
            for k, v in p.durationMs.items():
                dur[k] = dur.get(k, 0.0) + float(v)
        spans = self.tracer.per_op(i)

        def total(name):
            return spans.get(name, {}).get("total", 0.0)
        sinks = sum(total(n) for n in ("sink.history_write", "sink.latest_read",
                                       "sink.latest_write", "sink.latest_swap"))
        self.per_op.append({
            "stream.trigger_ms": dur.get("triggerExecution", 0.0),
            "stream.add_batch_ms": dur.get("addBatch", 0.0),
            "stream.source_ms": dur.get("latestOffset", 0.0) + dur.get("getBatch", 0.0),
            "stream.checkpoint_ms": dur.get("walCommit", 0.0) + dur.get("commitOffsets", 0.0),
            "stream.planning_ms": dur.get("queryPlanning", 0.0),
            "sink.history_write_ms": total("sink.history_write"),
            "sink.latest_read_ms": total("sink.latest_read"),
            "sink.latest_write_ms": total("sink.latest_write"),
            "sink.latest_swap_ms": total("sink.latest_swap"),
            "ingest.add_batch_other_ms": dur.get("addBatch", 0.0) - sinks,
            "ingest.jobs_per_op": float(jobs),
        })


def _install_ingest_tracing(tracer: Tracer) -> None:
    from pyspark.sql.readwriter import DataFrameWriter
    from market_data_ingestor_go_spark.sources import fs
    from market_data_ingestor_go_spark.streaming.pipeline import IngestPipeline

    def writer_label(args, kwargs):
        path = str(kwargs.get("path", args[1] if len(args) > 1 else ""))
        if f"{os.sep}history{os.sep}epoch=" in path:
            return "sink.history_write"
        if path.endswith("latest.staging"):
            return "sink.latest_write"
        return None

    tracer.patch(IngestPipeline, "_write_batch", "sink.foreach_batch")
    tracer.patch(fs, "read_with_backup", "sink.latest_read")
    tracer.patch(fs, "atomic_swap", "sink.latest_swap")
    tracer.patch(DataFrameWriter, "parquet", writer_label)


def _start_ingest(spark, base: str, dim):
    from market_data_ingestor_go_spark.streaming.pipeline import IngestPipeline

    src = os.path.join(base, "src")
    os.makedirs(src)
    raw = spark.readStream.schema("value STRING").text(src)
    pipe = IngestPipeline(spark, os.path.join(base, "out"), dim,
                          trigger_seconds=0)
    return pipe, pipe.start(raw), src


def _check_ingest(spark, pipe, ops: _IngestOps, res: Result, warmup: int) -> int:
    """History per epoch and the latest table; returns the rows that
    landed in history. Failed per-op history verdicts fail their op."""
    from pyspark.sql import functions as F

    hist = spark.read.parquet(pipe.history_path)
    rows = (hist.groupBy("epoch")
            .agg(F.count(F.lit(1)).alias("rows"),
                 F.sum("timestamp").alias("ts_sum"),
                 F.sum(F.when(F.col("exchange") == "unknown", 1).otherwise(0)).alias("unknown"),
                 F.countDistinct("name").alias("names"))
            .orderBy("epoch").collect())
    observed = [checks.BurstSummary(r["rows"], r["ts_sum"], r["unknown"], r["names"])
                for r in rows]
    verdicts = checks.check_history(ops.expected, observed)
    for i, good in enumerate(verdicts):
        if not good:
            res.fail(f"history: burst {i} landed wrong "
                     f"(want {ops.expected[i]}, got "
                     f"{observed[i] if i < len(observed) else None})")
        if i >= warmup and i - warmup < len(res.ok):
            res.ok[i - warmup] = res.ok[i - warmup] and good
    latest = pipe.latest_snapshot().select(
        "name", "timestamp", "exchange", "data").collect()
    errors = checks.check_latest(ops.model, latest, int(time.time() * 1000))
    for e in errors:
        res.fail(e)
    if errors:  # the latest state is the product of every op: all fail
        res.ok = [False] * len(res.ok)
    landed = sum(o.rows for o in observed)
    return landed


def ingest_burst(ctx: Ctx, res: Result) -> None:
    from market_data_ingestor_go_spark.session import get_spark

    tracer = ctx.tracer
    spark = ctx.spark = get_spark()
    t_session = time.monotonic()
    uni = gen.universe(ctx.seed)
    dim = parquet_table(spark, os.path.join(ctx.run_dir, "symbols"), uni.known,
                         _symbols_schema())
    staging = os.path.join(ctx.run_dir, "staging")
    os.makedirs(staging)
    if tracer:
        t = time.perf_counter()
        _install_ingest_tracing(tracer)
        res.layers["trace.overhead_setup_s"] = time.perf_counter() - t
    t_inputs = time.monotonic()
    pipe, q, src = _start_ingest(spark, os.path.join(ctx.run_dir, "ingest"), dim)
    res.setup_s = time.monotonic() - ctx.t0
    log(f"session {t_session - ctx.t0:.2f}s, inputs {t_inputs - ctx.t0:.2f}s, "
        f"ready {res.setup_s:.2f}s")

    jobs = JobCounter(spark, [str(q.runId), None]) if tracer else None
    ops = _IngestOps(ctx, q, src, staging, uni, INGEST_WARMUP, tracer, jobs)
    runner = OpRunner()
    try:
        drive(ctx, res, runner, ops, INGEST_WARMUP, tracer)
    finally:
        runner.close()
    t = time.monotonic()
    landed = _check_ingest(spark, pipe, ops, res, INGEST_WARMUP)
    q.stop()
    log(f"checks + stop {time.monotonic() - t:.2f}s")
    if not tracer:
        return
    tracer.unpatch_all()
    sent = sum(e.rows for e in ops.expected)
    res.layers["ingest.rows_landed_ratio"] = landed / sent if sent else 0.0
    for key in ops.per_op[0] if ops.per_op else ():
        res.layers[key] = _layer_median(ops.per_op, key)
    res.layers.update(_trace_overhead(res))
    res.layers["trace.peak_rss_mb"] = ctx.sampler.peak / 2**20  # before the phases below
    batch_gate.gate_phase(ctx, res, tracer, OP_TIMEOUT_S)
    local1 = _local1_baseline(ctx, uni, len(ops.expected))
    res.layers["baseline.local1_latency_ms"] = local1 * 1e3
    res.layers["baseline.local1_slowdown"] = local1 / statistics.median(res.latencies)


def _local1_baseline(ctx, uni, next_index) -> float:
    """The stream sheet's single-threaded baseline: median latency of
    the same ingest op on local[1], in the same JVM after a session
    restart (so the JIT is as warm as in the main run)."""
    from market_data_ingestor_go_spark.session import get_spark

    ctx.spark.stop()
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    try:
        spark = ctx.spark = get_spark()
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = cpus
    base = os.path.join(ctx.run_dir, "local1")
    dim = parquet_table(spark, os.path.join(base, "symbols"), uni.known,
                         _symbols_schema())
    pipe, q, src = _start_ingest(spark, os.path.join(base, "ingest"), dim)
    staging = os.path.join(base, "staging")
    os.makedirs(staging)
    ops = _IngestOps(ctx, q, src, staging, uni, LOCAL1_WARMUP, None, None)
    times = []
    runner = OpRunner()
    try:
        for k in range(LOCAL1_WARMUP + LOCAL1_TIMED):
            ops.prepare(next_index + k)
            seconds, _, _ = runner.call(ops.run, OP_TIMEOUT_S)
            if k >= LOCAL1_WARMUP:
                times.append(seconds)
    finally:
        runner.close()
        q.stop()
    return statistics.median(times)


# -- serve_tick ---------------------------------------------------------

class _ServeOps:
    def __init__(self, pipe, pub, clients, n_clients, n_rows, warmup, tracer, jobs):
        self.pipe, self.pub, self.clients = pipe, pub, clients
        self.n_clients, self.n_rows, self.warmup = n_clients, n_rows, warmup
        self.tracer, self.jobs = tracer, jobs
        self.sample = False
        self.samples: list = []   # (op index, [frames per client])
        self.per_op: list[dict] = []
        self.delivered = 0
        self.expected_frames = 0

    def prepare(self, i: int) -> None:
        timed = i - self.warmup
        self.sample = timed >= 0 and timed % SAMPLE_EVERY == 0
        if timed >= 0:
            self.expected_frames += self.n_rows * self.n_clients
        if self.jobs:
            self.jobs.take()

    def run(self):
        self.clients.request(self.n_rows, self.sample, OP_TIMEOUT_S - 5)
        sent = self.pub.tick(self.pipe.latest_snapshot())
        returned = time.perf_counter()
        reply = self.clients.reply(OP_TIMEOUT_S - 2)
        if reply[0] != "took":
            raise RuntimeError(f"clients received {reply[1]} of {self.n_rows} frames each")
        return {"end": max(reply[1]), "returned": returned, "sent": sent,
                "frames": reply[2]}

    def finish(self, i: int, value) -> bool:
        want = self.n_rows * self.n_clients
        if i >= self.warmup:
            self.delivered += want  # a short delivery raises in run()
        if value["frames"] is not None:
            self.samples.append((i, value["frames"]))
        if self.tracer and is_traced(i, self.warmup):
            spans = self.tracer.per_op(i)

            def total(name, kind="total"):
                return spans.get(name, {}).get(kind, 0.0)
            self.per_op.append({
                "serve.snapshot_ms": total("serve.snapshot"),
                "serve.auth_ms": total("serve.auth"),
                "serve.views_ms": total("serve.views"),
                "serve.collect_ms": total("serve.tick", "self"),
                "serve.records_per_tick": float(value["sent"]),
                "ws.send_ms": total("ws.send"),
                "ws.delivery_ms": (value["end"] - value["returned"]) * 1e3,
                "serve.jobs_per_op": float(self.jobs.take()),
            })
        return value["sent"] == want


def _install_serve_tracing(tracer: Tracer, runner: OpRunner) -> None:
    from market_data_ingestor_go_spark.streaming import publisher
    from market_data_ingestor_go_spark.streaming.pipeline import IngestPipeline
    from market_data_ingestor_go_spark.streaming.ws_minimal import WSConnection

    # publisher imports these by name: patch them where they are called
    tracer.patch(publisher, "resolve_connections", "serve.auth")
    tracer.patch(publisher, "distinct_wire_views", "serve.views")
    tracer.patch(publisher.ServePublisher, "tick", "serve.tick")
    tracer.patch(IngestPipeline, "latest_snapshot", "serve.snapshot")
    tracer.patch(WSConnection, "send",
                 lambda a, k: "ws.send" if threading.current_thread() is runner.thread else None)


def serve_tick(ctx: Ctx, res: Result) -> None:
    import pyarrow as pa
    from market_data_ingestor_go_spark.session import get_spark
    from market_data_ingestor_go_spark.streaming.pipeline import IngestPipeline
    from market_data_ingestor_go_spark.streaming.publisher import ServePublisher

    tracer = ctx.tracer
    spark = ctx.spark = get_spark()
    t_session = time.monotonic()
    clients = Clients()
    ctx.sampler.exclude.update(clients.pids())
    uni = gen.universe(ctx.seed)
    dim = parquet_table(spark, os.path.join(ctx.run_dir, "symbols"), uni.known,
                         _symbols_schema())
    configs = gen.client_configs(ctx.seed, uni)
    keys = gen.api_keys(ctx.seed, list(configs))
    configs_df = parquet_table(
        spark, os.path.join(ctx.run_dir, "clients_configs"),
        [(cid, cfg) for cid, cfg in configs.items() if cfg is not None],
        [("id", pa.string()), ("config", pa.string())])
    keys_df = parquet_table(
        spark, os.path.join(ctx.run_dir, "api_keys"),
        [(cid, gen.sha256_hex(k), True) for cid, k in keys.items()],
        [("client_id", pa.string()), ("key_hash", pa.string()),
         ("is_active", pa.bool_())])
    # the latest table: one burst's latest state, in the layout the
    # ingest sink writes. Spark does no work before the first tick.
    pipe = IngestPipeline(spark, os.path.join(ctx.run_dir, "ingest"), dim)
    model = checks.LatestModel(uni.exchange_of)
    model.add(gen.make_burst(ctx.seed, 0, ctx.anchor_ms, uni).valid)
    latest_rows = model.rows(ctx.anchor_ms)
    parquet_table(
        spark, pipe.latest_path,
        [(n, ts, json.dumps(p, separators=(",", ":")), ex)
         for n, (ts, ex, p) in sorted(latest_rows.items())],
        [("name", pa.string()), ("timestamp", pa.int64()),
         ("data", pa.string()), ("exchange", pa.string())])
    runner = OpRunner()
    if tracer:
        t = time.perf_counter()
        _install_serve_tracing(tracer, runner)
        res.layers["trace.overhead_setup_s"] = time.perf_counter() - t
    t_inputs = time.monotonic()
    # ready = publisher started and every client connected and registered
    pub = ServePublisher(spark, keys_df, configs_df).start()
    clients.connect(pub.url, [keys[cid] for cid in configs])
    deadline = time.monotonic() + 30
    while len(pub.presented_keys()) < len(configs):
        if time.monotonic() > deadline:
            raise RuntimeError("clients did not register")
        time.sleep(0.005)
    res.setup_s = time.monotonic() - ctx.t0
    log(f"session {t_session - ctx.t0:.2f}s, inputs {t_inputs - ctx.t0:.2f}s, "
        f"ready {res.setup_s:.2f}s")

    def set_group():
        spark.sparkContext.setJobGroup("perfbench-serve", "serve ticks")
    runner.call(set_group, OP_TIMEOUT_S)
    jobs = JobCounter(spark, ["perfbench-serve"]) if tracer else None
    ops = _ServeOps(pipe, pub, clients, len(configs), len(latest_rows),
                    SERVE_WARMUP, tracer, jobs)
    try:
        drive(ctx, res, runner, ops, SERVE_WARMUP, tracer)
    finally:
        runner.close()
        clients.stop()
        pub.stop()

    # frames of the sampled ticks against the reference interpreter
    want = {cid: checks.expected_frames(latest_rows, cfg)
            for cid, cfg in configs.items()}
    cids = list(configs)
    for i, per_reader in ops.samples:
        for cid, frames in zip(cids, per_reader):
            errors = checks.check_frames(want[cid], frames)
            for e in errors[:3]:
                res.fail(f"tick {i} client {cid}: {e}")
            if errors and i >= SERVE_WARMUP:
                res.ok[i - SERVE_WARMUP] = False
    for e in checks.check_latest(model, pipe.latest_snapshot().select(
            "name", "timestamp", "exchange", "data").collect(),
            int(time.time() * 1000)):
        res.fail(e)
    if tracer:
        for key in ops.per_op[0] if ops.per_op else ():
            res.layers[key] = _layer_median(ops.per_op, key)
        res.layers["ws.delivered_ratio"] = (
            ops.delivered / ops.expected_frames if ops.expected_frames else 0.0)
        res.layers.update(_trace_overhead(res))
        res.layers["trace.peak_rss_mb"] = ctx.sampler.peak / 2**20  # before the batch phase
        tracer.unpatch_all()
        batch_gate.batch_phase(ctx, res, OP_TIMEOUT_S)


WORKLOADS = {"ingest_burst": ingest_burst, "serve_tick": serve_tick}
