"""Traced-run phases for the batch operators and the document gates.

Neither runs as an end-to-end workload of its own: the time budget has
room for two workloads only (WORKLOADS.md, "Workloads left out"). Their
per-layer metrics come from two phases that run after the main traced
phase of a traced run: the gate phase ends a traced ``ingest_burst``
run, the batch phase a traced ``serve_tick`` run. Both generate their
inputs from the seed, run each op under the op time limit on an
``OpRunner``, discard their warm-up ops and check their outputs once.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import checks
import gen
from harness import OpRunner

# One registry query per operator module, each with a DuckDB oracle.
QUERIES = ("a1_latest_per_key", "events_conversion_latency",
           "dedup_cluster_keepers", "semantic_dedup_clusters",
           "doc_lm_quality", "doc_bm25_topk", "contamination_check")
GATE_CHUNKS = 2        # fresh chunks; their replay follows
GATE_CHUNK_DOCS = 100
GATE_WARMUP = 1
GATE_OP0 = 100_000     # tracer op ids of gate ops, clear of workload ops


def parquet_table(spark, path: str, rows, schema: list[tuple[str, object]]):
    """Land generated rows as one parquet file and read it back, so the
    program sees file-backed tables (not Python-local relations).
    Written with pyarrow: the rows never pass through Spark."""
    os.makedirs(path)
    write_parquet(os.path.join(path, "part-0.parquet"), rows, schema)
    return spark.read.parquet(path).select(*[n for n, _ in schema])


def write_parquet(path: str, rows, schema: list[tuple[str, object]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows)) if rows else [()] * len(schema)
    table = pa.table({n: pa.array(c, type=t) for (n, t), c in zip(schema, cols)},
                     schema=pa.schema(schema))
    pq.write_table(table, path)


def data_progress(q, after: int) -> list:
    """Progress of the query's batches with input rows and a batch id
    above ``after``. An idle trigger reports the id of the next batch
    to run, so it must not advance ``after``."""
    return [p for p in q.recentProgress if p.batchId > after and p.numInputRows > 0]


# -- batch operators ----------------------------------------------------

def write_tables(sf_dir: str, seed: int) -> None:
    """``events``, ``documents`` and ``embeddings`` in the fixture
    layout (one parquet file each), generated from the seed."""
    import pyarrow as pa

    os.makedirs(sf_dir)
    write_parquet(os.path.join(sf_dir, "events.parquet"), gen.events(seed), [
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string())])
    write_parquet(os.path.join(sf_dir, "documents.parquet"), gen.documents(seed), [
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())])
    write_parquet(os.path.join(sf_dir, "embeddings.parquet"), gen.embeddings(seed), [
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32())])


def _canon(v) -> str:
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash of the values), with columns
    taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def oracle_digest(sf_dir: str, name: str) -> tuple[int, str]:
    import duckdb
    from market_data_ingestor_go_spark.plans.oracles import ALL_SQL

    con = duckdb.connect()
    try:
        for t in ("events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
        tbl = con.execute(ALL_SQL[name]).arrow()
    finally:
        con.close()
    data = tbl.to_pydict()
    cols = list(tbl.schema.names)
    return digest(cols, zip(*(data[c] for c in cols)))


def batch_phase(ctx, res, timeout: float) -> None:
    """Two passes over QUERIES: the first collects each result and
    checks it against its oracle (warm-up, discarded), the second is
    timed, materializing through the noop sink. Each query is built
    with ``ALL_QUERIES[name](spark, sf)``; pinned frames are released
    after it. None of these queries uses a per-pass memo."""
    from market_data_ingestor_go_spark.operators.cache import release_pinned
    from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES

    spark = ctx.spark
    sf = os.path.join(ctx.run_dir, "sf")
    write_tables(sf, ctx.seed)
    tracker = spark.sparkContext.statusTracker()

    def op(name: str, check: bool):
        group = f"perfbench-{name}-{'check' if check else 'timed'}"

        def run():
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = ALL_QUERIES[name](spark, sf)
            t1 = time.perf_counter()
            if check:
                out = digest(df.columns, df.collect())
            else:
                df.write.mode("overwrite").format("noop").save()
                out = None
            t2 = time.perf_counter()
            release_pinned()
            return t1 - t0, t2 - t1, len(tracker.getJobIdsForGroup(group)), out
        return run

    runner = OpRunner()
    try:
        for check in (True, False):
            for name in QUERIES:
                try:
                    _, _, (build, run_s, jobs, got) = runner.call(op(name, check), timeout)
                except Exception as exc:  # a failed op fails the run
                    res.fail(f"query {name}: {type(exc).__name__}: {exc}")
                    return
                if check:
                    want = oracle_digest(sf, name)
                    if got != want:
                        res.fail(f"query {name}: {got[0]} rows, oracle {want[0]}"
                                 f"{'' if got[0] != want[0] else ' (values differ)'}")
                    continue
                res.layers[f"query.{name}.build_ms"] = build * 1e3
                res.layers[f"query.{name}.exec_ms"] = run_s * 1e3
                res.layers[f"query.{name}.jobs"] = float(jobs)
    finally:
        runner.close()


# -- document gates -----------------------------------------------------

def _install_gate_tracing(tracer, dups_dir: str, lm_dir: str) -> None:
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter
    from market_data_ingestor_go_spark.streaming.dedup_gate import StreamingDedupGate
    from market_data_ingestor_go_spark.streaming.lm_gate import LMQualityGate

    def audit_label(args, kwargs):
        path = str(kwargs.get("path", args[1] if len(args) > 1 else ""))
        if path.startswith(dups_dir):
            return "gate.dedup.audit_write"
        if path.startswith(lm_dir):
            return "gate.lm.audit_write"
        return None

    def readback_label(gate):
        return lambda a, k: (f"gate.{gate}.readback"
                             if tracer.current() == f"gate.{gate}.batch" else None)

    tracer.patch(StreamingDedupGate, "_gate_batch", "gate.dedup.batch")
    tracer.patch(LMQualityGate, "_gate_batch", "gate.lm.batch")
    tracer.patch(DataFrameWriter, "parquet", audit_label)
    # the dedup gate's per-epoch count jobs (batch size, accepted ids,
    # audit rows) and the LM gate's audit read-back
    tracer.patch(DataFrame, "count", readback_label("dedup"))
    tracer.patch(DataFrame, "first", readback_label("lm"))


def gate_phase(ctx, res, tracer, timeout: float) -> None:
    """A document stream through StreamingDedupGate and LMQualityGate,
    both attached with ``trigger_seconds=0`` to one parquet file source.
    An op lands one chunk atomically and returns when both queries'
    ``processAllAvailable()`` have. The stream is GATE_CHUNKS fresh
    chunks, then the same texts under new ids, so the dedup gate's
    vs-corpus reject path runs."""
    import pyarrow as pa
    from market_data_ingestor_go_spark.streaming.dedup_gate import StreamingDedupGate
    from market_data_ingestor_go_spark.streaming.lm_gate import LMQualityGate

    spark = ctx.spark
    base = os.path.join(ctx.run_dir, "gate")
    src, staging = os.path.join(base, "src"), os.path.join(base, "staging")
    os.makedirs(src)
    os.makedirs(staging)
    dups_dir, lm_dir = os.path.join(base, "dups"), os.path.join(base, "lm_audit")
    doc_schema = [("doc_id", pa.int64()), ("text", pa.string())]
    reference = parquet_table(spark, os.path.join(base, "reference"),
                              [d[:2] for d in gen.documents(ctx.seed)], doc_schema)
    chunks = gen.doc_chunks(ctx.seed, GATE_CHUNKS, GATE_CHUNK_DOCS)
    _install_gate_tracing(tracer, dups_dir, lm_dir)
    dedup = StreamingDedupGate(spark, "perfbench_dedup", dups_dir=dups_dir,
                               trigger_seconds=0)
    lm = LMQualityGate(reference, lm_dir, trigger_seconds=0)
    stream = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(src)
    gates = {"dedup": (dedup, dedup.attach(stream, os.path.join(base, "ck-dedup"))),
             "lm": (lm, lm.attach(stream, os.path.join(base, "ck-lm")))}
    last = {g: -1 for g in gates}
    per_op: list[dict] = []
    counts: dict[str, tuple] = {}
    runner = OpRunner()
    try:
        for k, rows in enumerate(chunks):
            if k == GATE_WARMUP:
                counts["start"] = (dedup.docs_seen, dedup.docs_accepted,
                                   lm.docs_scored, lm.docs_flagged)
            name = f"chunk-{k:03d}.parquet"
            write_parquet(os.path.join(staging, name), rows, doc_schema)

            def run(name=name):
                os.rename(os.path.join(staging, name), os.path.join(src, name))
                for _, q in gates.values():
                    q.processAllAvailable()
            tracer.op, tracer.enabled = GATE_OP0 + k, k >= GATE_WARMUP
            try:
                runner.call(run, timeout)
            except Exception as exc:  # a failed op fails the run
                res.fail(f"gate chunk {k}: {type(exc).__name__}: {exc}")
                return
            finally:
                tracer.enabled = False
            figures = {}
            for g, (_, q) in gates.items():
                progress = data_progress(q, last[g])
                if progress:
                    last[g] = max(p.batchId for p in progress)
                figures[f"gate.{g}.trigger_ms"] = sum(
                    float(p.durationMs.get("triggerExecution", 0)) for p in progress)
            if k >= GATE_WARMUP:
                spans = tracer.per_op(GATE_OP0 + k)
                for g in gates:
                    for part in ("audit_write", "readback"):
                        figures[f"gate.{g}.{part}_ms"] = spans.get(
                            f"gate.{g}.{part}", {}).get("total", 0.0)
                per_op.append(figures)
        counts["end"] = (dedup.docs_seen, dedup.docs_accepted,
                         lm.docs_scored, lm.docs_flagged)
    finally:
        runner.close()
        tracer.unpatch_all()
        for gate, _ in gates.values():
            gate.stop()
    for key in per_op[0]:
        res.layers[key] = statistics.median(d[key] for d in per_op)
    seen, accepted, scored, flagged = (e - s for s, e in zip(counts["start"], counts["end"]))
    res.layers["gate.dedup.accepted_ratio"] = accepted / seen if seen else 0.0
    res.layers["gate.lm.accepted_ratio"] = (scored - flagged) / scored if scored else 0.0
    _check_gates(dedup, lm, chunks, res)


def _check_gates(dedup, lm, chunks, res) -> None:
    audited = [r[0] for r in lm.scores().select("doc_id").collect()]
    dups = {r[0]: r[1] for r in dedup.duplicates().select("doc_id", "dup_of").collect()}
    accepted = [r[0] for r in dedup.accepted_ids().collect()]
    for e in checks.check_gates(chunks, GATE_CHUNKS, audited, dups, accepted):
        res.fail(e)
