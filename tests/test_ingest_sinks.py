"""The ingest epoch's two sinks (streaming/pipeline.py): the in-memory
latest merge against a from-scratch reference, the schema-pinned state
read, a crash mid-swap, a failed sink's replay, a restart and a replay
on a fresh object, the key cap, timestamp ties, and the latest sink's
one Spark job."""

from __future__ import annotations

import pathlib
import time

import pytest
from pyspark.sql import Row, functions as F

from market_data_ingestor_go_spark.operators.latest import latest_per_key
from market_data_ingestor_go_spark.sources import fs
from market_data_ingestor_go_spark.streaming import pipeline
from market_data_ingestor_go_spark.streaming.pipeline import (
    DEFAULT_TTL_MILLIS, IngestPipeline, build_ingest_stream)

_SCHEMA = "name string, timestamp long, exchange string, data string"


@pytest.fixture
def symbols_dim(spark):
    return spark.createDataFrame([
        Row(name="AAPL", exchange="usstock"),
        Row(name="BTCUSD", exchange="crypto"),
    ])


def _epochs(now: int) -> list[list[tuple]]:
    """Three epochs of (name, timestamp, data): rows out of order within
    and across epochs, names repeated across epochs, one row past the
    24 h TTL, and 40 filler names so a 4-way key hash fills every
    partition."""
    e0 = [("AAPL", now - 1000, "a2"), ("AAPL", now - 5000, "a1"),
          ("BTCUSD", now - 3000, "b1"), ("STALE", now - 2 * DEFAULT_TTL_MILLIS, "s")]
    e0 += [(f"SYM{i}", now - 100 * i, f"f{i}") for i in range(40)]
    e1 = [("AAPL", now - 2000, "a-late"), ("BTCUSD", now - 100, "b2"),
          ("ETH", now - 50, "e1"), ("SYM3", now - 10_000, "f3-late")]
    e2 = [("AAPL", now, "a3"), ("ZZZ", now - 10, "z1"), ("ETH", now - 60, "e0")]
    return [e0, e1, e2]


def _batch(spark, dim, rows):
    df = spark.createDataFrame(
        [Row(name=n, timestamp=ts, exchange=None, data=d) for n, ts, d in rows],
        schema=_SCHEMA)
    return build_ingest_stream(df, dim)


def _sorted(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def _run(pipe, spark, dim, epochs, replay=None,
         batch_partitions=None) -> None:
    for i, rows in enumerate(epochs):
        batch = _batch(spark, dim, rows)
        if batch_partitions is not None:
            batch = batch.repartition(batch_partitions, "name")
        pipe._write_batch(batch, i)
        if i == replay:
            pipe._write_batch(batch, i)


@pytest.mark.parametrize("batch_partitions", [1, 4])
def test_latest_merge_equals_latest_of_every_row(spark, symbols_dim, tmp_path,
                                                 batch_partitions):
    """Epoch by epoch, merging old state with the batch must leave the
    same table as latest-per-key over every row ever fed, with the TTL
    applied (a replayed epoch changes nothing), whether the batch
    arrives in one partition or hash-spread over four (its rows then
    reach the merge in another order); the snapshot stays one file."""
    now = int(time.time() * 1000)
    epochs = _epochs(now)
    pipe = IngestPipeline(spark, str(tmp_path / "out"), symbols_dim)
    _run(pipe, spark, symbols_dim, epochs, replay=1,
         batch_partitions=batch_partitions)

    fed = _batch(spark, symbols_dim, [r for e in epochs for r in e])
    horizon = F.unix_millis(F.current_timestamp()) - F.lit(DEFAULT_TTL_MILLIS)
    want = latest_per_key(fed, "name", "timestamp").filter(
        F.col("timestamp") >= horizon)
    got = pipe.latest_snapshot()
    assert _sorted(got) == _sorted(want)
    by_name = {r["name"]: r["data"] for r in got.collect()}
    assert "STALE" not in by_name and by_name["AAPL"] == "a3"
    assert by_name["SYM3"] == "f3" and by_name["ETH"] == "e1"
    assert pipe.history().count() == sum(len(e) for e in epochs)
    files = list(pathlib.Path(pipe.latest_path).glob("part-*.parquet"))
    assert len(files) == 1, files


def test_pinned_read_starts_no_job_and_crash_mid_swap(spark, symbols_dim,
                                                      tmp_path):
    """A schema-pinned state read plans without a Spark job (an
    inferring read runs one); and with ``latest`` renamed to
    ``latest.old`` — a crash between atomic_swap's two renames — the
    next epoch merges from the backup and ends equal to a clean run."""
    now = int(time.time() * 1000)
    epochs = _epochs(now)
    clean = IngestPipeline(spark, str(tmp_path / "clean"), symbols_dim)
    _run(clean, spark, symbols_dim, epochs)

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_of(read) -> int:
        group = f"pinned-read-{time.monotonic_ns()}"
        sc.setJobGroup(group, "read_with_backup")
        try:
            before = set(tracker.getJobIdsForGroup(group))
            assert read() is not None
            return len(set(tracker.getJobIdsForGroup(group)) - before)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    schema = clean.latest_snapshot().schema
    assert jobs_of(lambda: fs.read_with_backup(
        spark, clean.latest_path, schema)) == 0
    assert jobs_of(lambda: fs.read_with_backup(spark, clean.latest_path)) >= 1

    crashed = IngestPipeline(spark, str(tmp_path / "crashed"), symbols_dim)
    _run(crashed, spark, symbols_dim, epochs[:2])
    assert fs.rename_path(spark, crashed.latest_path,
                          crashed.latest_path + ".old")
    crashed._write_batch(_batch(spark, symbols_dim, epochs[2]), 2)
    assert not fs.path_exists(spark, crashed.latest_path + ".old")
    assert _sorted(crashed.latest_snapshot()) == _sorted(clean.latest_snapshot())
    assert _sorted(crashed.history()) == _sorted(clean.history())


@pytest.mark.parametrize("sink", ["_write_history", "_write_latest"])
def test_sink_failure_fails_epoch_and_replays_clean(spark, symbols_dim,
                                                    tmp_path, monkeypatch,
                                                    sink):
    """One sink raising fails the epoch only after the other sink's jobs
    have finished, and replaying the epoch id leaves history and latest
    equal to a run that never failed."""
    now = int(time.time() * 1000)
    epochs = _epochs(now)
    clean = IngestPipeline(spark, str(tmp_path / "clean"), symbols_dim)
    _run(clean, spark, symbols_dim, epochs)

    failed = IngestPipeline(spark, str(tmp_path / "failed"), symbols_dim)
    _run(failed, spark, symbols_dim, epochs[:1])
    original = getattr(IngestPipeline, sink)
    other = ({"_write_history", "_write_latest"} - {sink}).pop()
    other_original = getattr(IngestPipeline, other)
    calls, finished = [], []

    def raise_once(self, *args):
        calls.append(args)
        if len(calls) == 1:
            raise RuntimeError(f"{sink} outage")
        return original(self, *args)

    def record_finish(self, *args):
        other_original(self, *args)
        finished.append(args)

    monkeypatch.setattr(IngestPipeline, sink, raise_once)
    monkeypatch.setattr(IngestPipeline, other, record_finish)
    batch1 = _batch(spark, symbols_dim, epochs[1])
    with pytest.raises(RuntimeError, match="outage"):
        failed._write_batch(batch1, 1)
    assert len(finished) == 1  # the healthy sink ran to its end first
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    failed._write_batch(batch1, 1)  # the replay after the restart
    failed._write_batch(_batch(spark, symbols_dim, epochs[2]), 2)
    assert len(calls) == 3
    assert _sorted(failed.latest_snapshot()) == _sorted(clean.latest_snapshot())
    assert _sorted(spark.read.parquet(failed.history_path)) == \
        _sorted(spark.read.parquet(clean.history_path))


def test_sink_threads_carry_the_query_job_group(spark, symbols_dim, tmp_path,
                                                monkeypatch):
    """Both sinks run on worker threads but inside the streaming
    query's job group, the group that ``StreamingQuery.stop()``
    cancels."""
    src = tmp_path / "wire"
    src.mkdir()
    now = int(time.time() * 1000)
    (src / "frames.json").write_text("\n".join(
        f'{{"name": "AAPL", "timestamp": {now - i}, "data": {{}}}}'
        for i in range(3)) + "\n")
    groups = {}

    def record(sink):
        original = getattr(IngestPipeline, sink)

        def wrapped(self, batch, *args):
            groups[sink] = spark.sparkContext.getLocalProperty(
                "spark.jobGroup.id")
            return original(self, batch, *args)
        monkeypatch.setattr(IngestPipeline, sink, wrapped)

    record("_write_history")
    record("_write_latest")
    pipe = IngestPipeline(spark, str(tmp_path / "out"), symbols_dim,
                          trigger_seconds=1)
    q = pipe.start(spark.readStream.schema("value STRING").text(str(src)))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert groups == {"_write_history": str(q.runId),
                      "_write_latest": str(q.runId)}
    assert pipe.history().count() == 3


def _jobs_of(spark, fn) -> int:
    """Spark jobs ``fn`` ran on this thread (worker threads started
    through ``inheritable_thread_target`` included), counted through a
    job group; a later marker job proves the listener bus has delivered
    every job of the group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"sink-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    marker = group + "-marker"
    sc.setJobGroup(marker, marker)
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 10
    while time.time() < deadline and not tracker.getJobIdsForGroup(marker):
        time.sleep(0.05)
    assert list(tracker.getJobIdsForGroup(marker))
    return len(tracker.getJobIdsForGroup(group))


def _state(pipe) -> list[tuple]:
    """The pipeline's in-memory latest state, as sorted tuples."""
    return sorted(tuple(sorted(r.items())) for r in pipe._latest.to_pylist())


def _snapshot(pipe) -> list[tuple]:
    return sorted(tuple(sorted(r.asDict().items()))
                  for r in pipe.latest_snapshot().collect())


def test_restart_on_the_same_base_dir_equals_an_uninterrupted_run(
        spark, symbols_dim, tmp_path):
    """A fresh pipeline object on the same ``base_dir`` loads the
    snapshot on its first epoch: epochs 0–1 on one object and epoch 2
    on another end equal to one object running all three, in memory
    and on disk. Epoch 2 brings 200 new keys, all of which land."""
    now = int(time.time() * 1000)
    epochs = _epochs(now)
    epochs[2] = epochs[2] + [(f"K{i}", now - i, f"k{i}") for i in range(200)]
    clean = IngestPipeline(spark, str(tmp_path / "clean"), symbols_dim)
    _run(clean, spark, symbols_dim, epochs)

    base = str(tmp_path / "restarted")
    _run(IngestPipeline(spark, base, symbols_dim), spark, symbols_dim,
         epochs[:2])
    fresh = IngestPipeline(spark, base, symbols_dim)
    fresh._write_batch(_batch(spark, symbols_dim, epochs[2]), 2)
    assert _snapshot(fresh) == _snapshot(clean)
    assert _state(fresh) == _state(clean) == _snapshot(clean)
    names = {r["name"] for r in fresh.latest_snapshot().collect()}
    assert names == {n for e in epochs for n, _, _ in e} - {"STALE"}
    assert len(names) == 244 and {f"K{i}" for i in range(200)} <= names
    assert len(list(pathlib.Path(fresh.latest_path).glob("*.parquet"))) == 1


def test_replay_after_the_swap_on_a_fresh_object(spark, symbols_dim, tmp_path):
    """An epoch whose snapshot swapped in but which never committed is
    run again, with the same id, by a fresh object (the restarted
    query): it leaves the same latest table and history as one clean
    pass."""
    now = int(time.time() * 1000)
    epochs = _epochs(now)
    clean = IngestPipeline(spark, str(tmp_path / "clean"), symbols_dim)
    _run(clean, spark, symbols_dim, epochs)

    base = str(tmp_path / "replayed")
    _run(IngestPipeline(spark, base, symbols_dim), spark, symbols_dim,
         epochs[:2])  # epoch 1 swapped its snapshot, then the process died
    fresh = IngestPipeline(spark, base, symbols_dim)
    fresh._write_batch(_batch(spark, symbols_dim, epochs[1]), 1)
    fresh._write_batch(_batch(spark, symbols_dim, epochs[2]), 2)
    assert _snapshot(fresh) == _snapshot(clean)
    assert _state(fresh) == _state(clean)


def test_key_cap_fails_the_epoch_and_keeps_both_states(spark, symbols_dim,
                                                       tmp_path, monkeypatch):
    """Past ``MAX_LATEST_KEYS`` the epoch raises before the snapshot is
    written: the file on disk and the in-memory table stay as the last
    good epoch left them."""
    now = int(time.time() * 1000)
    epochs = _epochs(now)
    pipe = IngestPipeline(spark, str(tmp_path / "out"), symbols_dim)
    _run(pipe, spark, symbols_dim, epochs[:1])
    kept = pipe._latest.num_rows
    files = {p: p.read_bytes()
             for p in pathlib.Path(pipe.latest_path).glob("*.parquet")}
    before_state, before_snapshot = _state(pipe), _snapshot(pipe)

    monkeypatch.setattr(pipeline, "MAX_LATEST_KEYS", kept)
    with pytest.raises(RuntimeError, match="MAX_LATEST_KEYS"):
        pipe._write_batch(_batch(spark, symbols_dim, epochs[1]), 1)  # + ETH
    assert _state(pipe) == before_state
    assert _snapshot(pipe) == before_snapshot
    assert {p: p.read_bytes() for p in
            pathlib.Path(pipe.latest_path).glob("*.parquet")} == files


def test_equal_timestamps_resolve_the_same_way_under_replay(spark, symbols_dim,
                                                          tmp_path):
    """Records of one name with equal timestamps keep the larger
    ``data``, whatever the arrival order, epoch split or replay."""
    ts = int(time.time() * 1000) - 1000
    rows = [("AAPL", ts, "b"), ("AAPL", ts, "c"), ("AAPL", ts, "a"),
            ("ETH", ts, "y"), ("ETH", ts - 1, "z")]
    one = IngestPipeline(spark, str(tmp_path / "one"), symbols_dim)
    _run(one, spark, symbols_dim, [rows], replay=0)
    split = IngestPipeline(spark, str(tmp_path / "split"), symbols_dim)
    _run(split, spark, symbols_dim, [rows[2:], rows[:2][::-1]], replay=1)
    replayed = IngestPipeline(spark, str(tmp_path / "split"), symbols_dim)
    _run(replayed, spark, symbols_dim, [rows[2:]])
    for pipe in (one, split, replayed):
        got = {r["name"]: r["data"] for r in pipe.latest_snapshot().collect()}
        assert got == {"AAPL": "c", "ETH": "y"}
        assert _state(pipe) == _snapshot(pipe)


def test_latest_sink_runs_one_spark_job_per_epoch(spark, symbols_dim, tmp_path):
    """Past the cold-start load, the latest sink of an epoch is one
    Spark job: the collect of the persisted batch. The merge and the
    snapshot write run none."""
    now = int(time.time() * 1000)
    epochs = _epochs(now)
    pipe = IngestPipeline(spark, str(tmp_path / "out"), symbols_dim)
    _run(pipe, spark, symbols_dim, epochs[:1])
    for rows in epochs[1:]:
        batch = _batch(spark, symbols_dim, rows).persist()
        try:
            batch.count()  # materialized, as _write_batch's batch is
            assert _jobs_of(spark, lambda: pipe._write_latest(batch)) == 1
        finally:
            batch.unpersist()
    want = IngestPipeline(spark, str(tmp_path / "want"), symbols_dim)
    _run(want, spark, symbols_dim, epochs)
    assert _snapshot(pipe) == _snapshot(want)
