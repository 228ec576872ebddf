"""The serve tick's connect-time contract (streaming/publisher.py): auth
and config fixed when a connection is admitted, one Spark job per steady
tick, nothing cached on the snapshot, the fixed-rate ticker with its
failure and no-data counters, and a compiled config whose plan grows
linearly with its renames."""

from __future__ import annotations

import hashlib
import json
import logging
import threading
import time

import pytest

from market_data_ingestor_go_spark.operators.config_transform import (
    apply_client_config_map, interpret_flat_record, parse_client_config)
from market_data_ingestor_go_spark.sources import fs
from market_data_ingestor_go_spark.streaming import publisher
from market_data_ingestor_go_spark.streaming import ws_minimal as wm
from market_data_ingestor_go_spark.streaming.pipeline import (
    LATEST_SCHEMA, IngestPipeline)
from market_data_ingestor_go_spark.streaming.publisher import ServePublisher

CFG_BID = json.dumps({"symbols": {"AAPL": {
    "value_rules": {"bid": {"op": "add", "value": 1}}}}})
CFG_RENAME = json.dumps({"symbols": {"AAPL": {
    "rename_fields": {"bid": "best_bid"}}}})


def _sha(key: str) -> str:
    return hashlib.sha256(key.encode()).hexdigest()


def _table(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("overwrite").parquet(str(path))
    return spark.read.parquet(str(path))


def _keys(spark, path, active: dict[str, bool]):
    """api_keys over parquet: key k belongs to client ``c-<k>``."""
    return _table(spark, path,
                  [(f"c-{k}", _sha(k), on, None) for k, on in active.items()],
                  "client_id string, key_hash string, is_active boolean, "
                  "last_used_at timestamp")


def _configs(spark, path, configs: dict[str, str | None]):
    return _table(spark, path, list(configs.items()),
                  "id string, config string")


def _write_latest(spark, pipe, bid: float) -> dict[str, dict]:
    """Write the latest table; returns {symbol: payload fields}."""
    payloads = {"AAPL": {"bid": bid, "ask": bid + 1},
                "MSFT": {"bid": bid * 2}}
    _table(spark, pipe.latest_path,
           [(s, 1000 + i, json.dumps({"data": p}), "x")
            for i, (s, p) in enumerate(sorted(payloads.items()))],
           LATEST_SCHEMA)
    return payloads


@pytest.fixture
def pipe(spark, tmp_path):
    dim = spark.createDataFrame([("AAPL", "x")], "name string, exchange string")
    return IngestPipeline(spark, str(tmp_path / "ingest"), dim)


def _connect(pub, key, n_live):
    conn = wm.connect(pub.url, headers={"x-api-key": key})
    deadline = time.monotonic() + 5
    while len(pub.presented_keys()) < n_live and time.monotonic() < deadline:
        time.sleep(0.02)
    assert len(pub.presented_keys()) == n_live
    return conn


def _close(pub, conn, n_live):
    conn.close()
    deadline = time.monotonic() + 5
    while len(pub.presented_keys()) > n_live and time.monotonic() < deadline:
        time.sleep(0.02)
    assert len(pub.presented_keys()) == n_live


def _fields(conn, n=2) -> dict[str, dict]:
    frames = [json.loads(conn.recv(timeout=5.0)) for _ in range(n)]
    return {f["symbol"]: f["fields"] for f in frames}


def _silent(conn) -> bool:
    try:
        conn.recv(timeout=0.3)
    except TimeoutError:
        return True
    return False


def _jobs_of(spark, fn):
    """(Spark jobs ``fn`` ran on this thread, its result), counted
    through a job group; a later marker job proves the listener bus
    has delivered every job of the group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"serve-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
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
    return len(tracker.getJobIdsForGroup(group)), out


def test_steady_tick_is_one_job_and_a_late_client_is_served_at_once(
        spark, tmp_path, pipe):
    """After admission a tick is exactly one Spark job; a client that
    connects later gets every frame from its first tick, through its
    own config."""
    payloads = _write_latest(spark, pipe, 10.0)
    keys = _keys(spark, tmp_path / "keys", {"k1": True, "k2": True})
    configs = _configs(spark, tmp_path / "cfg", {"c-k1": CFG_BID, "c-k2": CFG_RENAME})
    pub = ServePublisher(spark, keys, configs)
    pub.server.start()
    try:
        c1 = _connect(pub, "k1", 1)
        assert pub.tick(pipe.latest_snapshot()) == 2  # admits c1
        _fields(c1)
        jobs, sent = _jobs_of(spark, lambda: pub.tick(pipe.latest_snapshot()))
        assert (jobs, sent) == (1, 2)
        assert _fields(c1) == {"AAPL": {"bid": 11.0, "ask": 11.0},
                               "MSFT": payloads["MSFT"]}

        c2 = _connect(pub, "k2", 2)
        assert pub.tick(pipe.latest_snapshot()) == 4  # c2's first tick
        cfg = parse_client_config(json.loads(CFG_RENAME))
        assert _fields(c2) == {
            "AAPL": interpret_flat_record(cfg["AAPL"], payloads["AAPL"]),
            "MSFT": payloads["MSFT"]}
        _fields(c1)
        jobs, sent = _jobs_of(spark, lambda: pub.tick(pipe.latest_snapshot()))
        assert (jobs, sent) == (1, 4)
        for c in (c1, c2):
            c.close()
    finally:
        pub.stop()


def test_key_and_config_changes_take_effect_on_reconnect(spark, tmp_path, pipe):
    """Connect-time semantics (server.go:63-69): a key deactivated after
    connect keeps its connection served, and the reconnect is rejected;
    a config edited after connect applies from the reconnect on."""
    _write_latest(spark, pipe, 10.0)
    pub = ServePublisher(
        spark, _keys(spark, tmp_path / "keys", {"k1": True, "k2": True}),
        _configs(spark, tmp_path / "cfg", {"c-k2": CFG_BID}))
    pub.server.start()
    try:
        c1, c2 = _connect(pub, "k1", 1), _connect(pub, "k2", 2)
        assert pub.tick(pipe.latest_snapshot()) == 4
        assert _fields(c2)["AAPL"] == {"bid": 11.0, "ask": 11.0}
        _fields(c1)
        # the key table and the config table change under the publisher
        pub.api_keys = _keys(spark, tmp_path / "keys2", {"k1": False, "k2": True})
        pub.configs_df = _configs(spark, tmp_path / "cfg2", {"c-k2": CFG_RENAME})
        assert pub.tick(pipe.latest_snapshot()) == 4
        assert _fields(c1)["AAPL"] == {"bid": 10.0, "ask": 11.0}
        assert _fields(c2)["AAPL"] == {"bid": 11.0, "ask": 11.0}

        _close(pub, c1, 1)
        _close(pub, c2, 0)
        c1, c2 = _connect(pub, "k1", 1), _connect(pub, "k2", 2)
        assert pub.tick(pipe.latest_snapshot()) == 2  # only c2 is served
        assert _fields(c2)["AAPL"] == {"best_bid": 10.0, "ask": 11.0}
        assert _silent(c1)
        for c in (c1, c2):
            c.close()
    finally:
        pub.stop()


def test_rejected_connection_is_not_checked_again(spark, tmp_path, pipe,
                                                  monkeypatch):
    """A rejected connection is remembered: later ticks run no auth
    lookup, and with nobody to serve, no Spark job at all."""
    _write_latest(spark, pipe, 10.0)
    pub = ServePublisher(spark, _keys(spark, tmp_path / "keys", {"k1": True}),
                         _configs(spark, tmp_path / "cfg", {"c-k1": None}))
    calls = []
    resolve = publisher.resolve_connections
    monkeypatch.setattr(publisher, "resolve_connections",
                        lambda *a: calls.append(a) or resolve(*a))
    pub.server.start()
    try:
        bad = _connect(pub, "nope", 1)
        jobs, sent = _jobs_of(spark, lambda: pub.tick(pipe.latest_snapshot()))
        assert sent == 0 and jobs >= 1 and len(calls) == 1
        for _ in range(2):
            jobs, sent = _jobs_of(spark, lambda: pub.tick(pipe.latest_snapshot()))
            assert (jobs, sent) == (0, 0)
        assert len(calls) == 1
        assert _silent(bad)
        bad.close()
    finally:
        pub.stop()


def test_tick_serves_a_rewritten_latest_table(spark, tmp_path, pipe):
    """Nothing is cached on the snapshot: when the latest table is
    rewritten between two ticks, the second tick serves the new values."""
    _write_latest(spark, pipe, 10.0)
    pub = ServePublisher(spark, _keys(spark, tmp_path / "keys", {"k1": True}),
                         _configs(spark, tmp_path / "cfg", {"c-k1": CFG_BID}))
    pub.server.start()
    try:
        c1 = _connect(pub, "k1", 1)
        pub.tick(pipe.latest_snapshot())
        assert _fields(c1)["MSFT"] == {"bid": 20.0}
        _write_latest(spark, pipe, 50.0)
        pub.tick(pipe.latest_snapshot())
        assert _fields(c1) == {"AAPL": {"bid": 51.0, "ask": 51.0},
                               "MSFT": {"bid": 100.0}}
        c1.close()
    finally:
        pub.stop()


def _fake_ticks(pub):
    """Replace the Spark tick with a no-op that counts calls."""
    done = []
    pub.tick = lambda latest: done.append(latest) or 0
    return done


def test_ticker_holds_its_rate_and_skips_overrun_slots():
    """Tick k starts at start + k·interval. A tick that takes 1.5
    intervals skips the slot it overran (counted in
    serve_ticks_overrun) and is not followed by a catch-up burst."""
    interval = 0.4
    starts = []

    def slow_provider():
        starts.append(time.monotonic())
        time.sleep(1.5 * interval)
        return "snapshot"

    pub = ServePublisher(None, None, None)
    done = _fake_ticks(pub)
    pub.start(latest_provider=slow_provider, interval_s=interval)
    try:
        deadline = time.monotonic() + 30
        while len(done) < 4 and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        pub.stop()
    assert len(starts) >= 4
    slots = [(t - starts[0]) / interval for t in starts]
    # every start sits on a slot boundary ...
    assert all(abs(s - round(s)) < 0.25 for s in slots), slots
    gaps = [round(b) - round(a) for a, b in zip(slots, slots[1:])]
    # ... and each slow tick skips exactly the one slot it overran
    assert gaps == [2] * len(gaps), slots
    skipped = sum(g - 1 for g in gaps)
    assert skipped <= pub.metrics()["serve_ticks_overrun"] <= skipped + 1


def test_tick_failure_is_logged_counted_and_exported(caplog):
    """A tick that raises is logged with its cause and counted; the
    loop keeps ticking; the serve counters reach /metrics."""
    from market_data_ingestor_go_spark.streaming.endpoints import (
        render_prometheus)
    from market_data_ingestor_go_spark.streaming.observability import (
        MetricsRegistry)

    calls = []

    def provider():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("latest table unreadable")
        return "snapshot"

    pub = ServePublisher(None, None, None)
    done = _fake_ticks(pub)
    with caplog.at_level(logging.ERROR, logger=publisher.__name__):
        pub.start(latest_provider=provider, interval_s=0.05)
        try:
            deadline = time.monotonic() + 10
            while len(done) < 3 and time.monotonic() < deadline:
                time.sleep(0.02)
        finally:
            pub.stop()
    assert len(done) >= 3
    assert pub.tick_errors == 1
    failed = [r for r in caplog.records if r.exc_info]
    assert len(failed) == 1
    assert "latest table unreadable" in str(failed[0].exc_info[1])

    reg = MetricsRegistry()
    pub.export_metrics(reg)
    text = render_prometheus(reg)
    assert "serve_tick_errors 1" in text
    assert f"serve_ticks_overrun {pub.ticks_overrun}" in text
    assert "serve_audit_failures 0" in text


def test_audit_failure_is_logged_and_counted(spark, tmp_path, pipe, caplog):
    """The fire-and-forget last_used_at touch never fails the tick, but
    a failed touch is logged with its cause and counted."""
    _write_latest(spark, pipe, 10.0)
    failed = threading.Event()

    def audit_sink(df):
        failed.set()
        raise OSError("api_keys store down")

    pub = ServePublisher(spark, _keys(spark, tmp_path / "keys", {"k1": True}),
                         _configs(spark, tmp_path / "cfg", {}),
                         audit_sink=audit_sink)
    pub.server.start()
    try:
        with caplog.at_level(logging.WARNING, logger=publisher.__name__):
            c1 = _connect(pub, "k1", 1)
            assert pub.tick(pipe.latest_snapshot()) == 2
            assert failed.wait(timeout=10)
            deadline = time.monotonic() + 10
            while pub.audit_failures < 1 and time.monotonic() < deadline:
                time.sleep(0.02)
        assert pub.audit_failures == 1
        warned = [r for r in caplog.records if r.exc_info]
        assert warned and "api_keys store down" in str(warned[0].exc_info[1])
        c1.close()
    finally:
        pub.stop()


def test_ticks_before_the_first_epoch_count_as_no_data(spark, tmp_path, pipe):
    """A started publisher over a pipeline that has not written its
    latest table yet skips those ticks as no data, not as errors, and
    serves from the first tick after the table lands."""
    pub = ServePublisher(spark, _keys(spark, tmp_path / "keys", {"k1": True}),
                         _configs(spark, tmp_path / "cfg", {"c-k1": None}))
    pub.start(latest_provider=pipe.latest_snapshot, interval_s=0.2)
    try:
        c1 = _connect(pub, "k1", 1)
        deadline = time.monotonic() + 10
        while pub.ticks_no_data < 2 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert pub.metrics()["serve_ticks_no_data"] >= 2
        assert pub.ticks == 0
        # the table lands whole, by one rename, as an epoch's swap does
        staged = IngestPipeline(spark, str(tmp_path / "staged"), pipe.symbols_dim)
        payloads = _write_latest(spark, staged, 10.0)
        (tmp_path / "ingest").mkdir(exist_ok=True)
        assert fs.rename_path(spark, staged.latest_path, pipe.latest_path)
        assert _fields(c1) == payloads
        c1.close()
    finally:
        pub.stop()
    assert pub.metrics()["serve_tick_errors"] == 0
    assert pub.ticks >= 1


def test_rename_plan_grows_linearly(spark):
    """Each rename binds its input map once, so a config's optimized
    plan grows linearly with its renames: 12 renames stay within a line
    through the 1- and 2-rename sizes (3^r copies would not), and the
    output still equals the reference interpreter."""
    record = {f"f{i:02d}": float(i) for i in range(14)}
    df = spark.createDataFrame([("AAPL", 1, record)],
                               "symbol string, timestamp long, "
                               "fields map<string, double>")

    def compiled(r: int):
        cfg = parse_client_config({"symbols": {"AAPL": {"rename_fields": {
            f"f{i:02d}": f"g{i:02d}" for i in range(r)}}}})
        out = apply_client_config_map(df, cfg)
        return len(out._jdf.queryExecution().optimizedPlan().toString()), \
            out, cfg

    one, two = compiled(1)[0], compiled(2)[0]
    size, out, cfg = compiled(12)
    assert size <= one + 11 * 2 * (two - one), (one, two, size)
    assert out.collect()[0]["fields"] == \
        interpret_flat_record(cfg["AAPL"], record)
