"""Bucketed co-located join: the plan must contain NO shuffle Exchange
on the join key once both sides are bucketed the same way — the
pay-the-shuffle-once design for recurring 100 TB joins."""

from __future__ import annotations

import pytest

from market_data_ingestor_go_spark.sources.bucketing import bucketed_join, write_bucketed
from market_data_ingestor_go_spark.sources.connectors import (
    jdbc_available, read_jdbc_dim)
from market_data_ingestor_go_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    # (warehouse dir is a static conf — tables land in ./spark-warehouse
    # and are dropped in the finally block)
    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey")
    write_bucketed(orders, "b_orders", "o_orderkey", 8)
    write_bucketed(lineitem, "b_lineitem", "o_orderkey", 8)
    try:
        # bucketed join must not broadcast (that would skip bucketing)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        # and it still computes the right thing
        n = joined.count()
        li = load_table(spark, SF, "lineitem")
        plain = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
        assert n == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_snapshot_diff_bucketed_join_no_shuffle(spark, tmp_path):
    """snapshot_diff's docstring claim as a plan artifact: with both
    corpus snapshots bucketed by doc_id at write time, the full-outer
    diff join plans with NO shuffle Exchange — the pay-the-shuffle-
    once shape an incremental pipeline relies on between crawls."""
    from pyspark.sql import functions as F

    from market_data_ingestor_go_spark.operators.dedup import snapshot_diff

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "source", "text")
    new = docs.filter("doc_id % 17 != 3")
    write_bucketed(docs, "b_snap_old", "doc_id", 8)
    write_bucketed(new, "b_snap_new", "doc_id", 8)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = snapshot_diff(spark.table("b_snap_old"),
                            spark.table("b_snap_new"))
        plan = _plan(out)
        # the only exchange is the final group-count-sized aggregate's
        # — nothing corpus-sized shuffles for the join itself
        join_part = plan[plan.index("SortMergeJoin"):]
        assert "Exchange" not in join_part, plan
        # and it still computes the right thing
        got = {r["status"]: r["n_docs"] for r in out.collect()}
        want = {r["status"]: r["n_docs"]
                for r in snapshot_diff(docs, new).collect()}
        assert got == want and "removed" in got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_snap_old")
        spark.sql("DROP TABLE IF EXISTS b_snap_new")


def test_bootstrap_tables_idempotent(spark):
    # K3 (postgres.go:46-97): create-if-absent, safe to call twice
    from market_data_ingestor_go_spark.sources.tables import bootstrap_tables
    try:
        first = bootstrap_tables(spark, database="mdingest")
        second = bootstrap_tables(spark, database="mdingest")
        assert first == second
        cols = [f.name for f in spark.table("mdingest.market_data").schema.fields]
        assert cols == ["id", "name", "timestamp", "exchange", "data"]
        spark.sql("INSERT INTO mdingest.api_keys VALUES (1, 'c1', 'h', true, NULL)")
        assert spark.table("mdingest.api_keys").count() == 1
        bootstrap_tables(spark, database="mdingest")  # must not wipe data
        assert spark.table("mdingest.api_keys").count() == 1
    finally:
        spark.sql("DROP DATABASE IF EXISTS mdingest CASCADE")


def test_connectors_degrade_explicitly(spark):
    """Connectors must either work or raise NotImplementedError with a
    pointer to the fallback — never fail obscurely at runtime."""
    if not jdbc_available(spark):
        with pytest.raises(NotImplementedError):
            read_jdbc_dim(spark, "jdbc:postgresql://x/y", "api_keys")


def _boot_postgres(tmp_path):
    """Throwaway PG 15 cluster as user nobody (the server refuses
    root), trust auth, random port. Returns (port, stop_fn) or None if
    the server binaries are absent."""
    import random
    import shutil
    import subprocess

    if not (shutil.which("initdb") and shutil.which("pg_ctl")):
        return None
    # NOT pytest's tmp_path: that tree is root-owned mode 0700 and the
    # server must run as nobody (postgres refuses root)
    import tempfile
    base = tempfile.mkdtemp(prefix="pgtest_")
    import os
    os.chmod(base, 0o755)
    shutil.chown(base, user="nobody")
    port = random.randint(54000, 54999)
    run = lambda cmd: subprocess.run(  # noqa: E731
        ["su", "nobody", "-s", "/bin/bash", "-c", cmd],
        cwd="/tmp", capture_output=True, text=True, timeout=60)
    r = run(f"initdb -D {base}/data --auth=trust --no-sync -U app")
    if r.returncode != 0:
        return None
    r = run(f"pg_ctl -D {base}/data -l {base}/log "
            f"-o '-p {port} -k {base}' start")
    if r.returncode != 0:
        return None

    def stop():
        run(f"pg_ctl -D {base}/data -m immediate stop")

    return port, stop


def test_postgres_live_ddl_append_and_read(spark, tmp_path):
    """K1/K3 against a REAL PostgreSQL server over the minimal wire
    client (no driver jars in this container): bootstrap DDL
    idempotently, append a micro-batch transactionally from executors
    via foreachPartition, and read it back (postgres.go:46-136)."""
    import json
    import pytest as _pytest
    from pyspark.sql import Row
    from market_data_ingestor_go_spark.sources.connectors import (
        pg_bootstrap, pg_wire_append, pg_wire_available)
    from market_data_ingestor_go_spark.sources.pg_minimal import PGConnection

    booted = _boot_postgres(tmp_path)
    if booted is None:  # pragma: no cover - environment without PG
        _pytest.skip("PostgreSQL server binaries not available")
    port, stop = booted
    try:
        import time
        deadline = time.time() + 15
        while not pg_wire_available(port=port) and time.time() < deadline:
            time.sleep(0.5)
        assert pg_wire_available(port=port)

        pg_bootstrap("127.0.0.1", port)
        pg_bootstrap("127.0.0.1", port)  # K3: idempotent

        batch = spark.createDataFrame([
            Row(name="AAPL", timestamp=1000, exchange="usstock",
                data=json.dumps({"bid": 1.5})),
            Row(name="O'Neil&Co", timestamp=2000, exchange=None,
                data=None),
            Row(name="SKIP", timestamp=0, exchange="x", data=None),  # P2 guard
        ]).repartition(4)
        pg_wire_append(batch, "127.0.0.1", port)

        conn = PGConnection("127.0.0.1", port)
        try:
            _, rows = conn.query(
                "SELECT name, timestamp, exchange, data FROM market_data "
                "ORDER BY timestamp")
        finally:
            conn.close()
        assert [(r[0], r[1]) for r in rows] == [("AAPL", "1000"),
                                                ("O'Neil&Co", "2000")]
        assert json.loads(rows[0][3]) == {"bid": 1.5}   # JSONB round-trip
        assert rows[1][2] is None and rows[1][3] is None
    finally:
        stop()


def test_postgres_live_dim_read_auth(spark, tmp_path):
    """S3 live: api_keys dimension read over the wire client feeds the
    batched auth join (postgres.go:138-163)."""
    import hashlib
    import pytest as _pytest
    from market_data_ingestor_go_spark.operators.enrich import authenticate_many
    from market_data_ingestor_go_spark.sources.connectors import (
        pg_wire_available, read_pg_dim)
    from market_data_ingestor_go_spark.sources.pg_minimal import PGConnection

    booted = _boot_postgres(tmp_path)
    if booted is None:  # pragma: no cover
        _pytest.skip("PostgreSQL server binaries not available")
    port, stop = booted
    try:
        import time
        deadline = time.time() + 15
        while not pg_wire_available(port=port) and time.time() < deadline:
            time.sleep(0.5)
        conn = PGConnection("127.0.0.1", port)
        try:
            conn.query(
                "CREATE TABLE api_keys (client_id TEXT, key_hash TEXT, "
                "is_active BOOLEAN)")
            h1 = hashlib.sha256(b"k-good").hexdigest()
            h2 = hashlib.sha256(b"k-dead").hexdigest()
            conn.query("BEGIN; INSERT INTO api_keys VALUES "
                       f"('c1', '{h1}', TRUE), ('c2', '{h2}', FALSE); COMMIT;")
        finally:
            conn.close()

        dim = read_pg_dim(
            spark,
            "SELECT client_id, key_hash, is_active FROM api_keys",
            "client_id string, key_hash string, is_active boolean",
            port=port)
        assert dim.count() == 2
        got = {r["client_id"]
               for r in authenticate_many(dim, ["k-good", "k-dead", "k-?"])
               .collect()}
        assert got == {"c1"}  # inactive + unknown rejected
    finally:
        stop()


def test_redis_live_latest_sink_and_scan(spark):
    """K2/S5 against a live RESP server over real sockets
    (cache_service.go:37-61 pipelined SET PX + :67-93 SCAN read):
    executors write one pipeline per partition, the driver scans the
    cache back, zero-ts rows are skipped, and TTL evicts."""
    import json
    import time
    from pyspark.sql import Row
    from market_data_ingestor_go_spark.sources.connectors import (
        redis_wire_available, redis_wire_latest_sink, redis_wire_scan_latest)
    from market_data_ingestor_go_spark.sources.redis_minimal import (
        MiniRedisServer, RESPClient)

    server = MiniRedisServer().start()
    try:
        assert redis_wire_available(server.host, server.port)
        batch = spark.createDataFrame([
            Row(name="AAPL", timestamp=2000, exchange="usstock",
                data=json.dumps({"data": {"bid": 10.0}})),
            Row(name="BTCUSD", timestamp=1500, exchange="crypto", data=None),
            Row(name="SKIP", timestamp=0, exchange="x", data=None),  # P2
        ]).repartition(4)
        redis_wire_latest_sink(batch, server.host, server.port,
                               ttl_millis=60000)
        schema = "name string, timestamp long, exchange string, data string"
        out = {r["name"]: r for r in redis_wire_scan_latest(
            spark, schema, server.host, server.port).collect()}
        assert set(out) == {"AAPL", "BTCUSD"}  # zero-ts skipped
        assert out["AAPL"]["timestamp"] == 2000
        assert json.loads(out["AAPL"]["data"]) == {"data": {"bid": 10.0}}

        # TTL eviction: a short-PX key vanishes from SCAN/GET (EX ttl,
        # cache_service.go:45-52)
        client = RESPClient(server.host, server.port)
        try:
            client.set("EPHEMERAL", "v", px=80)
            assert client.get("EPHEMERAL") == "v"
            time.sleep(0.15)
            assert client.get("EPHEMERAL") is None
            assert "EPHEMERAL" not in client.scan_all()
            # last-write-wins overwrite, like the reference's blind SET
            client.set("AAPL", "newer")
            assert client.get("AAPL") == "newer"
        finally:
            client.close()
    finally:
        server.stop()


def test_ingest_pipeline_redis_mirror(spark, tmp_path):
    """E1 dual sink with the live Redis K2 mirror: the same micro-batch
    lands in parquet history AND the RESP cache (the reference's actual
    sink pair, processor.go + cache_service.go)."""
    import json
    from pyspark.sql import Row
    from market_data_ingestor_go_spark.streaming.pipeline import IngestPipeline
    from market_data_ingestor_go_spark.sources.connectors import (
        redis_wire_scan_latest)
    from market_data_ingestor_go_spark.sources.redis_minimal import MiniRedisServer

    server = MiniRedisServer().start()
    try:
        symbols_dim = spark.createDataFrame(
            [Row(name="AAPL", exchange="usstock")])
        batch = spark.createDataFrame([
            Row(name="AAPL", timestamp=2000, exchange=None,
                data=json.dumps({"data": {"bid": 10.0}})),
            Row(name="AAPL", timestamp=1000, exchange=None, data=None),
        ], schema="name string, timestamp long, exchange string, data string")
        pipe = IngestPipeline(spark, str(tmp_path / "out"), symbols_dim,
                              ttl_millis=1 << 60,
                              redis_latest=(server.host, server.port))
        from market_data_ingestor_go_spark.streaming.pipeline import (
            build_ingest_stream)
        pipe._write_batch(build_ingest_stream(batch, symbols_dim), 0)
        # parquet latest and the live cache agree on latest-per-key
        parquet_latest = {r["name"]: r["timestamp"]
                          for r in pipe.latest_snapshot().collect()}
        cache = {r["name"]: r["timestamp"] for r in redis_wire_scan_latest(
            spark, "name string, timestamp long",
            server.host, server.port).collect()}
        assert parquet_latest == cache == {"AAPL": 2000}
    finally:
        server.stop()


def test_materialized_ann_index(spark):
    """The LSH index as a bucketed table: identical results to the
    on-the-fly ANN, and the probe join reads the corpus side with NO
    Exchange (the index paid the shuffle once at build time)."""
    from market_data_ingestor_go_spark.operators.similarity import (
        build_hyperplane_index, hyperplane_ann_from_index,
        random_hyperplane_ann)
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter("vec_id < 10")
    build_hyperplane_index(emb, "ann_idx")
    try:
        live = {(r["q_id"], r["n_id"], r["rn"]) for r in
                random_hyperplane_ann(emb, q, k=5).collect()}
        from_idx_df = hyperplane_ann_from_index(spark, "ann_idx", q, k=5)
        from_idx = {(r["q_id"], r["n_id"], r["rn"])
                    for r in from_idx_df.collect()}
        assert from_idx == live  # same planes/probes/ranking
        plan = _plan(from_idx_df)
        # the index scan feeds the probe join without re-shuffling:
        # only the top-k windows may exchange, never the corpus scan
        before_join = plan.split("BroadcastHashJoin")[-1]
        assert "Exchange hashpartitioning(bucket" not in before_join, plan
        assert "SelectedBucketsCount" in plan, plan  # bucket pruning active
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_idx")


def test_ingest_pipeline_pg_mirror(spark, tmp_path):
    """E1 with the live PG history mirror: the same micro-batch lands
    in parquet history AND the market_data table over the wire client;
    a dead database is counted, not fatal (processor.go:99-101 drop)."""
    import json
    import time
    import pytest as _pytest
    from pyspark.sql import Row
    from market_data_ingestor_go_spark.sources.connectors import (
        pg_bootstrap, pg_wire_available)
    from market_data_ingestor_go_spark.sources.pg_minimal import PGConnection
    from market_data_ingestor_go_spark.streaming.pipeline import (
        IngestPipeline, build_ingest_stream)

    booted = _boot_postgres(tmp_path)
    if booted is None:  # pragma: no cover
        _pytest.skip("PostgreSQL server binaries not available")
    port, stop = booted
    try:
        deadline = time.time() + 15
        while not pg_wire_available(port=port) and time.time() < deadline:
            time.sleep(0.5)
        pg_bootstrap("127.0.0.1", port)
        symbols_dim = spark.createDataFrame(
            [Row(name="AAPL", exchange="usstock")])
        batch = spark.createDataFrame(
            [Row(name="AAPL", timestamp=2000, exchange=None,
                 data=json.dumps({"data": {"bid": 1.0}}))],
            schema="name string, timestamp long, exchange string, data string")
        pipe = IngestPipeline(spark, str(tmp_path / "out"), symbols_dim,
                              ttl_millis=1 << 60,
                              pg_history=("127.0.0.1", port))
        pipe._write_batch(build_ingest_stream(batch, symbols_dim), 0)
        conn = PGConnection("127.0.0.1", port)
        try:
            _, rows = conn.query(
                "SELECT name, timestamp FROM market_data")
        finally:
            conn.close()
        assert rows == [("AAPL", "2000")]
        assert pipe.history().count() == 1 and pipe.pg_failures == 0

        # dead database → counted drop, epoch still succeeds
        pipe2 = IngestPipeline(spark, str(tmp_path / "out2"), symbols_dim,
                               ttl_millis=1 << 60,
                               pg_history=("127.0.0.1", 1))
        pipe2._write_batch(build_ingest_stream(batch, symbols_dim), 0)
        assert pipe2.pg_failures == 1
        assert pipe2.history().count() == 1
    finally:
        stop()


def test_run_app_full_reference_stack_live(spark, tmp_path):
    """The COMPLETE reference deployment in one run_app call, every
    external live: WS feed, PostgreSQL 15 (v3 wire), RESP cache, WS
    broadcast, /metrics. One config dict — the switch-over story."""
    import hashlib
    import json
    import threading
    import time
    import urllib.request
    import pytest as _pytest
    from pyspark.sql import Row
    from market_data_ingestor_go_spark.app import load_config, run_app
    from market_data_ingestor_go_spark.sources.pg_minimal import PGConnection
    from market_data_ingestor_go_spark.sources.redis_minimal import (
        MiniRedisServer)
    from market_data_ingestor_go_spark.streaming.ws_minimal import (
        WSServer, connect)

    booted = _boot_postgres(tmp_path)
    if booted is None:  # pragma: no cover
        _pytest.skip("PostgreSQL server binaries not available")
    pg_port, stop_pg = booted

    stop_feed = threading.Event()

    def on_connect(conn):
        conn.recv(timeout=5.0)
        i = 0
        try:
            while not stop_feed.is_set() and i < 200:
                conn.send(json.dumps({
                    "name": "USDSGD", "timestamp": int(time.time() * 1000),
                    "exchange": None, "data": {"data": {"bid": 1.3 + i * 1e-4}}}))
                i += 1
                time.sleep(0.05)
        except Exception:
            pass

    feed = WSServer(on_connect=on_connect).start()
    cache = MiniRedisServer().start()
    handle = None
    try:
        from market_data_ingestor_go_spark.sources.connectors import (
            pg_wire_available)
        deadline = time.time() + 15
        while not pg_wire_available(port=pg_port) and time.time() < deadline:
            time.sleep(0.5)
        cfg = load_config(env={
            "WS_URL": feed.url, "WS_API_KEY": "feed-key",
            "DATABASE_URL": f"postgres://app@127.0.0.1:{pg_port}/postgres",
            "REDIS_ADDR": f"{cache.host}:{cache.port}",
            "FLUSH_INTERVAL": "1s", "SUBSCRIPTION_SYMBOLS": "USDSGD",
        }, dotenv_path=str(tmp_path / "no"))
        symbols_dim = spark.createDataFrame(
            [Row(name="USDSGD", exchange="forex")])
        api_keys = spark.createDataFrame(
            [Row(client_id="c1", key_hash=hashlib.sha256(b"k1").hexdigest(),
                 is_active=True, last_used_at=None)],
            schema="client_id string, key_hash string, is_active boolean,"
                   " last_used_at timestamp")
        handle = run_app(spark, cfg, str(tmp_path / "app"), symbols_dim,
                         api_keys=api_keys)

        # wait for the first latest snapshot, then subscribe
        import os
        deadline = time.time() + 30
        while (not os.path.exists(
                str(tmp_path / "app" / "latest" / "_SUCCESS"))
                and time.time() < deadline):
            time.sleep(0.5)
        c1 = connect(handle.publisher.url, headers={"x-api-key": "k1"})
        msg = json.loads(c1.recv(timeout=20.0))
        assert msg["symbol"] == "USDSGD" and msg["exchange"] == "forex"
        c1.close()

        # PG history mirror has rows (live transactional INSERTs)
        deadline = time.time() + 20
        n_pg = 0
        while n_pg == 0 and time.time() < deadline:
            conn = PGConnection("127.0.0.1", pg_port)
            try:
                _, rows = conn.query("SELECT COUNT(*) FROM market_data")
                n_pg = int(rows[0][0])
            finally:
                conn.close()
            time.sleep(0.5)
        assert n_pg > 0

        # RESP cache mirror holds the latest value
        from market_data_ingestor_go_spark.sources.redis_minimal import (
            RESPClient)
        rc = RESPClient(cache.host, cache.port)
        assert rc.scan_all() == ["USDSGD"]
        rc.close()

        # /metrics exports ingest counters + dropped-write gauges
        metrics = urllib.request.urlopen(
            handle.metrics_server.url + "/metrics", timeout=5).read()
        assert b"ingest_pg_dropped_batches 0" in metrics
        assert b"ingest_redis_dropped_writes 0" in metrics
    finally:
        stop_feed.set()
        feed.stop()
        if handle is not None:
            handle.stop()
        cache.stop()
        stop_pg()


def test_resp_parser_chunking_invariance():
    """Property: RESP replies parse identically under any slicing of
    the byte stream into recv() chunks (mirrors the WS parser fuzz)."""
    from hypothesis import given, settings, strategies as st
    from market_data_ingestor_go_spark.sources.redis_minimal import (
        MiniRedisServer, _RESPStream)

    class _FakeSock:
        def __init__(self, chunks):
            self._chunks = list(chunks)
        def recv(self, n):
            if not self._chunks:
                raise AssertionError("parser over-read")
            return self._chunks.pop(0)

    @settings(max_examples=100, deadline=None)
    @given(
        values=st.lists(st.one_of(
            st.none(),
            st.integers(min_value=-2**40, max_value=2**40),
            st.text(max_size=60),
            st.lists(st.text(max_size=10), max_size=4)),
            min_size=1, max_size=5),
        seed=st.randoms(use_true_random=False),
    )
    def prop(values, seed):
        def enc(v):
            if v is None:
                return b"$-1\r\n"
            if isinstance(v, int):
                return b":%d\r\n" % v
            if isinstance(v, str):
                d = v.encode()
                return b"$%d\r\n%s\r\n" % (len(d), d)
            return b"*%d\r\n" % len(v) + b"".join(enc(x) for x in v)
        stream_bytes = b"".join(enc(v) for v in values)
        chunks, i = [], 0
        while i < len(stream_bytes):
            step = seed.randint(1, 5)
            chunks.append(stream_bytes[i:i + step])
            i += step
        stream = _RESPStream(_FakeSock(chunks))
        got = [stream.read_reply() for _ in values]
        assert got == values

    prop()


def test_filtered_ann_from_index(spark):
    """Filtered vector search at index speed: a metadata predicate
    over the index's passthrough columns applies inside the index
    scan (composing with bucket pruning), results only ever come from
    the filtered subset, k stays filled from that subset, and recall
    vs the exact filtered ground truth (knn_bruteforce over the
    filtered corpus) holds its measured deterministic value (0.88) at
    multiprobe 4 — filtered queries need wider probing because the
    predicate thins every bucket (selectivity ~10% here): recall was
    0.54/0.78/0.88 at multiprobe 2/3/4."""
    from pyspark.sql import functions as F
    from market_data_ingestor_go_spark.operators.similarity import (
        build_hyperplane_index, hyperplane_ann_from_index, knn_bruteforce)
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter("vec_id < 10")
    build_hyperplane_index(emb, "ann_idx_f", meta_cols=("label",))
    try:
        got_df = hyperplane_ann_from_index(
            spark, "ann_idx_f", q, k=5, multiprobe=4,
            corpus_filter=F.col("label") == 1)
        got = {(r["q_id"], r["n_id"]) for r in got_df.collect()}

        labels = {r.vec_id: r.label for r in
                  emb.select("vec_id", "label").collect()}
        assert got and all(labels[n] == 1 for _, n in got)

        truth = {(r["q_id"], r["n_id"]) for r in knn_bruteforce(
            emb.filter("label = 1"), q, k=5).collect()}
        recall = len(got & truth) / len(truth)
        assert recall >= 0.85, recall  # measured 0.88, deterministic

        plan = _plan(got_df)
        assert "SelectedBucketsCount" in plan, plan
        before_join = plan.split("BroadcastHashJoin")[-1]
        assert "Exchange hashpartitioning(bucket" not in before_join, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_idx_f")
