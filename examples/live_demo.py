#!/usr/bin/env python
"""End-to-end live demo of the full reference stack, self-contained.

Wires every moving part the reference runs in production
(main.go:22-87), entirely on this machine:

  feed (WS server replaying synthetic ticks)
    → spark.readStream.format("ws_market_data")     [S1  ingest source]
    → validate → enrich → effectively-once dedup    [P1/P9]
    → dual sink + LIVE Redis cache mirror (RESP)    [K1/K2]
    → latest-state parquet table                    [A1]
    → ServePublisher 1 s ticker + K5 audit touch    [E2/K4/K5 broadcast]
    → two WS clients with different configs         [S3/S4, §2.8]

Run:  python examples/live_demo.py  (takes ~30 s, prints what each
client receives — the same snapshot, transformed per client config).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Row  # noqa: E402

from market_data_ingestor_go_spark.session import get_spark  # noqa: E402
from market_data_ingestor_go_spark.streaming import sources as ws_sources  # noqa: E402
from market_data_ingestor_go_spark.streaming.pipeline import IngestPipeline  # noqa: E402
from market_data_ingestor_go_spark.streaming.publisher import ServePublisher  # noqa: E402
from market_data_ingestor_go_spark.sources.redis_minimal import (  # noqa: E402
    MiniRedisServer, RESPClient)
from market_data_ingestor_go_spark.streaming.ws_minimal import WSServer, connect  # noqa: E402


def tick_feed(stop: threading.Event):
    """A WS server that replays synthetic market ticks (the exchange)."""
    symbols = ["AAPL", "MSFT", "BTCUSD"]

    def on_connect(conn):
        conn.recv(timeout=5.0)  # subscribe handshake
        i = 0
        try:
            while not stop.is_set():
                sym = symbols[i % len(symbols)]
                conn.send(json.dumps({
                    "name": sym, "timestamp": int(time.time() * 1000),
                    "exchange": None,
                    "data": {"data": {"bid": 100.0 + i, "ask": 100.5 + i}}}))
                i += 1
                time.sleep(0.05)
        except Exception:
            pass

    return WSServer(on_connect=on_connect).start()


def main() -> None:
    out = tempfile.mkdtemp(prefix="mdi_demo_")
    spark = get_spark("live_demo", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    stop = threading.Event()
    feed = tick_feed(stop)
    print(f"feed up at {feed.url}")

    symbols_dim = spark.createDataFrame([
        Row(name="AAPL", exchange="usstock"),
        Row(name="MSFT", exchange="usstock"),
        Row(name="BTCUSD", exchange="crypto")])

    cache = MiniRedisServer().start()  # stands in for Redis (RESP wire)
    print(f"cache (RESP) up at {cache.host}:{cache.port}")

    ws_sources.register(spark)
    raw = (spark.readStream.format("ws_market_data")
           .option("url", feed.url)
           .option("symbols", json.dumps(["AAPL", "MSFT", "BTCUSD"]))
           .option("pollBudgetSecs", "1.0")
           .load())
    pipe = IngestPipeline(spark, out, symbols_dim, trigger_seconds=2,
                          dedup_horizon="10 minutes",
                          redis_latest=(cache.host, cache.port))
    query = pipe.start(raw)
    print("ingest running (2 s micro-batches) →", out)

    # wait for the first latest-state snapshot to land
    while not os.path.exists(os.path.join(pipe.latest_path, "_SUCCESS")):
        time.sleep(0.5)

    configs = spark.createDataFrame([
        Row(id="trader", config=json.dumps({"symbols": {"AAPL": {
            "value_rules": {"bid": {"op": "multiply", "value": 2}},
            "remove_fields": ["ask"]}}})),
        Row(id="viewer", config=None)])
    keys = spark.createDataFrame(
        [Row(client_id="trader",
             key_hash=hashlib.sha256(b"trader-key").hexdigest(),
             is_active=True, last_used_at=None),
         Row(client_id="viewer",
             key_hash=hashlib.sha256(b"viewer-key").hexdigest(),
             is_active=True, last_used_at=None)],
        schema="client_id string, key_hash string, is_active boolean, "
               "last_used_at timestamp")

    audited: dict = {}  # K5: fire-and-forget last_used_at touches

    def audit_sink(df):
        audited.update({r["client_id"]: r["last_used_at"]
                        for r in df.collect() if r["last_used_at"]})

    pub = ServePublisher(spark, keys, configs, audit_sink=audit_sink).start(
        latest_provider=pipe.latest_snapshot, interval_s=1.0)
    print(f"broadcast server at {pub.url} (1 s ticks)")

    trader = connect(pub.url, headers={"x-api-key": "trader-key"})
    viewer = connect(pub.url, headers={"x-api-key": "viewer-key"})
    got = {"trader": [], "viewer": []}
    deadline = time.time() + 15
    while time.time() < deadline and (len(got["trader"]) < 3 or len(got["viewer"]) < 3):
        for name, conn in (("trader", trader), ("viewer", viewer)):
            try:
                got[name].append(json.loads(conn.recv(timeout=1.0)))
            except TimeoutError:
                pass
    for name in ("trader", "viewer"):
        print(f"\n{name} received {len(got[name])} messages; last AAPL view:")
        aapl = [m for m in got[name] if m["symbol"] == "AAPL"]
        print("  ", aapl[-1] if aapl else "(none yet)")

    client = RESPClient(cache.host, cache.port)
    cached = sorted(client.scan_all())
    client.close()
    print("\nlive Redis cache holds:", cached)
    # the audit touch is fire-and-forget off the tick thread — give the
    # in-flight one a moment to land before reporting
    audit_deadline = time.time() + 10
    while not audited and time.time() < audit_deadline:
        time.sleep(0.2)
    print("K5 audit touched:", sorted(audited))

    # orderly shutdown: silence the feed first so no new batch starts,
    # stop the stream and WAIT for it before tearing down the session
    # (stopping Spark mid-batch spews scheduler/worker errors)
    stop.set()
    feed.stop()
    pub.stop()
    query.stop()
    try:
        query.awaitTermination(15)
    except Exception:
        pass
    cache.stop()
    spark.stop()
    print("\ndemo complete — history at", pipe.history_path)


if __name__ == "__main__":
    main()
