"""A2 observability tests: observed metrics through a real streaming
query with the listener attached, and gauge sources read at render
time."""

from __future__ import annotations

import json
import logging
import time

from pyspark.sql import Row, functions as F

from market_data_ingestor_go_spark.functions.market import validate
from market_data_ingestor_go_spark.streaming.endpoints import MetricsServer
from market_data_ingestor_go_spark.streaming.observability import (
    MetricsListener, MetricsRegistry)
from market_data_ingestor_go_spark.streaming.pipeline import decode_raw_frames


def test_listener_collects_observed_metrics(spark, tmp_path):
    """A2 + X9: the ingest decode's observed metrics flow listener →
    registry → the /metrics HTTP endpoint, scraped while the query is
    live (main.go:47-59). Raw wire frames run through the pipeline's
    own ``decode_raw_frames`` + ``validate``: one malformed frame is
    an unmarshal error, one empty-name frame a validation drop."""
    from urllib.request import urlopen

    src = str(tmp_path / "src")
    import os
    os.makedirs(src)
    with open(src + "/a.txt", "w") as fh:
        for i in range(5):
            fh.write(json.dumps({"name": "AAPL" if i < 4 else "",
                                 "timestamp": i + 1}) + "\n")
        fh.write('{"name": "AAPL", "timestamp": \n')  # malformed frame

    registry = MetricsRegistry()
    listener = MetricsListener(registry)
    spark.streams.addListener(listener)
    server = MetricsServer(registry).start()
    try:
        validated = validate(decode_raw_frames(spark.readStream.text(src))) \
            .observe("processed", F.count(F.lit(1)).alias("messages_processed"))
        q = (validated.writeStream.format("noop")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .start())
        q.processAllAvailable()
        # listener events are async — poll before stopping the query
        deadline = time.time() + 10
        while time.time() < deadline and "processed.messages_processed" not in registry.counters:
            time.sleep(0.2)

        # scrape while the query is still running
        health = json.loads(urlopen(server.url + "/health", timeout=5).read())
        assert health == {"status": "ok"}
        metrics = urlopen(server.url + "/metrics", timeout=5).read().decode()
        q.stop()
    finally:
        server.stop()
        spark.streams.removeListener(listener)

    assert registry.counters.get("batch_inserts", 0) >= 1
    assert registry.counters.get("decode.frames_received") == 6
    assert registry.counters.get("decode.errors_unmarshal") == 1
    assert registry.counters.get("processed.messages_processed") == 4
    assert "decode_frames_received 6" in metrics
    assert "decode_errors_unmarshal 1" in metrics
    assert "processed_messages_processed 4" in metrics
    assert "# TYPE batch_inserts counter" in metrics
    assert "last_batch_id" in metrics


def test_raising_gauge_source_is_logged_and_metrics_still_render(caplog):
    """A gauge source that raises is logged with its cause; the other
    sources' gauges still render on /metrics."""
    from market_data_ingestor_go_spark.streaming import observability
    from market_data_ingestor_go_spark.streaming.endpoints import (
        render_prometheus)

    def broken():
        raise RuntimeError("gauge backend gone")

    reg = MetricsRegistry()
    reg.bump("batch_inserts", 2)
    reg.gauge_sources += [broken, lambda: {"serve_ticks": 7}]
    with caplog.at_level(logging.WARNING, logger=observability.__name__):
        text = render_prometheus(reg)
    assert "batch_inserts 2" in text and "serve_ticks 7" in text
    logged = [r for r in caplog.records if r.exc_info]
    assert len(logged) == 1
    assert "gauge backend gone" in str(logged[0].exc_info[1])


def test_unmarshal_error_counter(spark, tmp_path):
    """ErrorsTotal{type=unmarshal} (ingestor.go:105-110): undecodable
    frames drop AND count, observed on the executed ingest lineage."""
    import os
    from pyspark.sql import Row
    from market_data_ingestor_go_spark.streaming.pipeline import IngestPipeline

    src = str(tmp_path / "wire")
    os.makedirs(src)
    good = {"name": "AAPL", "timestamp": int(time.time() * 1000),
            "exchange": None, "data": {"data": {"bid": 1.0}}}
    with open(src + "/a.json", "w") as fh:
        fh.write(json.dumps(good) + "\n")
        fh.write("not json at all {{{\n")
        fh.write("}} also broken\n")

    registry = MetricsRegistry()
    listener = MetricsListener(registry)
    spark.streams.addListener(listener)
    try:
        symbols = spark.createDataFrame([Row(name="AAPL", exchange="usstock")])
        raw = spark.readStream.schema("value STRING").text(src)
        pipe = IngestPipeline(spark, str(tmp_path / "out"), symbols)
        q = pipe.start(raw)
        q.processAllAvailable()
        q.stop()
        deadline = time.time() + 10
        while time.time() < deadline and "decode.errors_unmarshal" not in registry.counters:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert registry.counters.get("decode.frames_received") == 3
    assert registry.counters.get("decode.errors_unmarshal") == 2


def test_publisher_ticker_loop(spark, tmp_path):
    """K4 ticker (server.go:88): the publisher's interval loop drives
    ticks without manual calls; a live client receives snapshots."""
    import hashlib
    from pyspark.sql import Row
    from market_data_ingestor_go_spark.streaming.publisher import ServePublisher
    from market_data_ingestor_go_spark.streaming import ws_minimal as wm

    spark.createDataFrame([
        Row(name="AAPL", timestamp=1, exchange="x",
            data=json.dumps({"data": {"bid": 1.0}}))]) \
        .write.mode("overwrite").parquet(str(tmp_path / "latest"))
    configs = spark.createDataFrame(
        [Row(id="c1", config=None)], schema="id string, config string")
    keys = spark.createDataFrame([
        Row(client_id="c1", key_hash=hashlib.sha256(b"k1").hexdigest(),
            is_active=True)])
    pub = ServePublisher(spark, keys, configs).start(
        latest_provider=lambda: spark.read.parquet(str(tmp_path / "latest")),
        interval_s=0.5)
    try:
        client = wm.connect(pub.url, headers={"x-api-key": "k1"})
        msgs = []
        # 45 s, not 20: each tick's Spark job can take several seconds
        # under co-tenant load (observed: 1 delivery in 20 s at
        # loadavg ≈ 3.4, then green alone) — the assertions below are
        # unchanged, the deadline just outlasts host noise
        deadline = time.time() + 45
        while len(msgs) < 2 and time.time() < deadline:
            try:
                msgs.append(json.loads(client.recv(timeout=2.0)))
            except TimeoutError:
                continue
        # tick() bumps its counters after its send loop, so the client
        # can hold a tick's frame before that tick is counted
        while (pub.ticks < 2 or pub.records_sent < 2) and time.time() < deadline:
            time.sleep(0.05)
        assert len(msgs) >= 2  # at least two tick deliveries
        assert all(m["symbol"] == "AAPL" for m in msgs)
        assert pub.ticks >= 2 and pub.records_sent >= 2
        client.close()
    finally:
        pub.stop()
