"""Streaming sources — S1, the WebSocket ingest source.

The reference dials a market-data WS URL with an x-api-key header,
sends a subscribe message, reads frames forever, and reconnects with
exponential backoff 1 s → 30 s (ingestor.go:31-127). Spark 4's Python
streaming DataSource API (pyspark.sql.datasource) lets us express that
as a first-class ``spark.readStream.format("ws_market_data")`` source.

The network read prefers the ``websockets`` package and falls back to
the stdlib RFC 6455 client in streaming/ws_minimal.py, so the source
runs live even in this container (tests drive it against a local
WSServer; the ``prefetched_frames`` hook still injects frames for
pure-contract tests). A WS feed has no replay, so the source offers
at-least-once from the connection buffer (documented; the reference
is at-most-once, ingestor.go/processor.go).

The source yields each frame's raw text as one ``value STRING`` row,
the same shape as a file source (``spark.readStream.text``; tests,
backfill), so streaming/pipeline.py::decode_raw_frames is the only
parser and counts malformed frames from either source.
"""

from __future__ import annotations

import json
import logging

try:
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )
    _HAS_DS_API = True
except ImportError:  # pragma: no cover - older pyspark
    DataSource = object
    SimpleDataSourceStreamReader = object
    _HAS_DS_API = False

log = logging.getLogger(__name__)

RECONNECT_INITIAL_S = 1.0   # ingestor.go:37
RECONNECT_CAP_S = 30.0      # ingestor.go:52-56


class WebSocketStreamReader(SimpleDataSourceStreamReader):
    """Stream reader over a WS connection buffer, driver-side.

    A WS feed is a push source with no seekable log, so the connection
    (and its buffer — the 10k-message channel, main.go:61) must live in
    one long-lived process. That is exactly the
    ``SimpleDataSourceStreamReader`` contract: ``read`` runs in the
    driver-side source runner and Spark persists each batch's rows to
    the checkpoint WAL for replay — a partition-based reader would
    re-instantiate on executors and never see this buffer.

    Offset = count of frames handed to Spark since the source started.
    The buffer keeps un-committed frames only: ``commit`` trims it and
    advances ``_base`` (the absolute offset of ``_buffer[0]``), so
    ``readBetweenOffsets`` can replay any in-flight range after a
    restart while memory stays bounded by maxFramesPerTrigger plus the
    uncommitted window.
    """

    def __init__(self, options):
        self.url = options.get("url", "")
        self.api_key = options.get("api_key", "")
        self.symbols = json.loads(options.get("symbols", "[]"))
        self.max_per_trigger = int(options.get("maxFramesPerTrigger", "10000"))
        self.poll_budget_secs = float(options.get("pollBudgetSecs", "1.0"))
        self._buffer: list[tuple] = []
        self._base = 0       # absolute offset of _buffer[0]
        self._served = 0     # absolute offset served to Spark so far
        self._ws = None
        self.reconnects = 0  # observability: reconnect cycles survived

    def initialOffset(self) -> dict:
        return {"count": 0}

    def _connect(self):
        """Dial + subscribe handshake (ingestor.go:63-77). Prefers the
        ``websockets`` package; falls back to the stdlib RFC 6455
        client in streaming/ws_minimal.py (same send/recv surface)."""
        try:
            import websockets.sync.client as ws_client
            conn = ws_client.connect(
                self.url, additional_headers={"x-api-key": self.api_key})
        except ImportError:
            from .ws_minimal import connect as ws_connect
            conn = ws_connect(self.url, headers={"x-api-key": self.api_key})
        conn.send(json.dumps({"event": "subscribe", "symbols": self.symbols}))
        return conn

    def prefetched_frames(self, frames: list[str]) -> None:
        """Test hook: enqueue raw frame texts as if read off the wire."""
        self._buffer.extend((f,) for f in frames)

    def _poll(self):
        """Drain the connection into the buffer for up to
        ``pollBudgetSecs`` per trigger. An idle-but-live connection
        (recv timeout) ends the poll — it is NOT a disconnect; a
        dropped connection reconnects with 1 s → 30 s exponential
        backoff (ingestor.go:52-56), bounded by the poll budget so a
        down feed never wedges ``latestOffset``."""
        import time
        backoff = RECONNECT_INITIAL_S
        deadline = time.monotonic() + self.poll_budget_secs
        while (self._base + len(self._buffer) - self._served < self.max_per_trigger
               and time.monotonic() < deadline):
            try:
                if self._ws is None:
                    self._ws = self._connect()
                    backoff = RECONNECT_INITIAL_S
                raw = self._ws.recv(timeout=0.05)
            except NotImplementedError:
                raise
            except TimeoutError:
                break  # idle connection — serve what we have
            except Exception:
                log.warning("WS source %s: connection lost, reconnecting",
                            self.url, exc_info=True)
                try:
                    if self._ws is not None:
                        self._ws.close()
                except Exception:
                    pass
                self._ws = None
                self.reconnects += 1
                time.sleep(min(backoff, max(0.0, deadline - time.monotonic())))
                backoff = min(backoff * 2, RECONNECT_CAP_S)  # ingestor.go:52-56
                continue
            # raw text: decode_raw_frames parses it and drops + counts
            # unmarshal errors (ingestor.go:105-110)
            self._buffer.append((raw,))

    def _slice(self, start: int, end: int) -> list[tuple]:
        lo = max(0, start - self._base)
        hi = max(0, end - self._base)
        return self._buffer[lo:hi]

    def read(self, start: dict):
        """One trigger: poll the wire, hand Spark [start, latest)."""
        if self._ws is not None or self.url:
            try:
                self._poll()
            except NotImplementedError:
                pass
        end = {"count": self._base + len(self._buffer)}
        self._served = end["count"]
        return iter(self._slice(start["count"], end["count"])), end

    def readBetweenOffsets(self, start: dict, end: dict):
        """Replay an in-flight (uncommitted) range — ONLY while the
        buffer still covers it. A restarted process has a fresh reader
        (empty buffer, _base=0): a WS feed has no seekable log, so a
        replay request it can't serve is DATA LOSS and must fail the
        batch loudly instead of completing with zero rows (the silent
        empty iterator claimed exactly-once while dropping the range)."""
        lo, hi = start["count"], end["count"]
        have_lo, have_hi = self._base, self._base + len(self._buffer)
        if lo < have_lo or hi > have_hi:
            raise RuntimeError(
                f"ws source cannot replay offsets [{lo}, {hi}): buffer covers "
                f"[{have_lo}, {have_hi}). A restarted process starts with an "
                "empty buffer — the planned-but-uncommitted range is lost "
                "(at-least-once holds only within one source process).")
        return iter(self._slice(lo, hi))

    def commit(self, end: dict) -> None:
        """Trim frames at offsets below ``end`` — they are in the
        checkpoint WAL now and will never be asked for again."""
        drop = max(0, end["count"] - self._base)
        if drop:
            del self._buffer[:drop]
            self._base += drop


class WebSocketDataSource(DataSource):
    """spark.readStream.format("ws_market_data").options(url=..., api_key=...)"""

    @classmethod
    def name(cls) -> str:
        return "ws_market_data"

    def schema(self):
        return "value STRING"

    def simpleStreamReader(self, schema):
        return WebSocketStreamReader(self.options)


def register(spark) -> bool:
    """Register the WS source if this Spark build has the Python
    DataSource API; returns False (no-op) otherwise."""
    if not _HAS_DS_API:
        return False
    spark.dataSource.register(WebSocketDataSource)
    return True
