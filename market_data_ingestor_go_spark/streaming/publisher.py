"""K4 — the live WebSocket broadcast sink (server.go:43-130).

The reference runs a WS server: clients connect with an x-api-key
header, the server authenticates the key and loads the client's
transform config once, at connect time (server.go:63-69), and a 1 s
ticker snapshots the cache and writes every record to every connection
through its per-client transform (server.go:88-130).

Engine realization: ``ServePublisher`` wraps the stdlib WS server
(streaming/ws_minimal.py — production swaps in the ``websockets``
package) and registers connections with their presented key. Each tick:

1. admits the connections registered since the last tick, if any: ONE
   batched auth lookup for all of them (``serve.resolve_connections``),
   ONE filtered collect of their config rows (``serve.fetch_configs``),
   and each config text not seen before compiled once
   (``serve.compile_wire_view``). Departed connections are forgotten;
2. builds the tick's plan over the snapshot it was handed — one
   flattened scan, one ``inline`` of every live view's compiled struct
   (``serve.distinct_wire_views``) — and collects it in ONE Spark job;
3. fans the pre-serialized JSON rows out over the sockets.

A steady tick (no new connection) is therefore one snapshot read and
one job. Nothing is cached on the snapshot: each tick reads and
serves whatever the latest table holds then.

Connect-time semantics, as in the reference: a key revoked or a config
edited after a connection was admitted takes effect when the client
reconnects; a rejected connection stays rejected (it receives nothing
and is not re-checked) until it reconnects.

Scale posture: tick cost is one job over ~|symbols| × |distinct
configs| rows regardless of connection count; the per-connection work
is a socket write of already-serialized bytes. The reference's own
loop is O(connections × symbols) marshalling per tick — this is the
sharing it couldn't do.

Delivery is best-effort per tick, matching the reference: a dead
connection is dropped on write failure (server.go:82-87), and a
client that connects mid-tick starts receiving on the next tick.
The ticker runs at a fixed rate like Go's ``time.Ticker``: a tick
whose slot passed while the previous tick ran is skipped and counted,
not queued.
"""

from __future__ import annotations

import itertools
import logging
import threading
import time

from pyspark.sql import DataFrame, SparkSession

from ..operators.enrich import _sha256_hex, audit_key_usage_inline
from .serve import (compile_wire_view, distinct_wire_views, fetch_configs,
                    resolve_connections, view_key)
from .ws_minimal import ConnectionClosed, FrameTooLarge, WSServer

log = logging.getLogger(__name__)

# Reference read-pump limits (server.go:161-165): 512 B client frames,
# 60 s idle deadline, pong extends. Pings go out well inside the
# deadline so a live-but-quiet client keeps extending it.
READ_LIMIT_BYTES = 512
IDLE_DEADLINE_S = 60.0
PING_INTERVAL_S = 20.0


class ServePublisher:
    """Auth-gated per-client broadcast over live WS connections.

    Auth and config are connect-time facts, as in the reference
    (server.go:63-69). The first tick after a connection registers
    authenticates it and fetches its config; later ticks reuse both.
    So a key revoked after connect, or a config edited after connect,
    takes effect when the client reconnects. A rejected connection is
    remembered as rejected: it receives nothing and its key is not
    looked up again. Departed connection ids are forgotten, along with
    any compiled view no live connection uses.

    The caches hold only those connect-time facts — {conn_id → view
    key, or rejected} and {view key (the config text's md5) → compiled
    view}. Nothing is keyed on the snapshot: every tick serves what
    the latest table holds at that tick."""

    def __init__(self, spark: SparkSession, api_keys: DataFrame,
                 configs_df: DataFrame, host: str = "127.0.0.1",
                 port: int = 0, audit_sink=None,
                 read_limit_bytes: int = READ_LIMIT_BYTES,
                 idle_deadline_s: float = IDLE_DEADLINE_S,
                 ping_interval_s: float = PING_INTERVAL_S):
        self.spark = spark
        self.api_keys = api_keys
        self.configs_df = configs_df
        # K5: optional fire-and-forget sink for the last_used_at touch —
        # called with the audited api_keys DataFrame off the tick thread
        self.audit_sink = audit_sink
        self.read_limit_bytes = read_limit_bytes
        self.idle_deadline_s = idle_deadline_s
        self.ping_interval_s = ping_interval_s
        self._conns: dict[str, tuple] = {}  # conn_id -> (WSConnection, key)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        # connect-time facts, touched only by the tick thread
        self._admitted: dict[str, str | None] = {}
        self._views: dict = {}              # view key -> serve.WireView
        self._audit_pending: set[str] = set()
        self._ticker: threading.Thread | None = None
        self._stopping = threading.Event()
        self._audit_busy = threading.Event()
        self.ticks = 0          # observability
        self.records_sent = 0
        self.evictions = 0      # idle/oversize drops (read pump)
        self.ticks_overrun = 0  # ticker slots skipped: the tick ran long
        self.tick_errors = 0    # ticks that raised
        self.ticks_no_data = 0  # ticks skipped: no latest table yet
        self.audit_failures = 0  # failed last_used_at touches
        self.server = WSServer(host, port, on_connect=self._on_connect,
                               max_frame_bytes=read_limit_bytes)

    # -- connection registry + read pump (server.go:43-61, 161-178) ---

    def _on_connect(self, conn) -> None:
        key = conn.headers.get("x-api-key", "")
        conn_id = f"conn-{next(self._ids)}"
        with self._lock:
            self._conns[conn_id] = (conn, key)
        # Broadcast-only server: drain (and ignore) client frames so
        # ping/close are serviced; deregister when the peer goes away.
        # The pump enforces the reference's read limits: an oversized
        # frame closes the connection (FrameTooLarge ⊂ ConnectionClosed,
        # SetReadLimit semantics), and a client silent past the idle
        # deadline is evicted — pings go out every ping_interval_s and
        # any frame (pong included) extends the deadline.
        last_ping = time.monotonic()
        try:
            while not self._stopping.is_set():
                try:
                    conn.recv(timeout=1.0)
                except TimeoutError:
                    now = time.monotonic()
                    if now - conn.last_activity > self.idle_deadline_s:
                        self.evictions += 1
                        break
                    if now - last_ping >= self.ping_interval_s:
                        try:
                            conn.ping()
                        except OSError:
                            break
                        last_ping = now
                    continue
        except FrameTooLarge:
            self.evictions += 1  # read-limit drop counts as an eviction
        except ConnectionClosed:
            pass
        finally:
            conn.close()
            with self._lock:
                self._conns.pop(conn_id, None)

    def presented_keys(self) -> dict[str, str]:
        with self._lock:
            return {cid: key for cid, (conn, key) in self._conns.items()
                    if not conn._closed}

    # -- the tick (server.go:88-130) ----------------------------------

    def _admit(self, presented: dict[str, str]) -> None:
        """Connect-time auth and config (server.go:63-69) for the
        connections not seen yet: one batched auth lookup, one filtered
        config collect, and each new config text compiled once. Nothing
        is recorded unless both lookups succeed, so a failed admission
        is retried on the next tick."""
        for conn_id in self._admitted.keys() - presented.keys():
            del self._admitted[conn_id]
        new = {cid: key for cid, key in presented.items()
               if cid not in self._admitted}
        if new:
            conn2client = resolve_connections(self.api_keys, new)
            texts = (fetch_configs(self.configs_df, set(conn2client.values()))
                     if conn2client else {})
            for conn_id in new:
                client_id = conn2client.get(conn_id)
                if client_id is None:
                    self._admitted[conn_id] = None  # rejected
                    continue
                key = view_key(texts[client_id])
                if key not in self._views:
                    self._views[key] = compile_wire_view(texts[client_id])
                self._admitted[conn_id] = key
            # K5 (postgres.go:156-160): the reference touches
            # last_used_at when it validates a key, i.e. at connect
            self._audit_pending |= {_sha256_hex(new[c]) for c in conn2client}
        for key in self._views.keys() - set(self._admitted.values()):
            del self._views[key]

    def tick(self, latest: DataFrame) -> int:
        """One broadcast tick; returns records sent across all conns."""
        self._admit(self.presented_keys())
        served = {cid: vk for cid, vk in self._admitted.items()
                  if vk is not None}
        by_view: dict[str, list[str]] = {}
        if served:
            plan = distinct_wire_views(
                latest, [self._views[k] for k in sorted(set(served.values()))])
            for row in plan.collect():
                by_view.setdefault(row["vk"], []).append(row["wire"])
        sent = 0
        for conn_id, vk in served.items():
            with self._lock:
                entry = self._conns.get(conn_id)
            if entry is None:
                continue
            conn = entry[0]
            try:
                for wire in by_view.get(vk, ()):
                    conn.send(wire)
                    sent += 1
            except OSError:  # dead conn → drop (server.go:82-87)
                conn.close()
        self._fire_audit()
        self.ticks += 1
        self.records_sent += sent
        return sent

    def _fire_audit(self) -> None:
        """Best-effort async audit touch of the keys admitted since the
        last touch, mirroring the reference's goroutine: never blocks
        the tick, and at most one touch in flight (a slow sink delays
        the next touch to a later tick, it doesn't queue). A failure
        is logged and counted, and its keys are not retried."""
        if self.audit_sink is None or not self._audit_pending:
            return
        if self._audit_busy.is_set():
            return
        self._audit_busy.set()
        used, self._audit_pending = sorted(self._audit_pending), set()

        def _run():
            try:
                self.audit_sink(audit_key_usage_inline(self.api_keys, used))
            except Exception:
                log.warning("last_used_at touch failed for %d key(s)",
                            len(used), exc_info=True)
                self.audit_failures += 1
            finally:
                self._audit_busy.clear()

        threading.Thread(target=_run, daemon=True).start()

    # -- observability (A2: metrics.go counters for the serve side) ---

    def metrics(self) -> dict:
        with self._lock:
            live = sum(1 for c, _ in self._conns.values() if not c._closed)
        return {"serve_ticks": self.ticks,
                "serve_records_sent": self.records_sent,
                "serve_evictions": self.evictions,
                "serve_connections": live,
                "serve_ticks_overrun": self.ticks_overrun,
                "serve_tick_errors": self.tick_errors,
                "serve_ticks_no_data": self.ticks_no_data,
                "serve_audit_failures": self.audit_failures}

    def export_metrics(self, registry) -> None:
        """Register the serve-side counters as a LIVE gauge source: the
        /metrics endpoint re-reads them at every scrape (a one-time
        counter snapshot would report startup zeros forever)."""
        if self.metrics not in registry.gauge_sources:
            registry.gauge_sources.append(self.metrics)

    # -- lifecycle -----------------------------------------------------

    def start(self, latest_provider=None, interval_s: float = 1.0) -> "ServePublisher":
        """Start accepting connections; with ``latest_provider`` (a
        zero-arg callable returning the latest-state DataFrame, or None
        while there is none yet — e.g. ``pipeline.latest_snapshot``)
        also start the fixed-rate tick loop (server.go:88, the
        reference's 1 s ticker)."""
        self.server.start()
        if latest_provider is not None:
            self._ticker = threading.Thread(
                target=self._tick_loop, args=(latest_provider, interval_s),
                name="serve-ticker", daemon=True)
            self._ticker.start()
        return self

    def _tick_loop(self, latest_provider, interval_s: float) -> None:
        """Tick k starts at start + k·interval, like Go's time.Ticker:
        a slot that passed while the previous tick ran is skipped and
        counted in ``ticks_overrun``, never queued, so a slow tick is
        not followed by a catch-up burst. A slot with no latest table
        yet (the first epoch has not landed) is skipped and counted in
        ``ticks_no_data``: no data is not a failure."""
        start = time.monotonic()
        slot = 1
        while not self._stopping.wait(
                max(0.0, start + slot * interval_s - time.monotonic())):
            try:
                latest = latest_provider()
                if latest is None:
                    self.ticks_no_data += 1
                else:
                    self.tick(latest)
            except Exception:
                log.exception("serve tick %d failed", slot)
                self.tick_errors += 1
            # the first slot still ahead of now
            due = int((time.monotonic() - start) // interval_s) + 1
            self.ticks_overrun += max(0, due - slot - 1)
            slot = max(slot + 1, due)

    @property
    def url(self) -> str:
        return self.server.url

    def stop(self) -> None:
        self._stopping.set()
        if self._ticker is not None:
            self._ticker.join(timeout=30)
        self.server.stop()
