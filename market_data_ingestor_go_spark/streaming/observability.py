"""A2 — monitoring counters (SURVEY.md §2.5), the Spark realization of
the reference's Prometheus metrics (internal/app/metrics/metrics.go:8-34):

    MessagesReceived / MessagesProcessed / BatchInserts /
    ErrorsTotal{type} / ProcessingLatency

Engine mapping:
- ``observe()`` named aggregations ride along the streaming (or batch)
  plan at zero extra scans — e.g. the ``decode`` frames-received /
  unmarshal-error counts ``pipeline.decode_raw_frames`` attaches per
  micro-batch.
- ``MetricsListener`` (a StreamingQueryListener) collects the observed
  values plus Spark's own progress (batch duration ≈ ProcessingLatency
  histogram, inputRowsPerSecond, state operator metrics) into an
  in-memory registry a /metrics endpoint can scrape.

The reference increments counters imperatively at each pipeline step
(ingestor.go:108,113,124; processor.go:96,109,116-118); here the same
numbers fall out of the declarative plan.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

try:
    from pyspark.sql.streaming import StreamingQueryListener
    _HAS_LISTENER = True
except ImportError:  # pragma: no cover
    StreamingQueryListener = object
    _HAS_LISTENER = False

log = logging.getLogger(__name__)


@dataclass
class MetricsRegistry:
    """In-memory metric state, the shape a /metrics endpoint exports.

    ``gauge_sources`` are zero-arg callables returning {name: value}
    read at RENDER time — live gauges (e.g. the serve publisher's
    tick/connection counters) instead of startup-frozen snapshots."""
    counters: dict = field(default_factory=dict)
    last_progress: dict = field(default_factory=dict)
    gauge_sources: list = field(default_factory=list)

    def bump(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + value

    def gauges(self) -> dict:
        out = {}
        for src in self.gauge_sources:
            try:
                out.update(src())
            except Exception:  # a dead source must not kill /metrics
                log.warning("gauge source %r failed", src, exc_info=True)
        return out


class MetricsListener(StreamingQueryListener):
    """Collects observed metrics + engine progress per micro-batch."""

    def __init__(self, registry: MetricsRegistry | None = None):
        self.registry = registry or MetricsRegistry()

    def onQueryStarted(self, event):  # pragma: no cover - trivial
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.registry.bump("batch_inserts", 1)  # metrics.go BatchInserts
        self.registry.last_progress = {
            "batchId": p.batchId,
            "numInputRows": p.numInputRows,
            "durationMs": dict(p.durationMs) if p.durationMs else {},
        }
        self.registry.bump("messages_total", p.numInputRows or 0)
        for name, row in (p.observedMetrics or {}).items():
            for key in row.asDict():
                self.registry.bump(f"{name}.{key}", row[key] or 0)

    def onQueryIdle(self, event):  # pragma: no cover - trivial
        pass

    def onQueryTerminated(self, event):  # pragma: no cover - trivial
        pass

