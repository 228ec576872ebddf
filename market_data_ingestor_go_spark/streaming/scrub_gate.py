"""Streaming span-scrub gate (SURVEY.md §2.11).

The streaming twin of ``eval_leak_scrub``: batch rewrites every
corpus document with its eval-leaked spans removed; an ingest
pipeline wants that applied AT THE DOOR — each arriving document is
scrubbed within one trigger, so leaked passages never land in the
training corpus at all (the decontamination TRANSFORM next to the
flag-only novelty/contamination gates: those mark, this one acts).

Design (scale posture first):

- The reference WINDOW set is built ONCE at gate construction
  (``operators/dedup.py::reference_windows`` — eval corpora are
  bounded by definition) and persisted as the broadcast side of
  every micro-batch's marking join. The gate holds NO growing state:
  the scrub is a property of the document against a fixed reference,
  so batches are independent by construction (the novelty-gate
  statelessness argument).
- Scrubbing reuses the EXACT batch operator
  (``scrub_leaked_spans`` with the precomputed ``ref_windows``), so
  a streamed document's (status, n_spans, tokens_removed,
  n_tokens_kept, text) row is bit-identical to the batch transform's
  — asserted across micro-batch splits in tests.
- Every document the gate saw is accounted for: 'clean' rows pass
  through with original text verbatim, 'scrubbed' rows carry the
  token-exact survivor reconstruction, fully-leaked docs land as
  'dropped' rows with NULL text — the row IS the audit record, and
  downstream consumes ``text IS NOT NULL``.
- Audit rows land in an epoch-partitioned parquet table with
  mode=overwrite per epoch — the idempotent-replay contract shared
  by every sink in this package (a crashed epoch re-scrubs
  identically: the reference is static and the span algebra is
  deterministic). The write keeps the batch's parallelism: the gate
  rewrites EVERY doc per epoch.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import reference_windows, scrub_leaked_spans
from .epoch_sink import (EpochCounter, EpochSink, read_epoch_dirs,
                         write_epoch_dir)


@dataclass
class ScrubGate(EpochSink):
    """foreachBatch span-scrubber against a fixed reference window
    set. ``reference`` must expose (id_col, text_col); ``audit_path``
    is the epoch-partitioned parquet table of scrub-output rows
    (clean + scrubbed + dropped — the full accounting)."""

    METRICS_PREFIX = "scrub_gate"

    reference: DataFrame
    audit_path: str
    w: int = 8
    text_col: str = "text"
    id_col: str = "doc_id"
    docs_seen = EpochCounter()
    docs_scrubbed = EpochCounter()
    docs_dropped = EpochCounter()
    epochs = EpochCounter()

    def __post_init__(self) -> None:
        self._ref_wins = self._pin(reference_windows(
            self.reference, self.w, self.text_col, self.id_col))

    def scrub_batch(self, batch_docs: DataFrame) -> DataFrame:
        """(doc_id, status, n_spans, tokens_removed, n_tokens_kept,
        text) — identical span algebra to the batch operator; every
        doc of the batch appears exactly once."""
        return scrub_leaked_spans(batch_docs, None, w=self.w,
                                  text_col=self.text_col,
                                  id_col=self.id_col,
                                  ref_windows=self._ref_wins)

    def _process(self, batch: DataFrame, epoch_id: int) -> dict:
        status = F.col("status")
        return write_epoch_dir(
            self.scrub_batch(batch), self.audit_path, epoch_id,
            docs_seen=F.count("*"),
            docs_scrubbed=F.count_if(status == "scrubbed"),
            docs_dropped=F.count_if(status == "dropped"))

    def scrubbed(self) -> DataFrame:
        """The audit table across all epochs (every doc seen; the
        surviving corpus is ``text IS NOT NULL``)."""
        return read_epoch_dirs(self.reference.sparkSession, self.audit_path)
