"""Streaming repetition-quality gate (SURVEY.md §2.11).

The streaming twin of ``doc_repetition_signals``: batch answers "how
repetitive is every corpus document"; an ingest pipeline needs the
online form — score each ARRIVING document within one trigger and
flag the ones past the Gopher cutoffs (Rae et al. 2021, Table A1),
next to the dedup / boilerplate / LM / novelty / contamination gates.

Design (scale posture first):

- The gate is fully STATELESS: repetition is an intrinsic per-doc
  property, so micro-batches are independent by construction (the
  LM/contamination-gate statelessness argument, with no model side
  at all — there is nothing to train, broadcast, or persist).
- Scoring reuses the EXACT batch operator
  (``operators/lm_quality.py::repetition_signals``), so a streamed
  document's signals are bit-identical to the batch operator's —
  asserted across micro-batch splits in tests.
- Flag rule = any signal past its threshold. Defaults are the Gopher
  paper's published cutoffs for the signals the default column set
  computes: dup_line_frac > 0.30, dup_line_char_frac > 0.20,
  top2gram_char_frac > 0.20, top3gram_char_frac > 0.18,
  dup5gram_char_frac > 0.15. ``thresholds`` keys must name columns
  the configured (top_ns, dup_ns) actually produce — checked loudly
  at construction, not silently never-matched.
- Audit rows land in an epoch-partitioned parquet table with
  mode=overwrite per epoch — the idempotent-replay contract shared
  by every sink in this package (a crashed epoch re-scores
  identically: the signals are deterministic functions of the doc).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.lm_quality import repetition_signals
from .epoch_sink import (EpochCounter, EpochSink, read_epoch_dirs,
                         write_epoch_dir)

GOPHER_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top2gram_char_frac": 0.20,
    "top3gram_char_frac": 0.18,
    "dup5gram_char_frac": 0.15,
}


@dataclass
class RepetitionGate(EpochSink):
    """foreachBatch Gopher-repetition scorer. ``audit_path`` is the
    epoch-partitioned parquet table of per-doc signals + flag."""

    METRICS_PREFIX = "repetition_gate"

    audit_path: str
    text_col: str = "text"
    id_col: str = "doc_id"
    top_ns: tuple = (2, 3)
    dup_ns: tuple = (5,)
    thresholds: dict = field(
        default_factory=lambda: dict(GOPHER_THRESHOLDS))
    docs_scored = EpochCounter()
    docs_flagged = EpochCounter()
    epochs = EpochCounter()

    def __post_init__(self) -> None:
        if not self.thresholds:
            raise ValueError(
                "thresholds must name at least one signal column — an "
                "empty gate flags nothing and score_batch would crash "
                "folding zero predicates")
        produced = ({"dup_line_frac", "dup_line_char_frac"}
                    | {f"top{n}gram_char_frac" for n in self.top_ns}
                    | {f"dup{n}gram_char_frac" for n in self.dup_ns})
        unknown = set(self.thresholds) - produced
        if unknown:
            raise ValueError(
                f"thresholds name columns the configured top_ns="
                f"{self.top_ns}/dup_ns={self.dup_ns} never produce: "
                f"{sorted(unknown)} (would silently never flag)")

    def score_batch(self, batch_docs: DataFrame) -> DataFrame:
        """Batch-identical signals plus the any-threshold flag."""
        scored = repetition_signals(
            batch_docs, self.text_col, self.id_col,
            self.top_ns, self.dup_ns)
        over = [F.col(c) > F.lit(t) for c, t in self.thresholds.items()]
        flag = over[0]
        for o in over[1:]:
            flag = flag | o
        return scored.withColumn("flagged", flag)

    def _process(self, batch: DataFrame, epoch_id: int) -> dict:
        return write_epoch_dir(
            self.score_batch(batch), self.audit_path, epoch_id,
            docs_scored=F.count("*"),
            docs_flagged=F.count_if(F.col("flagged")))

    def scores(self, spark) -> DataFrame:
        """The audit table across all epochs."""
        return read_epoch_dirs(spark, self.audit_path)
