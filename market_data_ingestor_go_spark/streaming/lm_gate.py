"""Streaming LM-quality gate (SURVEY.md §2.11).

The streaming twin of ``doc_lm_quality``/``lm_quality_bands``: batch
answers "how does every corpus document score against the reference
bigram LM"; an ingest pipeline needs the online form — score each
ARRIVING document within one trigger and flag the ones outside the
accepted perplexity band (CCNet's filter applied at the door, next to
the dedup / boilerplate / contamination gates).

Design (scale posture first):

- The model is trained ONCE at gate construction from a static
  reference corpus (``operators/lm_quality.py::train_bigram_lm``) and
  persisted: vocab ≤ V rows, context table ≤ V+1 rows, bigram table
  bounded by min-count pruning — all broadcast sides of every
  micro-batch join. The gate holds NO growing state: quality is a
  property of the document against a fixed model, so batches are
  independent by construction (same statelessness argument as the
  contamination gate; contrast the Bloom-history boilerplate gate).
- Scoring reuses the EXACT batch Column algebra
  (``score_with_model``), so a streamed document's score is
  bit-identical to the batch operator's — asserted across micro-batch
  splits in tests.
- Flag rule = the CCNet band, two-sided: a doc is flagged when its
  cross-entropy leaves [lo_bits, hi_bits] — BELOW lo is degenerate /
  repetitive (boilerplate reads as too likely), ABOVE hi is
  out-of-distribution (gibberish / wrong domain); docs with no
  bigrams (< 2 tokens) are flagged as unscorable.
- Audit rows land in an epoch-partitioned parquet table with
  mode=overwrite per epoch — the idempotent-replay contract shared by
  every sink in this package (a crashed epoch re-scores identically:
  the model is static and the score is deterministic).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.lm_quality import score_with_model, train_bigram_lm
from .epoch_sink import (EpochCounter, EpochSink, read_epoch_dirs,
                         write_epoch_dir)


@dataclass
class LMQualityGate(EpochSink):
    """foreachBatch quality scorer against a fixed reference bigram
    LM. ``reference`` must expose (id_col, text_col); ``audit_path``
    is the epoch-partitioned parquet table of scores."""

    METRICS_PREFIX = "lm_gate"

    reference: DataFrame
    audit_path: str
    text_col: str = "text"
    id_col: str = "doc_id"
    vocab_size: int = 24
    min_count: int = 2
    train_pct: int = 100     # the reference corpus IS the train split
    lo_bits: float = 0.0
    hi_bits: float = 64.0
    docs_scored = EpochCounter()
    docs_flagged = EpochCounter()
    epochs = EpochCounter()

    def __post_init__(self) -> None:
        # model tables are bounded (module doc); the vocab / bigram /
        # context aggregations are separate plan branches, so each is
        # materialized on its own before the stream starts
        self._vocab, self._bgc, self._ctx = self._pin(*train_bigram_lm(
            self.reference, self.text_col, self.id_col,
            self.vocab_size, self.min_count, self.train_pct))

    def score_batch(self, batch_docs: DataFrame) -> DataFrame:
        """(id, n_tokens, n_bigrams, n_oov, sum_bg, sum_ctx,
        lm_score, xent_bits, flagged) — identical Column algebra to
        the batch operator, plus the band flag."""
        scored = score_with_model(
            batch_docs, self._vocab, self._bgc, self._ctx,
            self.text_col, self.id_col)
        in_band = ((F.col("xent_bits") >= F.lit(self.lo_bits))
                   & (F.col("xent_bits") <= F.lit(self.hi_bits)))
        return scored.withColumn(
            "flagged",
            F.when(F.col("n_bigrams") == 0, F.lit(True))
             .otherwise(~in_band))

    def _process(self, batch: DataFrame, epoch_id: int) -> dict:
        return write_epoch_dir(
            self.score_batch(batch), self.audit_path, epoch_id,
            docs_scored=F.count("*"),
            docs_flagged=F.count_if(F.col("flagged")))

    def scores(self) -> DataFrame:
        """The audit table across all epochs."""
        return read_epoch_dirs(self.reference.sparkSession, self.audit_path)
