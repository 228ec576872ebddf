"""Streaming n-gram novelty gate (SURVEY.md §2.11).

The streaming twin of ``doc_ngram_novelty``: batch answers "how novel
is every corpus document against the reference/eval n-gram set"; an
ingest pipeline needs the online form — score each ARRIVING document
within one trigger and flag the ones assembled from reference phrases
(novelty below the floor ⇒ an eval-set leak or boilerplate — the
decontamination filter applied at the door, next to the dedup / LM /
boilerplate / contamination gates).

Design (scale posture first):

- The reference n-gram set is built ONCE at gate construction
  (``operators/lm_quality.py::reference_shingles`` — eval corpora are
  bounded by definition) and persisted as the broadcast side of every
  micro-batch probe. The gate holds NO growing state: novelty is a
  property of the document against a fixed reference, so batches are
  independent by construction (the LM/contamination-gate
  statelessness argument; contrast the Bloom-history boilerplate
  gate).
- Scoring reuses the EXACT batch Column algebra
  (``novelty_against``), so a streamed document's (n_shingles,
  n_seen, novelty) row is bit-identical to the batch operator's —
  asserted across micro-batch splits in tests.
- Flag rule: ``novelty < lo_novelty`` ⇒ flagged (suspected leak /
  reference-derived boilerplate); documents with < n tokens yield no
  shingles — no denominator exists — and are flagged UNSCORABLE
  (null novelty) rather than silently dropped: a gate must account
  for every document it saw.
- Audit rows land in an epoch-partitioned parquet table with
  mode=overwrite per epoch — the idempotent-replay contract shared by
  every sink in this package (a crashed epoch re-scores identically:
  the reference is static and the score is deterministic).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.lm_quality import novelty_against, reference_shingles
from .epoch_sink import (EpochCounter, EpochSink, read_epoch_dirs,
                         write_epoch_dir)


@dataclass
class NoveltyGate(EpochSink):
    """foreachBatch novelty scorer against a fixed reference n-gram
    set. ``reference`` must expose (id_col, text_col); ``audit_path``
    is the epoch-partitioned parquet table of scores."""

    METRICS_PREFIX = "novelty_gate"

    reference: DataFrame
    audit_path: str
    n: int = 3
    text_col: str = "text"
    id_col: str = "doc_id"
    lo_novelty: float = 0.5
    docs_scored = EpochCounter()
    docs_flagged = EpochCounter()
    epochs = EpochCounter()

    def __post_init__(self) -> None:
        self._ref_sh = self._pin(reference_shingles(
            self.reference, self.n, self.text_col))

    def score_batch(self, batch_docs: DataFrame) -> DataFrame:
        """(doc_id, n_shingles, n_seen, novelty, flagged) — identical
        Column algebra to the batch operator; docs without shingles
        (< n tokens or NULL text) carry null counts and flag as
        unscorable."""
        scored = novelty_against(batch_docs, self._ref_sh, self.n,
                                 self.text_col, self.id_col)
        ids = batch_docs.select(F.col(self.id_col).alias("doc_id"))
        return (ids.join(scored, "doc_id", "left")
                .withColumn("flagged",
                            F.when(F.col("novelty").isNull(), F.lit(True))
                            .otherwise(F.col("novelty")
                                       < F.lit(self.lo_novelty))))

    def _process(self, batch: DataFrame, epoch_id: int) -> dict:
        return write_epoch_dir(
            self.score_batch(batch), self.audit_path, epoch_id,
            docs_scored=F.count("*"),
            docs_flagged=F.count_if(F.col("flagged")))

    def scores(self) -> DataFrame:
        """The audit table across all epochs."""
        return read_epoch_dirs(self.reference.sparkSession, self.audit_path)
