"""Streaming train/test contamination gate (SURVEY.md §2.11).

The batch operator ``operators/dedup.py::cross_corpus_near_dup`` is
the eval-integrity check every LLM pipeline runs BEFORE training; this
module composes the same MinHash+banding+verify machinery with
Structured Streaming so a held-out document leaking into the ingest
stream is flagged within one trigger — before it lands in a training
shard, not in a post-hoc audit.

Design (scale posture first):

- The held-out corpus is static and small by nature (an eval set), so
  its shingle sets and banded signatures are computed ONCE at gate
  construction, persisted, and explicitly ``F.broadcast`` on both the
  candidate join and the verification join — each micro-batch does
  batch-side work only, with zero shuffle of the held-out side and no
  state store (the gate is stateless across batches by construction:
  contamination is a property of (batch doc, held-out doc) pairs).
- Flags land in an epoch-partitioned parquet table with
  mode=overwrite per epoch — the same idempotent-replay contract as
  the ingest history sink (streaming/pipeline.py), so a crashed epoch
  re-flags instead of duplicating flags.
- Counters (docs checked / flagged / epochs) are kept per epoch on
  the gate, exported via ``metrics()`` for the /metrics endpoint
  exactly like ``IngestPipeline.metrics``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (banded_signatures, minhash_signatures,
                               shingle_df)
from .epoch_sink import (EpochCounter, EpochSink, read_epoch_dirs,
                         write_epoch_dir)


@dataclass
class ContaminationGate(EpochSink):
    """foreachBatch gate: flag stream documents near-duplicating a
    broadcast held-out corpus.

    ``heldout`` must expose (id_col, text_col). ``flags_path`` is the
    epoch-partitioned parquet table of hits
    (doc_id, heldout_id, jacc, epoch=<id>).
    """

    METRICS_PREFIX = "contamination"

    heldout: DataFrame
    flags_path: str
    text_col: str = "text"
    id_col: str = "doc_id"
    n: int = 3
    threshold: float = 0.6
    num_perms: int = 128
    num_bands: int = 32
    docs_checked = EpochCounter()
    docs_flagged = EpochCounter()
    epochs = EpochCounter()

    def __post_init__(self) -> None:
        rows_per_band = self.num_perms // self.num_bands
        # static side, computed once: shingles for verification,
        # banded signatures for candidate generation — both persisted
        # (an eval set is tiny next to the stream; at 100 TB of stream
        # these stay the broadcast side of every join)
        sh = shingle_df(self.heldout, self.text_col, self.id_col, self.n)
        self._held_sh, self._held_banded = self._pin(
            sh.select(F.col("id").alias("h_id"), F.col("sh").alias("sh_b")),
            banded_signatures(minhash_signatures(sh, self.num_perms),
                              self.num_bands, rows_per_band)
            .select(F.col("id").alias("h_id"), "band", "bh"))

    def check_batch(self, batch_docs: DataFrame) -> DataFrame:
        """Batch-side MinHash → banded equi-join against the broadcast
        held-out bands → exact-Jaccard verification. Returns
        (doc_id, heldout_id, jacc) hits ≥ threshold."""
        rows_per_band = self.num_perms // self.num_bands
        sa = shingle_df(batch_docs, self.text_col, self.id_col, self.n)
        sa = sa.persist()  # feeds signatures once + verification once
        banded_a = banded_signatures(
            minhash_signatures(sa, self.num_perms),
            self.num_bands, rows_per_band)
        cand = (
            banded_a.join(F.broadcast(self._held_banded), ["band", "bh"])
            .select(F.col("id").alias("a_id"), "h_id").distinct())
        va = sa.select(F.col("id").alias("a_id"), F.col("sh").alias("sh_a"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        return (
            cand.join(va, "a_id").join(F.broadcast(self._held_sh), "h_id")
            .select(F.col("a_id").alias("doc_id"),
                    F.col("h_id").alias("heldout_id"),
                    (inter.cast("double") / union.cast("double")).alias("jacc"))
            .filter(F.col("jacc") >= F.lit(self.threshold)))

    def _process(self, batch: DataFrame, epoch_id: int) -> dict:
        batch = batch.persist()
        try:
            n_hits = write_epoch_dir(self.check_batch(batch),
                                     self.flags_path, epoch_id,
                                     n=F.count("*"))["n"]
            return {"docs_checked": batch.count(), "docs_flagged": n_hits}
        finally:
            batch.unpersist()

    def flags(self, spark) -> DataFrame:
        """The accumulated contamination table (epoch column dropped)."""
        return read_epoch_dirs(spark, self.flags_path)
