"""Streaming sub-document boilerplate gate (SURVEY.md §2.11).

The streaming twin of ``passage_dedup_scrub``: batch answers "which
passages repeat across this corpus"; an ingest pipeline needs the
online form — "how much of this ARRIVING document is made of passages
we have already seen" — cheap enough to run on every micro-batch at
any accumulated-corpus size.

The state is a Bloom filter of passage digests, NOT the digests
themselves: membership of an unbounded passage history in a few KiB,
at the cost of a bounded false-positive rate (over-flagging only —
a doc can read as slightly MORE boilerplate than it is, never less,
because Bloom has no false negatives). That trade is exactly right
for a quality signal that feeds a threshold.

State layout: ``<dir>/epoch=N`` parquet partitions each hold ONE
micro-batch's (word, mask) OR-partial (≤ n_bits/64 rows). Bitwise OR
is idempotent, so a crash-replayed epoch overwrites its own partition
into the identical bits (dynamic partition overwrite, same contract
as the ingest history sink), and the current filter is the bit_or
fold of all partials — ``bloom_merge`` over partitions. The flagging
read excludes the current epoch's own partition so a replay never
flags a batch against itself. ``compact_state()`` folds old epochs
into one ``epoch=-1`` partition while the stream is stopped
(bit-identical by OR idempotence, tested; mirrors
``compact_history``); state grows as epochs × n_bits/64 rows between
compactions, never with corpus size.

Per micro-batch:
1. chunk docs into width-word passages (pure Column algebra);
2. compile the accumulated filter (bounded → driver collect is
   control-plane) and score each doc: n_passages, n_seen,
   seen_ratio, flagged = ratio ≥ threshold;
3. write the audit rows under this epoch's partition (idempotent);
4. write this batch's own Bloom partial under the same epoch.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import passage_df
from ..operators.sketch import bloom_build, bloom_might_contain
from .epoch_sink import (EpochCounter, EpochSink, read_epoch_dirs,
                         write_epoch_dir)


@dataclass
class PassageBoilerplateGate(EpochSink):
    """foreachBatch boilerplate scorer against an accumulated
    passage-digest Bloom filter."""

    METRICS_PREFIX = "boilerplate_gate"

    spark: SparkSession
    state_dir: str
    audit_dir: str | None = None
    text_col: str = "text"
    id_col: str = "doc_id"
    width: int = 8
    n_bits: int = 1 << 14
    k: int = 5
    threshold: float = 0.5
    docs_seen = EpochCounter()
    docs_flagged = EpochCounter()

    @property
    def audit_path(self) -> str:
        return self.audit_dir or f"{self.state_dir}_audit"

    def _read_state(self) -> DataFrame | None:
        """Read the state dir, treating ONLY an absent-state condition
        as 'no state yet'. Absence is decided STRUCTURALLY (not by
        error message): the path is missing, or it contains no data
        files at all — only '_'-prefixed staging entries like the
        _temporary/ dir a killed first-epoch write attempt leaves
        behind (a crash-replay MUST recover from that). A dir that
        HAS data files but fails to read (truncated/0-byte parts,
        schema garbage) propagates: silently degrading a corrupt
        state dir to an empty Bloom filter would score every passage
        unseen — SCALING.md's bad-input policy is corrupt parquet
        fails loud."""

        def _has_data_files(root: str) -> bool:
            for cur, dirs, files in os.walk(root):
                dirs[:] = [d for d in dirs if not d.startswith("_")
                           and not d.startswith(".")]
                if any(not f.startswith(("_", ".")) for f in files):
                    return True
            return False

        try:
            return self.spark.read.parquet(self.state_dir)
        except AnalysisException:
            if not os.path.exists(self.state_dir) \
                    or not _has_data_files(self.state_dir):
                return None
            raise

    def _state_before(self, epoch_id: int) -> DataFrame | None:
        """The accumulated filter, EXCLUDING this epoch's partition
        (a crash-replay must not score the batch against the partial
        its own failed attempt wrote)."""
        parts = self._read_state()
        if parts is None:
            return None
        parts = parts.filter(F.col("epoch") != F.lit(int(epoch_id)))
        return parts.groupBy("word").agg(F.bit_or("mask").alias("mask"))

    def _process(self, batch: DataFrame, epoch_id: int) -> dict:
        p = passage_df(batch, self.text_col, self.id_col,
                       self.width).persist()
        state = self._state_before(epoch_id)
        if state is not None and state.head(1):
            seen = bloom_might_contain(state, F.col("digest"),
                                       self.n_bits, self.k)
        else:
            seen = F.lit(False)
        scored = (p.groupBy(F.col("id").alias(self.id_col))
                  .agg(F.count("*").alias("n_passages"),
                       F.sum(seen.cast("int")).alias("n_seen")))
        scored = scored.select(
            self.id_col, "n_passages", "n_seen",
            (F.col("n_seen") / F.col("n_passages")).alias("seen_ratio"),
            (F.col("n_seen") / F.col("n_passages")
             >= self.threshold).alias("flagged"))

        # audit + state under this epoch's partition — both idempotent.
        # The Bloom partial keeps one file: ≤ n_bits/64 rows.
        counts = write_epoch_dir(scored, self.audit_path, epoch_id,
                                 docs_seen=F.count("*"),
                                 docs_flagged=F.count_if(F.col("flagged")))
        partial = bloom_build(p, "digest", self.n_bits, self.k)
        write_epoch_dir(partial.coalesce(1), self.state_dir, epoch_id)
        p.unpersist()
        return counts

    def compact_state(self) -> int:
        """Fold all epoch partials into one partition (run while the
        stream is stopped — mirrors ``compact_history``): bitwise OR
        is idempotent/associative, so the folded filter is
        bit-identical to the multi-partial fold, and state row count
        drops from epochs × n_bits/64 back to ≤ n_bits/64. The folded
        partial lands under ``epoch=-1`` — a replay of any real epoch
        then overwrites only its own partition, leaving the compacted
        baseline intact. Returns the folded row count."""
        parts = self._read_state()
        if parts is None:
            return 0
        folded = (parts.groupBy("word").agg(F.bit_or("mask").alias("mask"))
                  .localCheckpoint())  # break lineage: we overwrite below
        n = folded.count()
        shutil.rmtree(self.state_dir)
        write_epoch_dir(folded.coalesce(1), self.state_dir, -1)
        return n

    def scores(self) -> DataFrame:
        """The audit table: (doc_id, n_passages, n_seen, seen_ratio,
        flagged) for every scored document."""
        return read_epoch_dirs(self.spark, self.audit_path)
