"""Streaming near-dup dedup gate (SURVEY.md §2.11).

Batch dedup (``operators/dedup.py``) answers "which documents in this
corpus duplicate each other"; a training-data INGEST pipeline needs
the online form: "is this arriving document a near-duplicate of
anything already accepted" — decided per micro-batch, before the doc
lands in a shard. This module maintains the MinHash state needed to
answer that incrementally:

- ``<table>_sig``    : (id, band, bh, epoch) — banded signatures of
  every ACCEPTED document, partitioned by epoch (idempotent replay,
  same contract as the ingest history sink) and BUCKETED by ``bh`` so
  the per-batch candidate join probes it with the tiny batch side
  broadcast — the accumulated corpus never shuffles.
- ``<table>_sh``     : (id, sh, epoch) — shingle sets of accepted
  docs, for exact-Jaccard verification of candidates (verification
  touches candidate ids only).

Per micro-batch:
1. batch-internal dedup: banded self-join + exact verify, keep the
   min-id document of each duplicate group (deterministic keeper);
2. vs-corpus dedup: batch bands (broadcast) probe the signature
   table; candidates verify against the shingle table; matches are
   rejected as duplicates of the already-accepted doc;
3. survivors append their bands + shingles to the state tables under
   this epoch's partition; rejected docs land in ``<table>_dups``
   (new_id, dup_of, jacc, epoch) for audit.

At 100 TB the state tables ARE the dedup index real pipelines keep
(signature store keyed by band hash); all growth is linear in
accepted docs and every join is an equi-join with the batch side
broadcast.

Replay contract: state + audit writes are epoch-idempotent
(streaming/epoch_sink.py), and the vs-corpus check excludes the
current epoch's own partitions so a crash-replay never self-rejects.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (banded_signatures, minhash_signatures,
                               ngram_jaccard_pairs, shingle_df)
from .epoch_sink import (EpochCounter, EpochSink, read_epoch_dirs,
                         write_epoch_dir, write_epoch_table)


@dataclass
class StreamingDedupGate(EpochSink):
    """foreachBatch near-dup dedup against an accumulated corpus."""

    METRICS_PREFIX = "dedup_gate"

    spark: SparkSession
    base_table: str
    dups_dir: str | None = None  # audit parquet path (default derived)
    text_col: str = "text"
    id_col: str = "doc_id"
    n: int = 3
    threshold: float = 0.8
    num_perms: int = 128
    num_bands: int = 32
    n_buckets: int = 16
    docs_seen = EpochCounter()
    docs_accepted = EpochCounter()
    docs_rejected = EpochCounter()

    @property
    def sig_table(self) -> str:
        return f"{self.base_table}_sig"

    @property
    def sh_table(self) -> str:
        return f"{self.base_table}_sh"

    @property
    def dups_path(self) -> str:
        return self.dups_dir or f"{self.base_table}_dups"

    def _verify(self, cand: DataFrame, sh_a: DataFrame,
                sh_b: DataFrame) -> DataFrame:
        """Exact-Jaccard verification of (a_id, b_id) candidates."""
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        return (cand.join(sh_a, "a_id").join(sh_b, "b_id")
                .select("a_id", "b_id",
                        (inter.cast("double") / union.cast("double"))
                        .alias("jacc"))
                .filter(F.col("jacc") >= F.lit(self.threshold)))

    def _process(self, batch: DataFrame, epoch_id: int) -> dict:
        rows_per_band = self.num_perms // self.num_bands
        n_seen = batch.count()

        # batch-internal dedup: exact pair graph on the (small) batch,
        # keep each group's min id. Exact all-pairs is right here —
        # a micro-batch is small by definition; the LSH machinery is
        # for the vs-corpus side where the other corpus is huge.
        pairs = ngram_jaccard_pairs(batch, self.text_col, self.id_col,
                                    self.n, self.threshold)
        internal_dups = (pairs.filter(F.col("doc_a") < F.col("doc_b"))
                         .select(F.col("doc_b").alias(self.id_col),
                                 F.col("doc_a").alias("dup_of"), "jacc"))
        keepers = batch.join(
            internal_dups.select(self.id_col).distinct(),
            self.id_col, "left_anti").persist()

        sa = shingle_df(keepers, self.text_col, self.id_col,
                        self.n).persist()
        bands_a = banded_signatures(
            minhash_signatures(sa, self.num_perms),
            self.num_bands, rows_per_band)

        corpus_dups = None
        if self.spark.catalog.tableExists(self.sig_table):
            # exclude THIS epoch's partitions from the state read: a
            # crash-replay would otherwise check the batch against the
            # state its own failed attempt wrote and reject every doc
            # as a duplicate of itself — partition pruning makes the
            # exclusion a metadata filter.
            not_self = F.col("epoch") != F.lit(int(epoch_id))
            idx_sig = self.spark.table(self.sig_table).filter(not_self)
            cand = (F.broadcast(bands_a.withColumnRenamed("id", "a_id"))
                    .join(idx_sig, ["band", "bh"])
                    .select("a_id", F.col("id").alias("b_id"))
                    .distinct())
            sh_a = F.broadcast(sa.select(F.col("id").alias("a_id"),
                                         F.col("sh").alias("sh_a")))
            sh_b = self.spark.table(self.sh_table).filter(not_self) \
                .select(F.col("id").alias("b_id"), F.col("sh").alias("sh_b"))
            corpus_dups = (self._verify(cand, sh_a, sh_b)
                           .groupBy("a_id")
                           .agg(F.min_by("b_id", F.struct(
                               (-F.col("jacc")).alias("nj"),
                               F.col("b_id").alias("t"))).alias("dup_of"),
                               F.max("jacc").alias("jacc"))
                           .select(F.col("a_id").alias(self.id_col),
                                   "dup_of", "jacc")).persist()
            rejected_ids = corpus_dups.select(self.id_col)
            accepted = keepers.join(rejected_ids, self.id_col, "left_anti")
        else:
            accepted = keepers

        # localCheckpoint, not persist: the accepted set's lineage
        # includes a READ of the signature table (the vs-corpus anti
        # join), and Spark refuses an insert that overwrites a table
        # its own plan reads — truncating the (tiny) id set's lineage
        # breaks the cycle.
        accepted_ids = accepted.select(self.id_col).localCheckpoint()
        n_accepted = accepted_ids.count()

        # audit trail: internal + vs-corpus rejections
        dups = internal_dups if corpus_dups is None else \
            internal_dups.unionByName(corpus_dups)
        n_rejected = write_epoch_dir(dups, self.dups_path, epoch_id,
                                     n=F.count("*"))["n"]

        # persist accepted docs' state under this epoch's partition
        # (bands_a already computed for the keepers — filter, don't
        # re-sign)
        ids = accepted_ids.withColumnRenamed(self.id_col, "id")
        write_epoch_table(bands_a.join(ids, "id"), self.sig_table,
                          epoch_id, (self.n_buckets, "bh"))
        write_epoch_table(sa.join(ids, "id"), self.sh_table, epoch_id,
                          (self.n_buckets, "id"))
        for df in (keepers, sa):
            df.unpersist()
        if corpus_dups is not None:
            corpus_dups.unpersist()
        return {"docs_seen": n_seen, "docs_accepted": n_accepted,
                "docs_rejected": n_rejected}

    def duplicates(self) -> DataFrame:
        """The audit table of rejected docs: (doc_id, dup_of, jacc)."""
        return read_epoch_dirs(self.spark, self.dups_path)

    def accepted_ids(self) -> DataFrame:
        """Ids of every accepted (deduplicated) document so far."""
        return self.spark.table(self.sh_table).select(
            F.col("id").alias(self.id_col))
