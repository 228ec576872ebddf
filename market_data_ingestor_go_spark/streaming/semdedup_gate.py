"""Streaming semantic (embedding-space) dedup gate.

The vector twin of ``streaming/dedup_gate.py``: batch SemDeDup
(``operators/similarity.py::semdedup``) answers "which vectors in
this corpus near-duplicate each other"; an embedding INGEST pipeline
needs the online form — "is this arriving vector semantically a
duplicate of anything already accepted" — decided per micro-batch,
before the vector lands in the index/shard.

State: ``<table>_vec`` — (n_id, nv, nsd, cell, epoch) of every
ACCEPTED vector, partitioned by epoch (idempotent replay, the
package-wide contract) and BUCKETED by the k-means cell so the
per-batch candidate join probes it with the tiny batch side
broadcast — the accumulated corpus never shuffles. Cells come from a
FIXED centroid artifact supplied at construction (trained offline —
the same train/serve split as batch semdedup / the PQ codebook).

Per micro-batch:
1. batch-internal SemDeDup (same rule as the batch operator —
   computed inline so each reject keeps its blocking neighbor for
   the audit);
2. vs-corpus: survivors probe their top-``n_probes`` cells against
   the accepted state (accepted vectors live under their primary
   cell; probing p cells on the arriving side recovers boundary
   pairs at p× candidate cost — between the batch operator's p=1 and
   p² coverage); cosine ≥ threshold ⇒ rejected, audited with its
   best-matching accepted id;
3. survivors append under this epoch's partition; rejects land in
   ``<dups_dir>/epoch=N``.

SEMANTICS vs batch semdedup (pinned in tests): the batch rule is a
DOMINANCE rule — drop x iff ANY smaller-id vector within a shared
cell matches, even one that was itself dropped. The gate is the TRUE
SEQUENTIAL GREEDY — x is only compared against vectors actually
ACCEPTED so far, so a chain a~b, b~c (a≁c) keeps {a, c} here but
only {a} in batch. Sequential greedy is what an ingest pipeline
means by dedup (never reject against a doc you refused to keep);
the batch rule is the conservative offline sweep.

Replay contract: state + audit writes are epoch-idempotent
(streaming/epoch_sink.py) and the vs-corpus probe EXCLUDES the current
epoch's own partition, so a crash-replay never rejects a batch
against its own failed write.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import assign_cells, dot
from .epoch_sink import (EpochCounter, EpochSink, fold_epochs,
                         read_epoch_dirs, write_epoch_dir,
                         write_epoch_table)


@dataclass
class StreamingSemanticDedupGate(EpochSink):
    """foreachBatch semantic dedup against an accumulated corpus."""

    METRICS_PREFIX = "semdedup_gate"

    spark: SparkSession
    centroids: DataFrame
    base_table: str
    dups_dir: str
    id_col: str = "vec_id"
    vec_col: str = "embedding"
    threshold: float = 0.4
    n_probes: int = 2
    n_cell_buckets: int = 8
    vecs_seen = EpochCounter()
    vecs_accepted = EpochCounter()
    vecs_rejected = EpochCounter()

    def __post_init__(self) -> None:
        # the centroid artifact is model-sized: collect once so every
        # batch replans against a literal relation of the CLONED
        # foreachBatch session (a parent-session DataFrame would work
        # here but ties batch plans to parent-session state)
        self._cent_rows = self.centroids.collect()

    @property
    def state_table(self) -> str:
        return f"{self.base_table}_vec"

    def _cents(self, session) -> DataFrame:
        return session.createDataFrame(
            self._cent_rows,
            f"{self.id_col} INT, {self.vec_col} ARRAY<DOUBLE>")

    def _state_before(self, session, epoch_id: int) -> DataFrame | None:
        if not session.catalog.tableExists(self.state_table):
            return None
        return (session.table(self.state_table)
                .filter(F.col("epoch") != F.lit(int(epoch_id))))

    def _probe_cells(self, assigned: DataFrame) -> DataFrame:
        """(q_id, qv, qsd, cell) probe rows — one per probed cell.
        With n_probes=1 ``assign_cells`` emits no ``cells`` array, so
        the single primary cell is the probe."""
        cell = (F.explode("cells") if self.n_probes > 1
                else F.col("cell"))
        return assigned.select(F.col("n_id").alias("q_id"),
                               F.col("nv").alias("qv"),
                               F.col("nsd").alias("qsd"),
                               cell.alias("cell"))

    def _process(self, batch: DataFrame, epoch_id: int) -> dict:
        session = batch.sparkSession
        cents = self._cents(session)

        # cells + self-dots assigned ONCE for the whole batch
        assigned = (assign_cells(batch, cents, self.id_col,
                                 self.vec_col, n_probes=self.n_probes)
                    .withColumn("nsd", dot(F.col("nv"), F.col("nv")))
                    .persist())
        cos = (dot(F.col("qv"), F.col("nv"))
               / F.sqrt(F.col("qsd") * F.col("nsd")))
        best = F.max_by("n_id", F.struct(F.col("cos"), F.col("n_id")))

        # 1. batch-internal pairs — EXACTLY batch semdedup's rule
        # (both sides probe their top-p cells; drop x iff any
        # smaller-id vector shares one), but keeping the blocking
        # neighbor so internal rejects are AUDITABLE. A pair sharing
        # two cells appears twice pre-agg; max/max_by absorb the
        # duplicate.
        probe = self._probe_cells(assigned)
        nside = probe.select(F.col("q_id").alias("n_id"),
                             F.col("qv").alias("nv"),
                             F.col("qsd").alias("nsd"), "cell")
        internal = (probe.join(nside, "cell")
                    .filter(F.col("n_id") < F.col("q_id"))
                    .select("q_id", "n_id", cos.alias("cos"))
                    .filter(F.col("cos") >= F.lit(self.threshold))
                    .groupBy("q_id")
                    .agg(best.alias("dup_of"),
                         F.max("cos").alias("cos"))
                    .persist())
        surv = (assigned.join(
                    internal.select(F.col("q_id").alias("n_id")),
                    "n_id", "left_anti").persist())

        # 2. vs-corpus probe: batch side broadcast, state bucketed;
        # persisted — it feeds the anti join AND the audit write
        # (recomputing would probe the corpus-sized state twice)
        state = self._state_before(session, epoch_id)
        if state is not None:
            hits = (self._probe_cells(surv).hint("broadcast")
                    .join(state, "cell")
                    .select("q_id", "n_id", cos.alias("cos"))
                    .filter(F.col("cos") >= F.lit(self.threshold))
                    .groupBy("q_id")
                    .agg(best.alias("dup_of"),   # (cos, id) tiebreak
                         F.max("cos").alias("cos"))
                    .persist())
            accepted = surv.join(
                hits.select(F.col("q_id").alias("n_id")),
                "n_id", "left_anti")
            rejected = internal.unionByName(hits)
        else:
            hits = None
            accepted = surv
            rejected = internal

        # 3. idempotent writes: state under epoch partition (bucketed
        # by cell); audit written UNCONDITIONALLY — possibly empty —
        # so rejections() works from epoch 0 like the text twin
        write_epoch_table(accepted.select("n_id", "nv", "nsd", "cell"),
                          self.state_table, epoch_id,
                          (self.n_cell_buckets, "cell"))
        write_epoch_dir(rejected.select(F.col("q_id").alias("new_id"),
                                        "dup_of", "cos"),
                        self.dups_dir, epoch_id)

        n_batch = batch.count()
        n_acc = accepted.count()
        for df in (assigned, internal, surv) + (
                (hits,) if hits is not None else ()):
            df.unpersist()
        return {"vecs_seen": n_batch, "vecs_accepted": n_acc,
                "vecs_rejected": n_batch - n_acc}

    def bootstrap(self, corpus: DataFrame) -> None:
        """Seed the accepted state from an existing batch corpus
        (epoch -1, before attaching the stream) — the corpus itself
        passes through the batch-internal dedup first, so a seeded
        gate starts from a deduplicated baseline (mirrors
        _EpochPartitionedIndex.bootstrap).

        REFUSES to run when state already exists: bootstrap writes
        the epoch=-1 partition, which is exactly where
        ``compact_state`` folds the whole accepted corpus — on a
        compacted gate a late bootstrap would dedup against nothing
        (epoch -1 is excluded from its own probe) and then OVERWRITE
        the entire compacted corpus (silent data loss)."""
        if self.spark.catalog.tableExists(self.state_table):
            raise ValueError(
                f"{self.state_table} already has accepted state — "
                "bootstrap() only seeds a FRESH gate (its epoch=-1 "
                "write would collide with compact_state's fold "
                "partition). Stream the corpus through the attached "
                "gate instead.")
        self._gate_batch(corpus, epoch_id=-1)

    def accepted(self) -> DataFrame:
        return self.spark.table(self.state_table).select(
            F.col("n_id").alias(self.id_col), "cell", "epoch")

    def rejections(self) -> DataFrame:
        return read_epoch_dirs(self.spark, self.dups_dir)

    def compact_state(self) -> int:
        """Fold all epoch partitions into epoch -1 (run while the
        stream is stopped with its checkpoint committed), keeping the
        cell bucketing — ``epoch_sink.fold_epochs``. Returns the
        folded row count."""
        return fold_epochs(self.spark, self.state_table,
                           (self.n_cell_buckets, "cell"))
