"""Streaming interval-overlap maintainer.

Batch interval × interval overlap
(``operators/timeseries.py::interval_overlap_join`` — the r12 grid-cell
equi-join) answers "which pairs of these intervals intersect"; an
INGEST pipeline needs the online form: "which already-seen intervals
does this arriving one overlap" — decided per micro-batch. This is a
JOIN maintainer, not a filter: every interval is accepted into the
index; overlap PAIRS are the product.

State: ``<base>_cells`` — (id, s, e, cell, epoch): the grid-cell
postings of every seen interval (one row per ``bucket``-width cell the
interval touches), partitioned by epoch (idempotent replay) and
BUCKETED by ``cell`` so the per-batch probe equi-joins it with the
tiny batch side broadcast — the accumulated index never shuffles.

Per micro-batch:
1. batch-internal pairs: the SHARED ``interval_overlap_join`` (keyed
   form — ONE copy of the grid-cell machinery), oriented id_a < id_b;
2. vs-corpus: the batch's cell postings (broadcast) equi-join the
   state table on ``cell``, pair-dedup on (new id, old id), exact
   closed-interval post-filter, each pair oriented (min id, max id);
3. both pair sets land in ``<base>_matches`` under this epoch's
   directory; the batch's postings append under this epoch's state
   partition.

Prefix-completeness contract (tested): after any micro-batch split of
an interval set, ``matches()`` equals the BATCH self-join over the
full set (id_a < id_b) — each overlap pair is emitted exactly once,
when its later-arriving member arrives.

Replay contract: state + match writes are epoch-idempotent
(streaming/epoch_sink.py), and the vs-corpus probe excludes the current
epoch's own partitions so a crash-replay never re-pairs a batch
against its own failed attempt — the dedup-gate contract verbatim.

At 100 TB this is the live interval index (bounded: one narrow row
per touched cell); every join is an equi-join with the batch side
broadcast, and cell postings prune exactly as in the batch operator.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.timeseries import interval_overlap_join
from .epoch_sink import (EpochCounter, EpochSink, read_epoch_dirs,
                         write_epoch_dir, write_epoch_table)


@dataclass
class IntervalOverlapMaintainer(EpochSink):
    """foreachBatch interval-overlap maintenance against an
    accumulated grid-cell posting index. Input batches carry
    (``id_col``, ``start_col``, ``end_col``) CLOSED integer
    intervals; ids must be globally unique (pair identity)."""

    METRICS_PREFIX = "interval_index"

    spark: SparkSession
    base_table: str
    matches_dir: str | None = None
    id_col: str = "id"
    start_col: str = "s"
    end_col: str = "e"
    bucket: int = 32
    n_buckets: int = 16
    intervals_seen = EpochCounter()
    pairs_emitted = EpochCounter()

    def __post_init__(self):
        if self.bucket < 1:
            raise ValueError("bucket width must be >= 1")

    @property
    def cells_table(self) -> str:
        return f"{self.base_table}_cells"

    @property
    def matches_path(self) -> str:
        return self.matches_dir or f"{self.base_table}_matches"

    def _rows(self, batch: DataFrame) -> DataFrame:
        return batch.select(F.col(self.id_col).alias("id"),
                            F.col(self.start_col).alias("s"),
                            F.col(self.end_col).alias("e"))

    def _cell_rows(self, rows: DataFrame) -> DataFrame:
        """(id, s, e, cell) — one posting per grid cell the interval
        touches: the state-table layout AND the probe layout."""
        return rows.select(
            "id", "s", "e",
            F.explode(F.sequence(F.expr(f"s div {self.bucket}"),
                                 F.expr(f"e div {self.bucket}")))
            .alias("cell"))

    def _process(self, batch: DataFrame, epoch_id: int) -> dict:
        rows = self._rows(batch).localCheckpoint(eager=True)
        n_seen = rows.count()

        # 1) batch-internal pairs: the shared keyed grid-cell join,
        # oriented id_a < id_b so each unordered pair appears once
        a = rows.select(F.col("id").alias("id_a"),
                        F.col("s").alias("a_s"), F.col("e").alias("a_e"))
        b = rows.select(F.col("id").alias("id_b"),
                        F.col("s").alias("b_s"), F.col("e").alias("b_e"))
        internal = (interval_overlap_join(a, b, "a_s", "a_e",
                                          "b_s", "b_e", self.bucket,
                                          a_keys=["id_a"],
                                          b_keys=["id_b"])
                    .filter(F.col("id_a") < F.col("id_b"))
                    .select("id_a", "id_b", "overlap"))

        # 2) vs-corpus: batch postings broadcast-probe the bucketed
        # index, excluding THIS epoch's partitions (replay contract);
        # dedup multi-cell candidates on the key pair, then the exact
        # closed-interval filter — the batch operator's shape verbatim
        corpus = None
        if self.spark.catalog.tableExists(self.cells_table):
            not_self = F.col("epoch") != F.lit(int(epoch_id))
            idx = self.spark.table(self.cells_table).filter(not_self)
            kb = (self._cell_rows(rows)
                  .select(F.col("id").alias("n_id"),
                          F.col("s").alias("n_s"),
                          F.col("e").alias("n_e"), "cell"))
            overlap = (F.least(F.col("n_e"), F.col("e"))
                       - F.greatest(F.col("n_s"), F.col("s")) + 1)
            corpus = (F.broadcast(kb)
                      .join(idx, "cell")
                      .dropDuplicates(["n_id", "id"])
                      .filter((F.col("n_s") <= F.col("e"))
                              & (F.col("s") <= F.col("n_e")))
                      .select(F.least("n_id", "id").alias("id_a"),
                              F.greatest("n_id", "id").alias("id_b"),
                              overlap.alias("overlap")))

        pairs = internal if corpus is None \
            else internal.unionByName(corpus)
        n_pairs = write_epoch_dir(pairs, self.matches_path, epoch_id,
                                  n=F.count("*"))["n"]
        write_epoch_table(self._cell_rows(rows), self.cells_table,
                          epoch_id, (self.n_buckets, "cell"))
        return {"intervals_seen": n_seen, "pairs_emitted": n_pairs}

    def matches(self) -> DataFrame:
        """All emitted overlap pairs: (id_a, id_b, overlap),
        id_a < id_b, each exactly once across the stream's life."""
        return read_epoch_dirs(self.spark, self.matches_path)

    def indexed_ids(self) -> DataFrame:
        return (self.spark.table(self.cells_table)
                .select("id").distinct())
