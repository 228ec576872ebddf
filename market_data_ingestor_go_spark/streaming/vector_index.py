"""Streaming maintenance of materialized vector and postings indexes.

``operators/similarity.py::build_hyperplane_index`` materializes the
hyperplane-LSH index as a bucketed table — the 100 TB deployment
shape. This module keeps such indexes FRESH from an embedding stream:
each micro-batch of new vectors is transformed with the SAME
deterministic model artifact (hyperplanes / trained PQ codebooks) and
landed into the index table, so probes see new vectors within one
trigger and never recompute corpus-side state.

Exactly-once layout (shared by every maintainer via
``_EpochPartitionedIndex`` and streaming/epoch_sink.py): the managed
table is PARTITIONED by epoch, and a replayed epoch dynamically
overwrites ITS OWN partition (tested: replaying an epoch leaves the
row count unchanged). The hyperplane index additionally BUCKETS by the
LSH bucket id so the probe path keeps its pruned, shuffle-free scan
shape within every partition.

Scale posture: per-batch work is the batch's transform only (narrow
projection, no shuffle beyond the batch's write — never the existing
index). Probes reuse the batch operators unchanged
(``hyperplane_ann_from_index`` / ``pq_ann_from_index``): identical
planes/codebooks, probes and ranking as the on-the-fly paths.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (_hyperplanes, as_double, dot,
                                    hyperplane_ann_from_index,
                                    hyperplane_signature)
from .epoch_sink import (EpochCounter, EpochSink, fold_epochs,
                         write_epoch_table)


@dataclass
class _EpochPartitionedIndex(EpochSink):
    """An index table maintained from a stream: subclasses supply
    ``_transform`` (batch → index rows, no epoch column) and may
    bucket the table (``_bucketing``)."""

    spark: SparkSession
    table: str
    rows_indexed = EpochCounter()
    epochs = EpochCounter()

    def _transform(self, batch: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _bucketing(self) -> tuple[int, str] | None:
        return None

    def _process(self, batch: DataFrame, epoch_id: int) -> dict:
        write_epoch_table(self._transform(batch), self.table, epoch_id,
                          self._bucketing())
        return {"rows_indexed": batch.count()}

    # ``_gate_batch`` under the name the index tests replay epochs by
    def _index_batch(self, batch: DataFrame, epoch_id: int) -> None:
        self._gate_batch(batch, epoch_id)

    def bootstrap(self, corpus: DataFrame) -> None:
        """Seed the index from an existing batch corpus (epoch -1,
        which is not a stream epoch), before attaching the stream."""
        self._gate_batch(corpus, epoch_id=-1)

    def compact(self) -> int:
        """Fold all epoch partitions into epoch -1
        (``epoch_sink.fold_epochs``; run only while the stream is
        stopped with its checkpoint committed). Returns the compacted
        row count."""
        return fold_epochs(self.spark, self.table, self._bucketing())


@dataclass
class StreamingVectorIndex(_EpochPartitionedIndex):
    """foreachBatch maintainer of a bucketed hyperplane-LSH index."""

    METRICS_PREFIX = "vector_index"

    dim: int = 64
    n_planes: int = 6
    n_buckets: int = 16
    id_col: str = "vec_id"
    vec_col: str = "embedding"

    def _transform(self, batch: DataFrame) -> DataFrame:
        planes = _hyperplanes(self.dim, self.n_planes)
        c = batch.select(F.col(self.id_col).alias("n_id"),
                         as_double(self.vec_col).alias("nv"))
        return (c.withColumn("nsd", dot(F.col("nv"), F.col("nv")))
                .withColumn("bucket",
                            hyperplane_signature(F.col("nv"), planes)))

    def _bucketing(self) -> tuple[int, str]:
        return (self.n_buckets, "bucket")

    def probe(self, query_vectors: DataFrame, k: int = 5,
              multiprobe: int = 1) -> DataFrame:
        """ANN top-k against the CURRENT index contents — same
        semantics as random_hyperplane_ann over everything indexed so
        far (epoch partitions union transparently)."""
        return hyperplane_ann_from_index(
            self.spark, self.table, query_vectors, k=k, dim=self.dim,
            n_planes=self.n_planes, multiprobe=multiprobe,
            id_col=self.id_col, vec_col=self.vec_col)


@dataclass
class StreamingPQIndex(_EpochPartitionedIndex):
    """foreachBatch maintainer of the PQ CODES table — the
    encode-on-ingest half of the production PQ deployment (train
    offline → encode each arriving batch with the broadcast codebook
    → serve with ADC + rerank over the stored codes, zero encode at
    query time).

    ``codebook_rows`` is the trained artifact as plain rows
    (subspace, cell, cv) — the collected output of
    ``train_pq_codebooks`` — so the maintainer owns no lineage into
    the training corpus. Per-batch work is the batch's encode only;
    the existing index never rewrites. Probes reuse
    ``pq_ann_from_index`` unchanged, so an index probe is
    row-identical to ``pq_ann`` over everything indexed so far
    (tested)."""

    METRICS_PREFIX = "pq_index"

    codebook_rows: list = field(default_factory=list)
    id_col: str = "vec_id"
    vec_col: str = "embedding"

    def _codebooks(self) -> DataFrame:
        return self.spark.createDataFrame(
            self.codebook_rows, "subspace INT, cell INT, cv ARRAY<DOUBLE>")

    def _transform(self, batch: DataFrame) -> DataFrame:
        from ..operators.similarity import pq_encode
        return pq_encode(batch, self._codebooks(), self.id_col,
                         self.vec_col)

    def probe(self, query_vectors: DataFrame, k: int = 5,
              shortlist: int = 4) -> DataFrame:
        from ..operators.similarity import pq_ann_from_index
        return pq_ann_from_index(
            self.spark.table(self.table).drop("epoch"), query_vectors,
            self._codebooks(), k=k, shortlist=shortlist,
            id_col=self.id_col, vec_col=self.vec_col)


@dataclass
class StreamingPostingsIndex(_EpochPartitionedIndex):
    """foreachBatch maintainer of the BM25 inverted index — the
    tokenize-on-ingest half of the retrieval deployment: each
    arriving document batch lands as (doc_id, dl, term, tf) posting
    rows (operators/retrieval.py::doc_postings — the same transform
    as the batch index build, so the two can never drift).

    APPEND-ONLY CONTRACT (stated, not just implied): epochs may only
    add NEW doc_ids. Re-ingesting an existing doc_id with changed
    text appends a second posting set — both would serve, and the
    duplicate (doc_id, dl) pair double-counts N/TOT. The SUPPORTED
    update path is ``operators/retrieval.py::latest_epoch_postings``:
    dedup the index to each doc's newest epoch before stats/scoring
    (serve it with stats=None — the sidecar counts every epoch), or
    apply the same dedup at compaction so the folded index is
    update-clean; ``bm25_from_index`` documents the same contract.

    Only DOC-LOCAL quantities are stored; everything corpus-GLOBAL
    (df, N, total length) is derived by ``bm25_from_index`` from the
    index's CURRENT contents at serve time — which is exactly why a
    probe over the epoch union is row-identical to ``bm25_topk`` over
    everything indexed so far (tested), with no stale-df window.
    Per-batch work is the batch's explode + partial-agg only; the
    existing index never rewrites.

    STATS SIDECAR: each epoch write also lands ONE
    (epoch, n_docs, tot, max_dl) row in ``<table>_stats`` — same
    epoch partitioning, same dynamic-overwrite replay idempotence,
    landed by the same ``_process`` call so it can never lag the
    postings. ``probe`` sums the sidecar (n_docs/tot summed, max_dl
    maxed) instead of running ``bm25_from_index``'s full-index
    distinct — corpus stats at METADATA cost (one row per epoch),
    still stale-free, and max_dl arms the serve path's runtime
    decimal-headroom guard. Equality of sidecar-summed vs
    index-derived stats across appended epochs is tested. A
    pre-sidecar index (or one whose sidecar table is missing) falls
    back to stats=None — the full-index distinct — instead of
    failing."""

    METRICS_PREFIX = "postings_index"

    text_col: str = "text"
    id_col: str = "doc_id"

    @property
    def stats_table(self) -> str:
        return f"{self.table}_stats"

    def _transform(self, batch: DataFrame) -> DataFrame:
        from ..operators.retrieval import doc_postings
        return doc_postings(batch, self.text_col, self.id_col)

    def _process(self, batch: DataFrame, epoch_id: int) -> dict:
        counts = super()._process(batch, epoch_id)
        # one sidecar row per epoch, derived from THIS epoch's
        # postings partition (not the raw batch) so the sidecar and
        # the postings can never disagree on NULL-text / tokenization
        # semantics; the epoch partition is batch-sized.
        row = (self.spark.table(self.table)
               .filter(F.col("epoch") == int(epoch_id))
               .select("doc_id", "dl").distinct()
               .agg(F.count("*").alias("n_docs"),
                    F.coalesce(F.sum("dl"), F.lit(0)).alias("tot"),
                    F.coalesce(F.max("dl"), F.lit(0)).alias("max_dl")))
        write_epoch_table(row, self.stats_table, epoch_id)
        return counts

    def compact(self) -> int:
        n = super().compact()
        # fold the sidecar the same way (the SUM — the only readout —
        # is partition-invariant)
        fold_epochs(self.spark, self.stats_table)
        return n

    def probe(self, query_terms: list, k: int = 10) -> DataFrame:
        from ..operators.retrieval import bm25_from_index
        stats = None
        if self.spark.catalog.tableExists(self.stats_table):
            side = self.spark.table(self.stats_table)
            aggs = [F.sum("n_docs").alias("n_docs"),
                    F.sum("tot").alias("tot")]
            if "max_dl" in side.columns:  # older sidecars lack it
                aggs.append(F.max("max_dl").alias("max_dl"))
            stats = side.agg(*aggs)
        # stats=None (sidecar-less index, e.g. registered externally
        # or created without one): bm25_from_index's full-index distinct —
        # the previously-working derived-stats path, not an error
        return bm25_from_index(
            self.spark.table(self.table).drop("epoch"), query_terms,
            k=k, stats=stats)
