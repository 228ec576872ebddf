"""Streaming perceptual near-dup gate for media blobs.

Batch perceptual dedup (``operators/multimodal.py::image_neardup_pairs``
/ ``audio_neardup_pairs``) answers "which of these images/clips are
re-encoded/resized/regained copies of each other"; a training-data
INGEST pipeline needs the online form: "is this arriving image (or
audio clip) a perceptual duplicate of anything already accepted" —
decided per micro-batch, before the blob lands in a shard. The
StreamingDedupGate shape (text MinHash) carries over with the
64-bit fingerprint machinery swapped in:

- ``<table>_fp`` : (id, fp, blk, bv, epoch) — the pigeonhole block
  rows of every ACCEPTED blob's fingerprint (dHash for images, the
  spectral fingerprint for audio), partitioned by epoch (idempotent
  replay) and BUCKETED by ``bv`` so the per-batch candidate join
  probes it with the tiny batch side broadcast — the accumulated
  index never shuffles.

Per micro-batch:
1. fingerprint the batch (ONE Arrow decode pass); undecodable blobs
   are ACCEPTED but not indexed (no fingerprint → nothing to compare;
   counted in the audit as the honest-NULL route);
2. batch-internal dedup: pigeonhole Hamming pairs within the batch,
   reject the larger id of each pair (deterministic min-id keeper);
3. vs-corpus: the batch's block rows (broadcast) equi-join the state
   table on (blk, bv); candidates within ``max_hamming`` reject, each
   recording its closest accepted twin (min Hamming, then min id);
4. survivors append their block rows under this epoch's partition;
   rejections land in ``<table>_dups`` (id, dup_of, hamming, epoch).

Replay contract: state + audit writes are epoch-idempotent (dynamic
partition overwrite), and the vs-corpus probe excludes the current
epoch's own partitions so a crash-replay never self-rejects — the
StreamingDedupGate contract verbatim.

At 100 TB the fingerprint table IS the perceptual-dedup index real
media pipelines keep (64-bit hash store keyed by block value): state
is 4 narrow rows per accepted blob regardless of blob size, and every
join is an equi-join with the batch side broadcast.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import hamming_pairs
from ..operators.multimodal import (audio_afp, image_dhash,
                                    video_frame_signatures)
from .epoch_sink import (EpochCounter, EpochSink, read_epoch_dirs,
                         write_epoch_dir, write_epoch_table)

_SIGNERS = {
    "image": (image_dhash, "img_id", "dhash"),
    "audio": (audio_afp, "audio_id", "afp"),
}


@dataclass
class _FingerprintGate(EpochSink):
    """State and audit naming shared by the perceptual gates:
    ``<base_table>_fp`` holds accepted fingerprints, the audit of
    rejections defaults to ``<base_table>_dups``."""

    @property
    def fp_table(self) -> str:
        return f"{self.base_table}_fp"

    @property
    def dups_path(self) -> str:
        return self.dups_dir or f"{self.base_table}_dups"

    def duplicates(self) -> DataFrame:
        """Audit table of rejected items: (id, dup_of, <distance>)."""
        return read_epoch_dirs(self.spark, self.dups_path)

    def accepted_ids(self) -> DataFrame:
        """Ids of every accepted (fingerprinted) item so far."""
        return self.spark.table(self.fp_table).select("id").distinct()


@dataclass
class PerceptualGate(_FingerprintGate):
    """foreachBatch perceptual dedup against an accumulated
    fingerprint index. ``modality`` picks the signature kernel:
    'image' (dHash over decoded luma) or 'audio' (spectral-band
    fingerprint over decoded PCM)."""

    METRICS_PREFIX = "perceptual_gate"

    spark: SparkSession
    base_table: str
    modality: str = "image"
    dups_dir: str | None = None
    binary_col: str = "content"
    id_col: str = "img_id"
    max_hamming: int = 2
    num_blocks: int = 4
    n_buckets: int = 16
    blobs_seen = EpochCounter()
    blobs_accepted = EpochCounter()
    blobs_rejected = EpochCounter()

    def __post_init__(self):
        if self.modality not in _SIGNERS:
            raise ValueError(f"unknown modality {self.modality!r} "
                             f"(expected one of {sorted(_SIGNERS)})")
        # mirrors hamming_pairs' runtime guard, surfaced at
        # CONSTRUCTION so a misconfigured gate fails before its first
        # micro-batch rather than inside foreachBatch
        if self.max_hamming > self.num_blocks - 1:
            raise ValueError("pigeonhole completeness needs "
                             "max_hamming <= num_blocks-1")

    def _signatures(self, batch: DataFrame) -> DataFrame:
        """(id, fp) for every decodable blob in the batch."""
        signer, sig_id, sig_col = _SIGNERS[self.modality]
        sig = signer(batch, self.binary_col, self.id_col)
        return sig.select(F.col(sig_id).alias("id"),
                          F.col(sig_col).alias("fp"))

    def _block_rows(self, sig: DataFrame) -> DataFrame:
        """Explode (id, fp) into the 4 pigeonhole rows (id, fp, blk,
        bv) — the state-table layout AND the probe layout."""
        width = 64 // self.num_blocks
        mask = (1 << width) - 1
        blocks = F.array(*[
            F.struct(F.lit(i).alias("blk"),
                     F.shiftright(F.col("fp"), i * width)
                     .bitwiseAND(F.lit(mask)).alias("bv"))
            for i in range(self.num_blocks)])
        return (sig.select("id", "fp", F.explode(blocks).alias("b"))
                .select("id", "fp", "b.blk", "b.bv"))

    def _process(self, batch: DataFrame, epoch_id: int) -> dict:
        n_seen = batch.count()
        sig = self._signatures(batch).persist()
        decodable = sig.filter(F.col("fp").isNotNull())
        undecodable = sig.filter(F.col("fp").isNull())

        # 1) batch-internal dedup: the shared pigeonhole machinery
        # (operators/dedup.py::hamming_pairs), rejecting the larger id
        # of each pair (min-id keeper)
        pairs = hamming_pairs(decodable, "id", "fp",
                              self.max_hamming, self.num_blocks)
        internal = (pairs
                    .select(F.col("id_b").alias("id"),
                            F.col("id_a").alias("dup_of"), "hamming")
                    .groupBy("id")
                    .agg(F.min_by("dup_of", F.struct(
                        F.col("hamming").alias("h"),
                        F.col("dup_of").alias("t"))).alias("dup_of"),
                        F.min("hamming").alias("hamming"))).persist()
        keepers = decodable.join(internal.select("id"), "id", "left_anti")

        # 2) vs-corpus: batch blocks broadcast-probe the bucketed
        # fingerprint index, excluding THIS epoch's partitions (a
        # crash-replay must not reject the batch against its own
        # failed attempt's state — the dedup-gate replay contract).
        corpus = None
        if self.spark.catalog.tableExists(self.fp_table):
            not_self = F.col("epoch") != F.lit(int(epoch_id))
            idx = self.spark.table(self.fp_table).filter(not_self)
            kb = self._block_rows(keepers) \
                .select(F.col("id").alias("a_id"),
                        F.col("fp").alias("a_fp"), "blk", "bv")
            ham2 = F.bit_count(F.col("a_fp").bitwiseXOR(F.col("fp")))
            corpus = (F.broadcast(kb)
                      .join(idx, ["blk", "bv"])
                      .select("a_id", F.col("id").alias("b_id"),
                              ham2.alias("hamming"))
                      .filter(F.col("hamming") <= F.lit(self.max_hamming))
                      .groupBy("a_id")
                      .agg(F.min_by("b_id", F.struct(
                          F.col("hamming").alias("h"),
                          F.col("b_id").alias("t"))).alias("dup_of"),
                          F.min("hamming").alias("hamming"))
                      .select(F.col("a_id").alias("id"),
                              "dup_of", "hamming")).persist()
            accepted = keepers.join(corpus.select("id"), "id", "left_anti")
        else:
            accepted = keepers

        # lineage of `accepted` READS the fp table (the anti probe);
        # truncate before the insert that overwrites it
        accepted_rows = self._block_rows(accepted).localCheckpoint()

        dups = internal if corpus is None else internal.unionByName(corpus)
        n_rejected = write_epoch_dir(dups, self.dups_path, epoch_id,
                                     n=F.count("*"))["n"]
        # undecodable blobs are accepted-but-unindexed (honest NULL)
        n_accepted = (accepted_rows.count() // self.num_blocks
                      + undecodable.count())

        write_epoch_table(accepted_rows, self.fp_table, epoch_id,
                          (self.n_buckets, "bv"))
        sig.unpersist()
        internal.unpersist()
        if corpus is not None:
            corpus.unpersist()
        return {"blobs_seen": n_seen, "blobs_accepted": n_accepted,
                "blobs_rejected": n_rejected}


@dataclass
class VideoGate(_FingerprintGate):
    """foreachBatch perceptual dedup for CLIPS: a clip is a SET of
    frame dHashes, so duplicate identity is "≥ ``min_shared`` frames
    hash identically against one accepted clip" — the posting-count
    criterion of ``video_neardup_pairs``, applied at the door. Same
    epoch-idempotent state/audit/replay contract as PerceptualGate,
    with a posting-shaped state table:

    - ``<table>_fp``   : (id, fp, epoch) — DISTINCT frame hashes of
      accepted clips, bucketed by ``fp`` so the per-batch probe is a
      broadcast equi-join into the bucketed store;
    - ``<table>_dups`` : (id, dup_of, n_shared, epoch) — each
      rejected clip's closest accepted twin (max shared frames, then
      min id).

    Undecodable/non-GIF clips contribute zero frame rows and are
    accepted-but-unindexed (the honest-NULL posture in fan-out form).
    """

    METRICS_PREFIX = "video_gate"

    spark: SparkSession
    base_table: str
    dups_dir: str | None = None
    binary_col: str = "content"
    id_col: str = "vid_id"
    every_nth: int = 1
    min_shared: int = 3
    n_buckets: int = 16
    clips_seen = EpochCounter()
    clips_accepted = EpochCounter()
    clips_rejected = EpochCounter()

    def __post_init__(self):
        if self.min_shared < 1:
            raise ValueError("min_shared must be >= 1")

    def _process(self, batch: DataFrame, epoch_id: int) -> dict:
        n_seen = batch.count()
        sig = (video_frame_signatures(batch, self.binary_col,
                                      self.id_col, self.every_nth)
               .select(F.col("vid_id").alias("id"),
                       F.col("dhash").alias("fp"))
               .distinct().localCheckpoint(eager=True))
        all_ids = (batch.select(F.col(self.id_col).alias("id"))
                   .distinct().localCheckpoint(eager=True))

        # 1) batch-internal: shared-posting pairs within the batch,
        # reject the larger id of each qualifying pair
        a = sig.select(F.col("id").alias("a_id"), "fp")
        b = sig.select(F.col("id").alias("b_id"), "fp")
        internal = (a.join(b, "fp")
                    .filter(F.col("a_id") < F.col("b_id"))
                    .groupBy(F.col("b_id").alias("id"),
                             F.col("a_id").alias("dup_of"))
                    .agg(F.count("*").alias("n_shared"))
                    .filter(F.col("n_shared") >= F.lit(self.min_shared))
                    .groupBy("id")
                    .agg(F.min_by("dup_of", F.struct(
                        (-F.col("n_shared")).alias("ns"),
                        F.col("dup_of").alias("t"))).alias("dup_of"),
                        F.max("n_shared").alias("n_shared"))).persist()
        keepers = sig.join(internal.select("id"), "id", "left_anti")

        # 2) vs-corpus: batch postings broadcast-probe the bucketed
        # store, excluding THIS epoch's partitions (replay contract)
        corpus = None
        if self.spark.catalog.tableExists(self.fp_table):
            not_self = F.col("epoch") != F.lit(int(epoch_id))
            idx = self.spark.table(self.fp_table).filter(not_self)
            kb = keepers.select(F.col("id").alias("a_id"), "fp")
            corpus = (F.broadcast(kb)
                      .join(idx, "fp")
                      .groupBy(F.col("a_id").alias("id"),
                               F.col("id").alias("dup_of"))
                      .agg(F.count("*").alias("n_shared"))
                      .filter(F.col("n_shared")
                              >= F.lit(self.min_shared))
                      .groupBy("id")
                      .agg(F.min_by("dup_of", F.struct(
                          (-F.col("n_shared")).alias("ns"),
                          F.col("dup_of").alias("t"))).alias("dup_of"),
                          F.max("n_shared").alias("n_shared"))).persist()
            accepted = keepers.join(corpus.select("id"), "id",
                                    "left_anti")
        else:
            accepted = keepers

        accepted_rows = accepted.localCheckpoint(eager=True)

        dups = internal if corpus is None else internal.unionByName(corpus)
        n_rejected = write_epoch_dir(dups, self.dups_path, epoch_id,
                                     n=F.count("*"))["n"]
        n_accepted = all_ids.count() - n_rejected

        write_epoch_table(accepted_rows, self.fp_table, epoch_id,
                          (self.n_buckets, "fp"))
        internal.unpersist()
        if corpus is not None:
            corpus.unpersist()
        return {"clips_seen": n_seen, "clips_accepted": n_accepted,
                "clips_rejected": n_rejected}
