"""E1 — the ingest hot path as a Structured Streaming pipeline.

Reference dataflow (SURVEY.md §3 E1):

    WS frame → json decode (S2) → validate (P1) → exchange enrichment
    (P9/J1) → channel → worker micro-batch (flush on size/2 s timer)
    → PG append (K1) + Redis latest-value upsert (K2)

Spark realization:

    readStream(source) → from_json → P1 filter → broadcast join
    → writeStream.foreachBatch(dual_sink).trigger(processingTime='2s')
    with checkpointing

Semantics upgrades over the reference (documented, SURVEY.md §2.9):
- exactly-once per micro-batch (checkpoint + idempotent/transactional
  sink writes) vs the reference's at-most-once (3 retries then drop,
  processor.go:99-114);
- the latest-state view is timestamp-max last-write-wins, not
  arrival-order (cache_service.go:45-52 overwrites blindly).

The reference flushes K1 then K2 one after the other, with no atomicity
across the two stores. Here each sink is idempotent per epoch on its
own (history overwrites its epoch directory; the latest merge is a
timestamp-max swapped in whole), and neither reads the other's
output, so the two run concurrently on the persisted micro-batch: an
epoch's latency is the slower sink, not the sum. A failure in either
fails the epoch after both have stopped, and the replay rewrites both.

The latest state is small keyed state held in process, the
Structured Streaming split of in-memory state plus a durable snapshot
(SIGMOD 2018): ``IngestPipeline`` owns it as an Arrow table of at most
``MAX_LATEST_KEYS`` rows (the reference's Redis keyspace is ~500
symbols). Each epoch collects its batch's four columns to the driver
in one Spark job, merges them into the table (``merge_latest``), and
replaces the one-file parquet snapshot ``latest`` through
``fs.atomic_swap`` before the epoch commits. The snapshot is what
serve reads and what a restarted process loads back.

Scale posture: the only stateful piece is latest-per-key over ~O(500)
symbol keys — trivial state. History append is partition-parallel
parquet. At 100 TB/day the knobs are source admission
(maxFilesPerTrigger / maxOffsetsPerTrigger ≈ the reference's 10k
channel buffer, main.go:61) and sink file sizing — not operator
changes. Admission also bounds the latest sink's per-epoch collect:
it brings at most one trigger's admitted rows to the driver.
"""

from __future__ import annotations

import logging
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.market import MARKET_DATA_SCHEMA, validate
from ..operators.enrich import enrich_exchange
from ..operators.latest import latest_per_key
from ..sources import fs

log = logging.getLogger(__name__)

DEFAULT_TTL_MILLIS = 24 * 3600 * 1000  # REDIS_TTL default 24h, config.go:37

# The latest-state table's columns (the enriched ingest record). Both
# its writer and its readers pin it: an unpinned parquet read runs a
# footer-inference job on every call.
LATEST_SCHEMA = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("timestamp", T.LongType()),
    T.StructField("data", T.StringType()),
    T.StructField("exchange", T.StringType()),
])
LATEST_ARROW_SCHEMA = to_arrow_schema(LATEST_SCHEMA)

# The latest state lives in driver memory; past a million keys (a few
# hundred MB of records) it needs a keyed state store, so the epoch fails.
MAX_LATEST_KEYS = 1_000_000


def merge_latest(state: pa.Table, batch: pa.Table, horizon_ms: int) -> pa.Table:
    """The newest record per ``name`` over ``state`` ∪ ``batch`` (both
    ``LATEST_ARROW_SCHEMA``, names non-null as ``validate`` leaves
    them), then the TTL: records with ``timestamp`` below
    ``horizon_ms`` leave. Equal timestamps go to the larger
    ``data``, then the larger ``exchange`` (null lowest): a total order
    on the record, so the merge is a max over a set of rows, and
    merging the same batch again leaves the same table. The result is
    sorted by name."""
    rows = pa.concat_tables([state, batch])
    rows = rows.take(pc.sort_indices(rows, sort_keys=[
        ("name", "ascending"), ("timestamp", "descending"),
        ("data", "descending"), ("exchange", "descending")],
        null_placement="at_end"))
    if rows.num_rows:  # keep the first row of each run of one name
        names = rows.column("name").combine_chunks()
        rows = rows.filter(pa.concat_arrays(
            [pa.array([True]), pc.not_equal(names[1:], names[:-1])]))
    return rows.filter(pc.greater_equal(rows.column("timestamp"), horizon_ms))


def _to_latest_arrow(df: DataFrame) -> pa.Table:
    """One Spark job: ``df``'s latest-state columns as an Arrow table."""
    return df.select(*LATEST_SCHEMA.fieldNames()).toArrow() \
        .cast(LATEST_ARROW_SCHEMA)


def decode_raw_frames(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """S2: raw JSON frames → typed envelope; undecodable frames dropped
    and counted (ErrorsTotal{type="unmarshal"}, metrics.go:8-34 /
    ingestor.go:105-110) — the observe rides the executed lineage at
    zero extra scans."""
    from pyspark.sql import types as T
    schema_with_corrupt = T.StructType(
        list(MARKET_DATA_SCHEMA.fields)
        + [T.StructField("_corrupt", T.StringType())])
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), schema_with_corrupt,
                    {"columnNameOfCorruptRecord": "_corrupt"}).alias("r"))
    # PERMISSIVE parse puts the raw text in _corrupt on malformed input
    # (an all-null struct alone is NOT an unmarshal failure: `{}` is
    # valid JSON that later fails validation, a different counter)
    bad = F.col("r").isNull() | F.col("r._corrupt").isNotNull()
    parsed = parsed.observe(
        "decode",
        F.count(F.lit(1)).alias("frames_received"),
        F.sum(F.when(bad, 1).otherwise(0)).alias("errors_unmarshal"))
    return (parsed.filter(~bad)
            .select(*[f"r.{f.name}" for f in MARKET_DATA_SCHEMA.fields]))


def dedup_frames_within(df: DataFrame, horizon: str = "10 minutes",
                        keys: tuple = ("name", "timestamp")) -> DataFrame:
    """Effectively-once upgrade for at-least-once sources: drop exact
    duplicate frames (same key tuple) arriving within ``horizon`` of
    event time. The WS source replays its connection buffer after a
    crash (at-least-once, streaming/sources.py) — this stage makes the
    pipeline end-to-end effectively-once even when the replay crosses
    an epoch boundary, the case epoch-idempotent sinks can't cover.

    Streaming: ``dropDuplicatesWithinWatermark`` — state is bounded by
    the watermark horizon (keys seen per horizon window), evicted by
    event time; at 100 TB state size is |keys within horizon|, not the
    stream's history. Batch: plain dropDuplicates (same contract)."""
    wm = df.withColumn("_event_ts", F.timestamp_millis(F.col("timestamp")))
    if df.isStreaming:
        wm = wm.withWatermark("_event_ts", horizon)
        out = wm.dropDuplicatesWithinWatermark(list(keys))
    else:
        out = wm.dropDuplicates(list(keys))
    return out.drop("_event_ts")


def build_ingest_stream(frames: DataFrame, symbols_dim: DataFrame) -> DataFrame:
    """The logical ingest plan: decode → validate → enrich.

    ``frames`` may be batch or streaming; the plan is identical (that's
    the point of declaring it in DataFrame algebra).
    """
    decoded = frames
    if "name" not in frames.columns:  # raw wire frames
        decoded = decode_raw_frames(frames)
    validated = validate(decoded)
    observed = validated.observe(
        "ingest", F.count(F.lit(1)).alias("messages_processed")) \
        if not validated.isStreaming else validated
    return enrich_exchange(observed, symbols_dim)


@dataclass
class IngestPipeline:
    """Checkpointed dual-sink ingest runner (K1 + K2 in one foreachBatch).

    - history: append-only parquet table (market_data DDL semantics,
      postgres.go:52-58 — duplicates allowed, ts==0 rows skipped).
      Each micro-batch lands in its own ``epoch=<id>`` partition
      directory written with mode=overwrite, so replaying an epoch
      after a crash rewrites the same directory instead of appending
      duplicates — idempotent, hence exactly-once end to end.
    - latest : per-symbol latest-value state (the Redis cache,
      cache_service.go:37-61), TTL-evicted like `EX ttl`. The state is
      an Arrow table held by this object; each epoch merges its batch
      in (``merge_latest``: timestamp-max, idempotent) and writes the
      result as a one-file parquet snapshot at ``latest``, replaced via
      an atomic rename swap with a ``.old`` backup (sources/fs.py) — a
      crash mid-swap never loses the table. The in-memory table
      changes only after the swap, so a failed epoch leaves both as
      they were. A fresh object loads the snapshot on its first epoch;
      a replayed epoch then merges to the same table. Past
      ``MAX_LATEST_KEYS`` the epoch raises before the snapshot.

    The two writes share one persisted micro-batch (one scan) and run
    concurrently on two threads. That is safe because each sink is
    idempotent per epoch by itself and there is no cross-sink
    atomicity to keep (the reference has none either): a replay after
    one sink failed rewrites the sink that landed with the same
    result. ``_write_batch`` waits for both before it raises the first
    error, so no job of a failed epoch outlives it.

    ``base_dir`` owns the checkpoint AND both sinks as one unit:
    deleting the checkpoint but keeping the sinks (or vice versa)
    breaks the epoch/replay contract, exactly as it would for any
    exactly-once sink.
    """

    spark: SparkSession
    base_dir: str
    symbols_dim: DataFrame
    ttl_millis: int = DEFAULT_TTL_MILLIS
    trigger_seconds: int = 2  # FLUSH_INTERVAL default, config.go:38
    # Opt-in 100 TB layout: nest ds=<event date> partitions inside each
    # epoch dir, so time-range history scans prune at the directory
    # level (epoch stays OUTER — overwriting one epoch dir keeps the
    # crash-replay idempotence contract regardless of which dates the
    # batch touched). Off by default: tiny local tables don't need the
    # extra directory fan-out.
    partition_by_date: bool = False
    # Optional LIVE Redis mirror for the latest-value cache (K2,
    # cache_service.go:37-61): when set to (host, port), each
    # micro-batch's latest rows are pipelined SET..PX over the RESP
    # wire client (sources/redis_minimal) alongside the parquet state
    # table — the reference's actual cache target, best-effort like
    # its async cache write.
    redis_latest: tuple | None = None
    # Optional effectively-once stage: drop duplicate (name, timestamp)
    # frames within this event-time horizon (e.g. "10 minutes") before
    # the sinks — covers at-least-once source replays that cross epoch
    # boundaries (see dedup_frames_within). None = off (reference
    # semantics: duplicates allowed in history, postgres.go:52-58).
    dedup_horizon: str | None = None
    # Optional LIVE PostgreSQL history mirror (K1's actual target,
    # postgres.go:103-136): (host, port[, user[, database]]) — each
    # micro-batch also lands as a transactional batch INSERT over the
    # v3 wire client. Best-effort like the reference's
    # retry-then-drop (processor.go:99-101): a down database never
    # fails the epoch; the parquet history stays the exactly-once
    # record.
    pg_history: tuple | None = None
    queries: list = field(default_factory=list)
    redis_failures: int = 0  # observability: dropped cache writes
    pg_failures: int = 0     # observability: dropped PG batch inserts

    def __post_init__(self):
        self._latest: pa.Table | None = None  # loaded on the first epoch

    @property
    def history_path(self) -> str:
        return os.path.join(self.base_dir, "history")

    @property
    def latest_path(self) -> str:
        return os.path.join(self.base_dir, "latest")

    def _write_batch(self, batch: DataFrame, epoch_id: int) -> None:
        batch = batch.filter(F.col("timestamp") != 0)  # P2 sink guard
        batch.persist()
        try:
            # K1 and K2 are independent and each idempotent per epoch,
            # so they run side by side on the one persisted batch. The
            # wrapper copies this thread's job group and tags (the
            # query's) into each worker, so stop() still cancels them.
            inherit = inheritable_thread_target(batch.sparkSession)
            with ThreadPoolExecutor(2, thread_name_prefix="ingest-sink") as pool:
                futures = [
                    pool.submit(inherit(self._write_history), batch, epoch_id),
                    pool.submit(inherit(self._write_latest), batch)]
            # both have finished: raise the first error, log a second
            errors = [e for e in (f.exception() for f in futures)
                      if e is not None]
            for e in errors[1:]:
                log.error("epoch %d: second sink also failed", epoch_id,
                          exc_info=e)
            if errors:
                raise errors[0]
        finally:
            batch.unpersist()

    def _write_history(self, batch: DataFrame, epoch_id: int) -> None:
        """K1: history append, idempotent per epoch — replaying a
        crashed epoch overwrites its own partition directory instead of
        duplicating rows."""
        epoch_dir = os.path.join(self.history_path, f"epoch={int(epoch_id)}")
        if self.partition_by_date:
            (batch.withColumn(
                "ds", F.to_date(F.timestamp_millis(F.col("timestamp"))))
             .write.mode("overwrite").partitionBy("ds").parquet(epoch_dir))
        else:
            batch.write.mode("overwrite").parquet(epoch_dir)
        if self.pg_history is not None:
            from ..sources.connectors import pg_wire_append
            try:
                pg_wire_append(batch, *self.pg_history)
            except Exception:
                self.pg_failures += 1  # retry-exhausted → drop
                log.warning("PG history mirror dropped epoch %d", epoch_id,
                            exc_info=True)

    def _write_latest(self, batch: DataFrame) -> None:
        """K2/A1: merge the batch into the in-memory latest state and
        replace the snapshot. One Spark job collects the batch's four
        columns; source admission (``maxFramesPerTrigger``, the
        reference's 10k channel, main.go:61) bounds what it brings to
        the driver. The merge and the one-file snapshot run without
        Spark. Only a missing snapshot (first run, or crash mid-swap →
        backup) is tolerated on the cold-start load; real IO errors
        propagate and fail the epoch rather than silently dropping old
        keys."""
        if self.redis_latest is not None:
            # best-effort like the reference's cache write (a
            # processor.go retry exhausting is LOGGED AND DROPPED,
            # at-most-once) — a down cache must not fail the epoch
            # and take the exactly-once parquet sinks with it
            from ..sources.connectors import redis_wire_latest_sink
            new_latest = latest_per_key(batch, "name", "timestamp")
            try:
                redis_wire_latest_sink(
                    new_latest, self.redis_latest[0],
                    self.redis_latest[1], ttl_millis=self.ttl_millis)
            except Exception:
                self.redis_failures += 1
                log.warning("Redis latest mirror dropped a batch",
                            exc_info=True)
        spark = batch.sparkSession
        if self._latest is None:  # cold start: once per process
            old = fs.read_with_backup(spark, self.latest_path,
                                      schema=LATEST_SCHEMA)
            self._latest = (LATEST_ARROW_SCHEMA.empty_table() if old is None
                            else _to_latest_arrow(old))
        fresh = _to_latest_arrow(batch)
        # TTL eviction ≈ Redis EX (cache_service.go:45-52)
        horizon = int(time.time() * 1000) - self.ttl_millis
        merged = merge_latest(self._latest, fresh, horizon)
        if merged.num_rows > MAX_LATEST_KEYS:
            raise RuntimeError(
                f"latest state holds {merged.num_rows} keys, over "
                f"MAX_LATEST_KEYS={MAX_LATEST_KEYS}")
        snapshot = pa.BufferOutputStream()
        pq.write_table(merged, snapshot)
        # micro-batches are sequential → one reusable staging dir
        staging = self.latest_path + ".staging"
        fs.write_dir(spark, staging, {
            "part-00000.parquet": snapshot.getvalue().to_pybytes(),
            "_SUCCESS": b""})
        fs.atomic_swap(spark, staging, self.latest_path)
        self._latest = merged

    def start(self, frames: DataFrame):
        enriched = build_ingest_stream(frames, self.symbols_dim)
        if self.dedup_horizon is not None:
            enriched = dedup_frames_within(enriched, self.dedup_horizon)
        q = (
            enriched.writeStream
            .foreachBatch(self._write_batch)
            .option("checkpointLocation", os.path.join(self.base_dir, "checkpoint"))
            .trigger(processingTime=f"{self.trigger_seconds} seconds")
            .start()
        )
        self.queries.append(q)
        return q

    def metrics(self) -> dict:
        """Ingest-side gauges for the /metrics endpoint (register via
        ``registry.gauge_sources.append(pipe.metrics)``)."""
        return {"ingest_redis_dropped_writes": self.redis_failures,
                "ingest_pg_dropped_batches": self.pg_failures}

    def latest_snapshot(self) -> DataFrame | None:
        """S5: the cache full-scan read (cache_service.go:67-93), with
        the schema pinned (``LATEST_SCHEMA``), so building it runs no
        job. Falls back to the ``.old`` backup if a crash mid-swap left
        the live path missing (sources/fs.py::atomic_swap contract).
        None before the first epoch has written the table."""
        return fs.read_with_backup(self.spark, self.latest_path,
                                   schema=LATEST_SCHEMA)

    def history(self) -> DataFrame:
        """The append-only history table without the epoch partition
        bookkeeping column."""
        return read_history(self.spark, self.history_path)


def read_history(spark: SparkSession, history_path: str) -> DataFrame:
    """Read the epoch-partitioned history table, dropping the
    ``epoch`` bookkeeping partition column."""
    df = spark.read.parquet(history_path)
    return df.drop("epoch") if "epoch" in df.columns else df


def compact_history(spark: SparkSession, history_path: str,
                    target_partitions: int | None = None,
                    zorder_by: list[str] | None = None) -> int:
    """Compact the append-only history table's small files.

    Every micro-batch writes its own ``epoch=<id>`` directory with a
    few files; at a 2 s trigger that is ~43k files/day — the classic
    streaming-sink small-files problem that degrades scan planning and
    NameNode/liststatus at scale. This rewrites the table at
    ``target_partitions`` (default: size-based, ~128 MB per file) into
    a single ``epoch=-1`` partition via a staging directory + atomic
    rename swap (sources/fs.py — storage-agnostic, no local ``os``
    calls), preserving every row. Returns the new file count.

    ``zorder_by`` (numeric columns) additionally Z-orders the rewrite
    (sources/layout.py): the compaction shuffle it already pays becomes
    a range shuffle on the Morton code, so post-compaction files carry
    tight min/max footer stats on EVERY listed column — this is when
    layout optimization belongs in a streaming table's lifecycle
    (Delta's OPTIMIZE ZORDER BY does exactly this), since per-trigger
    micro-batches are too small to lay out well.

    Run it only while the stream is stopped with its checkpoint fully
    committed (no epoch pending replay): compaction folds epochs
    together, so a replay after compaction would re-create its epoch
    directory and duplicate those rows.
    """
    df = read_history(spark, history_path)
    if target_partitions is None:
        total_bytes = fs.total_size(spark, history_path)
        target_partitions = max(1, total_bytes // (128 * 1024 * 1024))
    staging = history_path + ".compact"
    if zorder_by:
        from ..sources.layout import bucket_rank, quantile_boundaries, z_value
        ranks = [bucket_rank(c, quantile_boundaries(df, c)) for c in zorder_by]
        df = df.withColumn("_z", z_value(ranks))
    # keep the epoch=<id> directory layout (mixing bare files and
    # partition dirs under one root breaks partition discovery); a
    # date-partitioned table likewise must KEEP ds as a partition
    # column — new epochs will write ds=<date> dirs, and a column
    # can't be partition-dir in some files and data in others.
    if "ds" in df.columns:
        # cluster by ds so each date dir gets dense files instead of
        # one sliver per (task × date); with zorder_by, range-cluster
        # (ds, z) so each date's files tile its own Z-curve
        keys = ["ds", "_z"] if zorder_by else ["ds"]
        clustered = df.repartitionByRange(int(target_partitions), *keys) \
            .sortWithinPartitions(*keys) if zorder_by \
            else df.repartition(int(target_partitions), "ds")
        writer = clustered.drop("_z").write.mode("overwrite").partitionBy("ds")
    elif zorder_by:
        writer = df.repartitionByRange(int(target_partitions), "_z") \
            .sortWithinPartitions("_z").drop("_z").write.mode("overwrite")
    else:
        writer = df.repartition(int(target_partitions)).write.mode("overwrite")
    writer.parquet(os.path.join(staging, "epoch=-1"))
    fs.atomic_swap(spark, staging, history_path)
    return len(fs.list_files(spark, history_path))
