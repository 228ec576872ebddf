"""The foreachBatch epoch-sink contract shared by every streaming gate,
maintainer and index.

A micro-batch is written once per epoch, and a replayed epoch (the
retry Structured Streaming runs after a crash, keyed by the
foreachBatch epoch id) replaces what its first attempt wrote:

- state tables are partitioned by ``epoch`` and written with dynamic
  partition overwrite (``write_epoch_table``);
- audit rows land under ``<root>/epoch=N`` with mode=overwrite
  (``write_epoch_dir``), as many files as the batch has partitions;
- counters are kept per epoch id, so a replay replaces its epoch's
  counts instead of adding to them.

A subclass declares its counters as ``EpochCounter()`` class
attributes and its ``METRICS_PREFIX``, prepares any model or reference
tables in ``__post_init__`` (``_pin``), and implements
``_process(batch, epoch_id)``: the epoch's scoring and writes,
returning its counts by counter name.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class EpochCounter:
    """Read-only counter attribute: the sum of one count over the
    epochs processed. ``metric`` is its ``metrics()`` key suffix
    (default: the attribute name)."""

    def __init__(self, metric: str | None = None):
        self.metric = metric

    def __set_name__(self, owner, name: str) -> None:
        self.name = name
        self.metric = self.metric or name

    def __get__(self, sink, owner=None):
        if sink is None:
            return self
        totals, _, last = sink._counts
        return totals.get(self.name, 0) + last.get(self.name, 0)


@dataclass
class EpochSink:
    """foreachBatch skeleton: ``attach``/``stop``, replay-safe counters
    and ``metrics()``. ``_gate_batch`` is the foreachBatch callback;
    a query runs one batch at a time, so the counters have a single
    writer and ``metrics()`` readers need no lock."""

    METRICS_PREFIX = ""

    trigger_seconds: int = field(default=2, kw_only=True)
    queries: list = field(default_factory=list, init=False)
    # (totals of older epochs, newest epoch id, newest epoch's counts),
    # replaced as one tuple so a concurrent metrics() read is coherent
    _counts: tuple = field(default=({}, None, {}), init=False, repr=False)
    _pinned: list = field(default_factory=list, init=False, repr=False)

    def _process(self, batch: DataFrame, epoch_id: int) -> dict:
        raise NotImplementedError

    def _gate_batch(self, batch: DataFrame, epoch_id: int) -> None:
        epoch_id = int(epoch_id)
        counts = {k: int(v or 0)
                  for k, v in self._process(batch, epoch_id).items()}
        counts["epochs"] = int(epoch_id >= 0)
        totals, last_id, last = self._counts
        # only the newest epoch can be replayed (a restart re-runs the
        # last uncommitted batch), so a new epoch id folds the previous
        # epoch into the totals and the same id replaces its counts
        if last_id != epoch_id:
            totals = {k: totals.get(k, 0) + last.get(k, 0)
                      for k in totals.keys() | last.keys()}
        self._counts = (totals, epoch_id, counts)

    def _pin(self, *dfs: DataFrame):
        """Persist and materialize bounded model/reference tables before
        the stream starts, so no trigger computes them; ``stop()``
        unpersists them."""
        for df in dfs:
            df.persist().count()
        self._pinned.extend(dfs)
        return dfs if len(dfs) > 1 else dfs[0]

    def attach(self, stream: DataFrame, checkpoint_dir: str):
        """Run the sink over a streaming source."""
        q = (stream.writeStream
             .foreachBatch(self._gate_batch)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(processingTime=f"{self.trigger_seconds} seconds")
             .start())
        self.queries.append(q)
        return q

    def stop(self) -> None:
        for q in self.queries:
            if q.isActive:
                q.stop()
        for df in self._pinned:
            df.unpersist()

    def metrics(self) -> dict:
        """Gauges for the /metrics endpoint (register via
        ``registry.gauge_sources.append(sink.metrics)``)."""
        counters = {}
        for cls in reversed(type(self).__mro__):
            counters.update((n, c) for n, c in vars(cls).items()
                            if isinstance(c, EpochCounter))
        return {f"{self.METRICS_PREFIX}_{c.metric}": getattr(self, n)
                for n, c in counters.items()}


def write_epoch_dir(df: DataFrame, root: str, epoch_id: int,
                    **observed) -> dict:
    """Overwrite ``<root>/epoch=N`` with ``df``. ``observed`` names
    aggregate Columns computed on the write itself
    (``DataFrame.observe``, no extra job); returns their values."""
    obs = Observation()
    if observed:
        df = df.observe(obs, *[c.alias(k) for k, c in observed.items()])
    df.write.mode("overwrite").parquet(
        os.path.join(root, f"epoch={int(epoch_id)}"))
    return obs.get if observed else {}


def read_epoch_dirs(spark: SparkSession, root: str) -> DataFrame:
    """Every epoch directory under ``root``, epoch column dropped."""
    df = spark.read.parquet(root)
    return df.drop("epoch") if "epoch" in df.columns else df


def save_epoch_table(df: DataFrame, table: str,
                     bucket: tuple[int, str] | None = None) -> None:
    """(Re)create managed ``table`` from ``df``, partitioned by epoch
    and, with ``bucket=(n, col)``, bucketed and sorted by ``col``."""
    w = df.write.mode("overwrite").partitionBy("epoch")
    if bucket:
        w = w.bucketBy(*bucket).sortBy(bucket[1])
    w.saveAsTable(table)


def write_epoch_table(df: DataFrame, table: str, epoch_id: int,
                      bucket: tuple[int, str] | None = None) -> None:
    """Land ``df`` as partition ``epoch=epoch_id`` of ``table``,
    replacing only that partition (the table is created on first
    write)."""
    session = df.sparkSession
    # foreachBatch runs under a CLONED session whose conf was
    # snapshotted at stream start: set dynamic overwrite on the session
    # the write runs under, or the insert silently replaces the WHOLE
    # table instead of this epoch's partition
    session.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df = df.withColumn("epoch", F.lit(int(epoch_id)))
    if session.catalog.tableExists(table):
        # positional insert: column order matches the creation schema
        df.write.insertInto(table, overwrite=True)
    else:
        save_epoch_table(df, table, bucket)


def fold_epochs(spark: SparkSession, table: str,
                bucket: tuple[int, str] | None = None) -> int:
    """Fold every epoch partition of ``table`` into epoch -1, keeping
    its bucketing; returns the row count. A long-running stream adds
    one partition per trigger, which slows listing and planning long
    before data size matters. Run only while the stream is stopped
    with its checkpoint committed: a pending replay would otherwise
    resurrect its partition next to the fold.

    Staged copy: the fold lands in ``<table>__staging`` first and the
    live table is rebuilt from it, so a full copy exists at every
    instant (a managed-table RENAME keeps the old location in the
    catalog and then reads empty on Spark 4)."""
    staging = f"{table}__staging"
    live = spark.table(table)
    n = live.count()
    save_epoch_table(live.withColumn("epoch", F.lit(-1)), staging, bucket)
    save_epoch_table(spark.table(staging), table, bucket)
    spark.sql(f"DROP TABLE {staging}")
    return n
