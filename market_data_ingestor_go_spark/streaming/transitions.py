"""Streaming Markov transition maintainer.

Batch ``operators/timeseries.py::event_transitions`` needs a per-user
lag over the WHOLE event history — a shape no bounded streaming
aggregation can hold. What a stream CAN maintain exactly is the pair
of sufficient artifacts the lag decomposes into:

- ``<base>_last`` : each user's most recent event (u, ts_ms, event_id,
  event_type) — one row per user per epoch partition; the CURRENT
  last event is the (ts, id)-max across epochs BEFORE the one being
  processed (idempotent under replay: the partition is overwritten,
  and the probe excludes the current epoch — the dedup-gate contract);
- ``<base>_cnt``  : per-epoch transition-count DELTAS (prev_type,
  event_type, n, epoch) — integers, additive, summed at read time.

Per micro-batch: prepend each arriving user's stored last event to
the batch, lag over (ts_ms, event_id) within user, count the pairs
whose CURRENT row is a batch row (the prepended state row only ever
supplies a prev), write the delta under this epoch's partition, and
overwrite the users' last-event rows. The readout sums the deltas and
row-normalizes through the SHARED finisher
(``operators/timeseries.py::transition_probs``), so after in-order
epochs the streamed table is BIT-identical to the batch operator
(tested with a 3-way time-split).

ORDERING CONTRACT (documented, inherent to any incremental lag): a
boundary transition is decided when its epoch commits, so the count
table equals the batch answer iff per-user event order respects epoch
order — i.e. no event arrives in a later epoch with (ts, id) below an
earlier epoch's last event for that user. Watermarked/ordered ingest
(the K1 history pipeline shape) satisfies this; an out-of-order
arrival changes which pairs are counted (exactly like the reference's
arrival-order latest-state semantics, SURVEY.md §2.5).

Scale posture: the per-batch exchange is one user-keyed lag window
over (batch + touched users' last rows) — never the accumulated
stream; count deltas collapse map-side to ≤ |types|² rows. The state
tables accumulate one partition per epoch (pointer rows for touched
users; count deltas), so an UNCOMPACTED stream's last-table holds
O(epochs × touched-users) rows and ``_prior_last`` re-aggregates all
of them — call ``compact(upto_epoch)`` periodically (any epoch the
checkpoint has committed) to fold history into one partition; after
compaction the readback is |users| + |types|² + rows-since-compaction.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.timeseries import transition_probs
from .epoch_sink import (EpochCounter, EpochSink, save_epoch_table,
                         write_epoch_table)


@dataclass
class TransitionMaintainer(EpochSink):
    """foreachBatch maintainer of Markov transition counts."""

    METRICS_PREFIX = "transition_maintainer"

    spark: SparkSession
    base_table: str
    user_col: str = "user_id"
    ts_ms_col: str = "ts_ms"
    type_col: str = "event_type"
    id_col: str = "event_id"
    events_seen = EpochCounter()
    transitions_counted = EpochCounter(metric="transitions")

    @property
    def last_table(self) -> str:
        return f"{self.base_table}_last"

    @property
    def cnt_table(self) -> str:
        return f"{self.base_table}_cnt"

    def _prior_last(self, epoch_id: int) -> DataFrame | None:
        """Each user's last event across epochs BEFORE ``epoch_id`` —
        the replay-safe probe (a crash-replay must not see its own
        failed attempt's rows)."""
        if not self.spark.catalog.tableExists(self.last_table):
            return None
        prior = (self.spark.table(self.last_table)
                 .filter(F.col("epoch") < F.lit(int(epoch_id))))
        return (prior.groupBy("u")
                .agg(F.max(F.struct("ts_ms", "event_id", "event_type"))
                     .alias("m"))
                .select("u", F.col("m.ts_ms").alias("ts_ms"),
                        F.col("m.event_id").alias("event_id"),
                        F.col("m.event_type").alias("event_type")))

    def _process(self, batch: DataFrame, epoch_id: int) -> dict:
        b = batch.select(
            F.col(self.user_col).alias("u"),
            F.col(self.ts_ms_col).alias("ts_ms"),
            F.col(self.id_col).alias("event_id"),
            F.col(self.type_col).alias("event_type"),
            F.lit(True).alias("is_new")).localCheckpoint(eager=True)
        n_events = b.count()

        prior = self._prior_last(epoch_id)
        if prior is not None:
            # only touched users' last rows join the lag input — a
            # semi-join keeps the window's input batch-sized, not
            # user-universe-sized
            touched = prior.join(b.select("u").distinct(), "u") \
                .withColumn("is_new", F.lit(False))
            lag_in = b.unionByName(touched)
        else:
            lag_in = b

        w = Window.partitionBy("u").orderBy("ts_ms", "event_id")
        pairs = (lag_in
                 .withColumn("prev_type",
                             F.lag("event_type").over(w))
                 .filter(F.col("is_new") & F.col("prev_type").isNotNull()))
        delta = (pairs.groupBy("prev_type", "event_type")
                 .agg(F.count("*").alias("n")))

        # new last event per touched user (state row included: a user
        # whose batch events all precede their stored last event — the
        # out-of-order case — must not move the pointer backwards)
        new_last = (lag_in.groupBy("u")
                    .agg(F.max(F.struct("ts_ms", "event_id",
                                        "event_type")).alias("m"))
                    .select("u", F.col("m.ts_ms").alias("ts_ms"),
                            F.col("m.event_id").alias("event_id"),
                            F.col("m.event_type").alias("event_type")))

        # lineage of both outputs reads the state tables; truncate
        # before inserts that overwrite them
        delta = delta.localCheckpoint(eager=True)
        new_last = new_last.localCheckpoint(eager=True)
        n_transitions = delta.agg(F.sum("n")).collect()[0][0]
        write_epoch_table(delta, self.cnt_table, epoch_id)
        write_epoch_table(new_last, self.last_table, epoch_id)
        return {"events_seen": n_events,
                "transitions_counted": n_transitions}

    def compact(self, upto_epoch: int) -> None:
        """Fold every state partition with epoch ≤ ``upto_epoch``
        into ONE partition labeled ``upto_epoch`` (per-user (ts,
        id)-max pointers; per-(prev, cur) summed count deltas), then
        rewrite each table as that fold plus the untouched newer
        partitions — the read-union-overwrite MERGE stand-in
        (SCALING.md: Delta absent).

        CALLER CONTRACT (replay safety): only compact epochs the
        stream's checkpoint has committed. A replay of e >
        ``upto_epoch`` still probes the folded rows correctly (their
        label ``upto_epoch`` < e); a replay of a folded epoch would
        see its own contribution, which the commit makes impossible.
        """
        upto = int(upto_epoch)
        for table, fold in (
            (self.last_table, lambda t: (
                t.groupBy("u")
                .agg(F.max(F.struct("ts_ms", "event_id",
                                    "event_type")).alias("m"))
                .select("u", F.col("m.ts_ms").alias("ts_ms"),
                        F.col("m.event_id").alias("event_id"),
                        F.col("m.event_type").alias("event_type")))),
            (self.cnt_table, lambda t: (
                t.groupBy("prev_type", "event_type")
                .agg(F.sum("n").alias("n")))),
        ):
            if not self.spark.catalog.tableExists(table):
                continue
            cur = self.spark.table(table)
            folded = (fold(cur.filter(F.col("epoch") <= F.lit(upto)))
                      .withColumn("epoch", F.lit(upto)))
            newer = cur.filter(F.col("epoch") > F.lit(upto))
            save_epoch_table(folded.unionByName(newer)
                             .localCheckpoint(eager=True), table)

    def transitions(self) -> DataFrame:
        """The transition-matrix readout over the summed deltas —
        identical columns and arithmetic to batch event_transitions
        (the shared ``transition_probs`` finisher)."""
        counts = (self.spark.table(self.cnt_table)
                  .groupBy("prev_type", "event_type")
                  .agg(F.sum("n").alias("n_transitions")))
        return transition_probs(counts)
