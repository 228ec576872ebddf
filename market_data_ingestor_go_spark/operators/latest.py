"""A1 — latest-value-per-key, the reference's one true aggregation.

Reference realization: Redis ``SET name → json(record)`` last-write-wins
(internal/app/services/storage/cache_service.go:45-52), read back as the
full keyed snapshot (cache_service.go:67-93).

Engine semantics (documented divergence, SURVEY.md §2.5): the reference
is *arrival-order* last-write-wins — a late message with an older
timestamp overwrites a newer one. This engine uses **timestamp-max**
last-write-wins with a deterministic tiebreak, which is saner and is
what the DuckDB oracle checks.

Scale posture: ``max_by`` is a declarative aggregate → Catalyst plans a
partial (map-side) aggregate before the shuffle, so only one row per
key per input partition crosses the wire. At 100 TB with ~500 hot
symbol keys that is the difference between shuffling the world and
shuffling ~500×partitions rows; skewed keys are additionally split by
AQE's skew handling since the partial agg collapses them first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_per_key(df: DataFrame, key_cols: list[str] | str,
                   ts_col: str, tiebreak_cols: list[str] | None = None) -> DataFrame:
    """Keep the newest row per key by ``ts_col`` (tiebreak deterministic).

    Equivalent to the Redis latest-value cache (K2/A1) materialized as a
    DataFrame: ``groupBy(key).agg(max_by(struct(*), (ts, tiebreak)))``.
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    tiebreak_cols = tiebreak_cols or []
    other_cols = [c for c in df.columns if c not in key_cols]
    ordering = F.struct(F.col(ts_col), *[F.col(c) for c in tiebreak_cols])
    row = F.max_by(F.struct(*[F.col(c) for c in other_cols]), ordering)
    return (
        df.groupBy(*key_cols)
        .agg(row.alias("_latest"))
        .select(*key_cols, "_latest.*")
    )

