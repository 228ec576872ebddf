"""Shared helpers for the query corpus: table/event loaders, the
exact-decimal cross-engine arithmetic devices (string-routed
decimal->double, moment finishers), and the per-process private
tempdir for materialized serve indexes. Split out of the monolithic
plans/queries.py in round 15 (r14 verdict #6); see the queries.py
module doc for the determinism rules."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dsum(expr, alias: str, scale: str = "decimal(27,6)"):
    """Order-independent sum of a double expression (see module doc)."""
    return F.sum(expr.cast(scale)).cast("double").alias(alias)


def _davg(expr, count_col, alias: str, scale: str = "decimal(27,6)"):
    return (F.sum(expr.cast(scale)).cast("double") / count_col).alias(alias)


def _dstr(col: str):
    """Decimal → double via STRING (correctly rounded on both engines;
    direct casts differ at 1 ULP — verify-skill lesson)."""
    return F.col(col).cast("string").cast("double")


def _pearson_from_moments(sx: str, sy: str, sxx: str, syy: str,
                          sxy: str, n: str):
    """The exact-moments Pearson finisher. ONE shared copy: the fixed
    op order IS the bit-exactness contract with the oracles, so every
    correlation query must run the identical sequence."""
    nD = F.col(n).cast("double")
    cov = _dstr(sxy) / nD - (_dstr(sx) / nD) * (_dstr(sy) / nD)
    vx = _dstr(sxx) / nD - (_dstr(sx) / nD) * (_dstr(sx) / nD)
    vy = _dstr(syy) / nD - (_dstr(sy) / nD) * (_dstr(sy) / nD)
    return cov / F.sqrt(vx * vy)


def _slope_from_moments(st: str, sx: str, stt: str, stx: str, n: str):
    """OLS slope from exact moments — same shared-copy rationale."""
    nD = F.col(n).cast("double")
    cov = _dstr(stx) / nD - (_dstr(st) / nD) * (_dstr(sx) / nD)
    vt = _dstr(stt) / nD - (_dstr(st) / nD) * (_dstr(st) / nD)
    return cov / vt


def _events(spark, sf_dir) -> DataFrame:
    """events.ts is TIMESTAMP(NANOS) in parquet → read as int64 nanos
    (legacy.parquet.nanosAsLong) and floor to micros, matching the
    oracle's epoch_us truncation of the same nanos."""
    e = _t(spark, sf_dir, "events")
    if dict(e.dtypes)["ts"] == "bigint":
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        e = e.withColumn("ts", F.col("ts").cast("timestamp"))
    return e.withColumn("ts_ms", F.unix_millis(F.col("ts")))


_PQ_ENC_ROOT: list = []  # lazily-created per-process private tempdir


def _pq_enc_root():
    # One PRIVATE (mode-0700 mkdtemp) root per process, removed at
    # exit: a world-shared path derived only from sha256(sf_dir) let
    # two concurrent processes benching the same corpus overwrite
    # each other's index mid-read, and on multi-user hosts the fixed
    # path was pre-creatable by another user (advisor catch r6). The
    # caller's per-(applicationId, sf_dir) cache key still guarantees
    # exactly ONE index copy per corpus within a process, and the
    # atexit cleanup keeps the no-leaked-tempdir property the r6
    # review established.
    if not _PQ_ENC_ROOT:
        import atexit
        import shutil
        import tempfile
        root = tempfile.mkdtemp(prefix="spark_graft_pq_index_")
        atexit.register(shutil.rmtree, root, True)
        _PQ_ENC_ROOT.append(root)
    return _PQ_ENC_ROOT[0]
