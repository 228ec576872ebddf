"""Lookup-join shapes J1/J2/J3 + P9 enrichment (SURVEY.md §2.4).

The reference has no general join executor — only three lookup shapes:

- J1/P9: stream × tiny static dim, left-outer with a default
  (symbol→exchange map probe, ingestor.go:116-122; map built at
  constants/exchanges_symbols.go:317-347, miss → "unknown").
- J2/S3: auth point semi-join (``WHERE key_hash=? AND is_active``,
  postgres.go:138-163) with sha256 hashing (utils/helper.go:8-11).
- J3: per-client config join (server.go:112-115) — realized in
  streaming/serve.py as a CASE over the symbol, or for wide configs a
  lookup of the symbol in a constant config map.

Scale posture: every shape here broadcasts the dimension side
explicitly (``F.broadcast``) so the fact stream never shuffles for
enrichment — at 100 TB the fact side stays map-side-only. Spark's
general joins (inner/outer/semi/anti/range) are exposed untouched;
Catalyst + AQE pick broadcast vs sort-merge per real sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.market import hash_api_key


def enrich_exchange(df: DataFrame, symbols_dim: DataFrame,
                    name_col: str = "name",
                    default: str = "unknown") -> DataFrame:
    """P9/J1: broadcast-left-join symbol→exchange; miss → ``default``.

    ``symbols_dim`` must have columns (name, exchange).
    """
    dim = F.broadcast(symbols_dim.select(
        F.col("name").alias("_dim_name"), F.col("exchange").alias("_dim_exchange")))
    joined = df.drop("exchange").join(
        dim, F.col(name_col) == F.col("_dim_name"), "left")
    return (
        joined.withColumn("exchange", F.coalesce(F.col("_dim_exchange"), F.lit(default)))
        .drop("_dim_name", "_dim_exchange")
    )


def authenticate(api_keys: DataFrame, presented_key: str) -> DataFrame:
    """S3/J2: resolve a presented plaintext key to a client_id.

    ``SELECT client_id FROM api_keys WHERE key_hash=sha256(k) AND is_active``
    — a filtered point read on a small dimension; the filter is pushed
    down to the scan by Catalyst.
    """
    return (
        api_keys.filter(
            (F.col("key_hash") == hash_api_key(F.lit(presented_key)))
            & F.col("is_active")
        ).select("client_id")
    )


def authenticate_many(api_keys: DataFrame, presented_keys: list[str]) -> DataFrame:
    """Batched S3/J2: resolve MANY presented keys in ONE broadcast join.

    The reference authenticates each connection with its own point
    query (postgres.go:142-147) when it connects. The serve tick admits
    every connection that registered since the previous tick in one
    call, so a burst of N connects costs one lookup, not N round trips.
    One inner join of the active key dimension against the (tiny,
    deduplicated) presented-key set costs the same as a single lookup
    and scales to thousands of connections.

    Returns (key_hash, client_id) for every presented key that matches
    an active credential.
    """
    spark = api_keys.sparkSession
    hashes = sorted({_sha256_hex(k) for k in presented_keys})
    if not hashes:
        return api_keys.select("key_hash", "client_id").limit(0)
    if len(hashes) <= 128:
        # small tick: an IN-list filter pushes to the dimension scan
        # with no extra DataFrame/join machinery (sub-job-cost path)
        return (api_keys.filter(F.col("is_active")
                                & F.col("key_hash").isin(hashes))
                .select("key_hash", "client_id"))
    presented = spark.createDataFrame([(h,) for h in hashes], "key_hash string")
    return (api_keys.filter(F.col("is_active"))
            .join(F.broadcast(presented), "key_hash", "inner")
            .select("key_hash", "client_id"))


def _sha256_hex(key: str) -> str:
    import hashlib
    return hashlib.sha256(key.encode()).hexdigest()


def audit_key_usage(api_keys: DataFrame, used_hashes: DataFrame) -> DataFrame:
    """K5 (postgres.go:156-160): best-effort ``last_used_at`` touch.

    The reference fires ``UPDATE api_keys SET last_used_at=now()`` in a
    goroutine and ignores the result. Engine shape: merge the used-hash
    set into the dimension (broadcast — the used set per tick is tiny)
    and let the caller persist it best-effort, outside any transaction
    with the serve path (explicitly non-atomic, like the reference).

    ``used_hashes`` needs a single ``key_hash`` column.
    """
    used = F.broadcast(used_hashes.select("key_hash").distinct()
                       .withColumn("_used", F.lit(True)))
    merged = api_keys.join(used, "key_hash", "left")
    return merged.withColumn(
        "last_used_at",
        F.when(F.col("_used"), F.current_timestamp()).otherwise(F.col("last_used_at"))
    ).drop("_used")


def audit_key_usage_inline(api_keys: DataFrame,
                           used_hashes: list[str]) -> DataFrame:
    """K5, IN-list form for the serve tick's tiny used-key set: no join
    machinery, the predicate pushes straight into the dimension scan.
    Same semantics as ``audit_key_usage`` (touched rows get
    ``current_timestamp()``, others keep their value)."""
    if not used_hashes:
        return api_keys
    return api_keys.withColumn(
        "last_used_at",
        F.when(F.col("key_hash").isin(list(used_hashes)),
               F.current_timestamp()).otherwise(F.col("last_used_at")))


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Rows of ``left`` with at least one match in ``right`` (J2 shape)."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Rows of ``left`` with no match in ``right``."""
    return left.join(right, on, "left_anti")
