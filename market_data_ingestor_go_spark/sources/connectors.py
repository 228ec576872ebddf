"""External connector adapters (PostgreSQL, Redis) — the reference's
actual storage targets.

Reference parity map:
- PostgreSQL history append → ``pg_wire_append`` over the minimal wire
  client (postgres.go:103-136 insert batch), the ingest pipeline's PG
  mirror; bootstrap DDL → ``pg_bootstrap`` (postgres.go:46-97).
- PostgreSQL dimension reads → ``read_pg_dim`` over the wire client,
  or ``read_jdbc_dim`` through Spark JDBC when the driver jar is on
  the classpath (postgres.go:138-185 point lookups).
- Redis latest-value cache → ``redis_wire_latest_sink`` per-partition
  pipelined SET (cache_service.go:37-61), the pipeline's Redis mirror;
  ``redis_wire_scan_latest`` reads it back (cache_service.go:67-93).
  The latest-state parquet table (streaming/pipeline.py) is the
  default store.

Everything here degrades explicitly: ``*_available()`` probes report
whether a connector can run (JDBC jar on the classpath, a server
answering), and the pipeline falls back to the parquet-based sinks,
which carry the same semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def jdbc_available(spark: SparkSession, driver: str = "org.postgresql.Driver") -> bool:
    """True if the JDBC driver class is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(driver)  # noqa: SLF001
        return True
    except Exception:
        return False


def read_jdbc_dim(spark: SparkSession, url: str, table: str,
                  properties: dict | None = None) -> DataFrame:
    """Dimension-table read (api_keys / clients_configs shape). Point
    predicates pushed down by Catalyst reach the database as WHERE
    clauses — the engine twin of postgres.go:142-147/168-172."""
    if not jdbc_available(spark):
        raise NotImplementedError(
            "no JDBC driver on the classpath in this environment; add the "
            "postgresql jar via spark.jars to enable (semantics are covered "
            "by the parquet dimension tables meanwhile)")
    return spark.read.jdbc(url, table, properties=properties or {})


# -- live Redis over the minimal RESP client (sources/redis_minimal) --


def redis_wire_available(host: str = "127.0.0.1", port: int = 6379) -> bool:
    """True if a RESP server answers PING on (host, port). Probed in
    this container: no redis-server binary exists and 6379 refuses —
    tests run against ``redis_minimal.MiniRedisServer`` instead."""
    from .redis_minimal import RESPClient
    try:
        client = RESPClient(host, port, timeout=1.0)
        ok = client.ping() == "PONG"
        client.close()
        return ok
    except Exception:
        return False


def redis_wire_latest_sink(batch: DataFrame, host: str, port: int,
                           ttl_millis: int = 24 * 3600 * 1000,
                           key_col: str = "name") -> None:
    """K2 live (cache_service.go:37-61): per-partition pipelined
    ``SET name → json(record) PX ttl`` over the from-scratch RESP
    client — each task opens one connection and sends its rows as ONE
    pipeline (single round trip), the Spark realization of the
    reference's per-flush pipeline.Exec. Zero-timestamp rows are
    skipped (P2 guard, cache_service.go:41-43)."""
    import os as _os
    pkg_root = _os.path.dirname(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__))))

    # closure, not a module-level def: executors can't import this repo
    def _write(rows) -> None:
        import json as _json
        import sys
        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)
        from market_data_ingestor_go_spark.sources.redis_minimal import (
            RESPClient)
        cmds = []
        for row in rows:
            d = row.asDict()
            if d.get("timestamp", 0) == 0:
                continue  # P2 guard (cache_service.go:41-43)
            cmds.append(("SET", d[key_col], _json.dumps(d, sort_keys=True),
                         "PX", int(ttl_millis)))
        if not cmds:
            return
        client = RESPClient(host, port)
        try:
            replies = client.pipeline(cmds)
            assert all(r == "OK" for r in replies)
        finally:
            client.close()

    batch.foreachPartition(_write)


def redis_wire_scan_latest(spark: SparkSession, schema: str,
                           host: str, port: int,
                           match: str | None = None) -> DataFrame:
    """S5 live (cache_service.go:67-93): SCAN the cache to cursor 0,
    MGET every key, decode the JSON records into a DataFrame. The
    cache is ~|symbols| rows (hundreds) — a driver-side read is the
    right shape, same as the reference's GetAllMarketData."""
    import json as _json

    from .redis_minimal import RESPClient
    client = RESPClient(host, port)
    try:
        keys = client.scan_all(match=match)
        vals = client.mget(keys)
    finally:
        client.close()
    from pyspark.sql import functions as F  # local: keep module surface lean
    target = spark.createDataFrame([], schema).schema
    records = [_json.loads(v) for v in vals if v is not None]
    if not records:
        return spark.createDataFrame([], schema)
    raw = spark.createDataFrame(
        [tuple(str(r.get(f.name)) if r.get(f.name) is not None else None
               for f in target) for r in records],
        ", ".join(f"{f.name} string" for f in target))
    return raw.select(*[
        F.col(f.name).cast(f.dataType).alias(f.name) for f in target])


# -- live PostgreSQL over the minimal wire client (sources/pg_minimal) --

MARKET_DATA_DDL = """
CREATE TABLE IF NOT EXISTS market_data (
    id BIGSERIAL PRIMARY KEY,
    name TEXT NOT NULL,
    timestamp BIGINT NOT NULL,
    exchange TEXT,
    data JSONB,
    created_at TIMESTAMPTZ DEFAULT now()
)"""


def pg_wire_available(host: str = "127.0.0.1", port: int = 5432,
                      user: str = "app", database: str = "postgres") -> bool:
    """True if a trust-auth Postgres answers on (host, port)."""
    from .pg_minimal import PGConnection
    try:
        conn = PGConnection(host, port, user, database, timeout=2.0)
        conn.close()
        return True
    except Exception:
        return False


def pg_bootstrap(host: str, port: int, user: str = "app",
                 database: str = "postgres") -> None:
    """K3 (postgres.go:46-97): create-if-absent DDL over the wire
    client — idempotent, safe to call at every startup."""
    from .pg_minimal import PGConnection
    conn = PGConnection(host, port, user, database)
    try:
        conn.query(MARKET_DATA_DDL)
    finally:
        conn.close()


def pg_wire_append(batch: DataFrame, host: str, port: int,
                   user: str = "app", database: str = "postgres",
                   table: str = "market_data",
                   cols: tuple = ("name", "timestamp", "exchange", "data")) -> None:
    """K1 live (postgres.go:103-136): per-partition transactional batch
    INSERT over the wire client — each task opens one connection and
    commits its rows in one transaction, so a task retry replaces a
    cleanly-rolled-back attempt (same per-batch atomicity as the
    reference's tx.Commit)."""
    col_list = ", ".join(cols)
    # captured at driver time so executors launched from any cwd can
    # import this repo (cloudpickle serializes module fns by reference)
    import os as _os
    pkg_root = _os.path.dirname(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__))))

    # closure, not a module-level def: executors can't import this repo
    def _write(rows) -> None:
        import sys
        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)
        from market_data_ingestor_go_spark.sources.pg_minimal import (
            PGConnection, quote_literal)
        vals = []
        for row in rows:
            d = row.asDict()
            if d.get("timestamp", 0) == 0:
                continue  # P2 sink guard
            vals.append("(" + ", ".join(
                quote_literal(d.get(c)) for c in cols) + ")")
        if not vals:
            return
        conn = PGConnection(host, port, user, database)
        try:
            conn.query("BEGIN; INSERT INTO %s (%s) VALUES %s; COMMIT;"
                       % (table, col_list, ", ".join(vals)))
        finally:
            conn.close()

    batch.foreachPartition(_write)


def read_pg_dim(spark: SparkSession, sql: str, schema: str,
                host: str = "127.0.0.1", port: int = 5432,
                user: str = "app", database: str = "postgres") -> DataFrame:
    """S3/S4 live (postgres.go:138-185): load a DIMENSION query result
    over the wire client into a DataFrame.

    Dimensions are tiny (api_keys, clients_configs — one row per
    client), so a driver-side fetch + createDataFrame is the right
    shape; fact-scale tables go through JDBC partitioned reads when
    the driver jar is present. Text-protocol values are cast through
    the caller's schema string."""
    from .pg_minimal import PGConnection
    conn = PGConnection(host, port, user, database)
    try:
        cols, rows = conn.query(sql)
    finally:
        conn.close()
    raw = spark.createDataFrame(
        [tuple(r) for r in rows] or [],
        ", ".join(f"{c} string" for c in cols) if cols else schema)
    if not rows:
        return spark.createDataFrame([], schema)
    from pyspark.sql import functions as F  # local: keep module surface lean
    target = spark.createDataFrame([], schema).schema
    return raw.select(*[
        F.col(f.name).cast(f.dataType).alias(f.name) for f in target])
