"""Strict Spark↔DuckDB parity over the whole declared query corpus.

This mirrors (and is stricter than) the driver's t2 gate: for every
query with an oracle, compare row count, column names, and **exact**
values (doubles bit-compared after a round-trip through repr, i.e. no
tolerance). If this passes at sf0.001/sf0.01, the driver's
order-insensitive value-hash must also match.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from market_data_ingestor_go_spark.plans.oracles import EXTRA_ORACLES, ORACLES
from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES, QUERIES
from market_data_ingestor_go_spark.sources.tables import TABLES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")

ALL_ORACLES = {**ORACLES, **EXTRA_ORACLES}


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def _rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(ALL_ORACLES))
def test_parity(spark, name):
    """Value parity AND Arrow-type parity in ONE test (r16 suite
    budget, verdict #3): the former separate type-scan sweep rebuilt
    every Spark query — for the CC-backed queries that means
    re-running the whole label-propagation loop (~20 s each) just to
    read a schema. One Spark query build and ONE oracle execution
    (`.arrow()`) now serve both checks: the schema check reads the
    Arrow schema (ground truth, same canonicalization as before) and
    the value multiset reads the same table's columns — which is the
    layer the driver's hash actually compares at anyway."""
    assert name in ALL_QUERIES, f"oracle {name} has no Spark query"
    sdf = ALL_QUERIES[name](spark, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    con = _duck(SF_DIR)
    tbl = con.execute(ALL_ORACLES[name]).arrow()
    con.close()
    duck_cols = list(tbl.schema.names)

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}")

    # Arrow-level type parity FIRST (the r7 events_vwap failure class
    # — see the comment block above oracle_type_mismatches): the value
    # comparison below reads the oracle rows through this very Arrow
    # conversion, so a type divergence must fail loudly as a TYPE
    # error before it can masquerade as a value diff.
    spark_types = {f.name: _canon_spark_type(f.dataType)
                   for f in sdf.schema.fields}
    duck_types = {f.name: _canon_arrow_type(f.type) for f in tbl.schema}
    mism = {col: {"spark": spark_types.get(col), "duck": duck_types.get(col)}
            for col in set(spark_types) | set(duck_types)
            if spark_types.get(col) != duck_types.get(col)}
    assert not mism, (
        f"{name}: final-projection type divergence (driver hash is "
        f"type-sensitive at the Arrow layer): {mism}")

    cols_data = tbl.to_pydict()
    duck_rows = list(zip(*(cols_data[c] for c in duck_cols))) \
        if duck_cols else []
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}")
    ms_spark = _rows_to_multiset(spark_cols, spark_rows)
    ms_duck = _rows_to_multiset(duck_cols, duck_rows)
    if ms_spark != ms_duck:
        diffs = [(a, b) for a, b in zip(ms_spark, ms_duck) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_all_queries_have_schema_and_run(spark):
    """Queries without oracles still must run and return a stable
    schema. Oracle-backed queries are excluded (r16 suite budget):
    test_parity collects their FULL result in this same file — a
    strictly stronger check than limit(1) — so sweeping them here
    doubled ~130 s of work for zero coverage."""
    for name, fn in ALL_QUERIES.items():
        if name in ALL_ORACLES:
            continue
        df = fn(spark, SF_DIR)
        assert df.columns, name
        df.limit(1).collect()


def test_driver_window_is_at_most_50():
    """The driver's CORRECTNESS gate checks only the first 50 entries of
    queries(); every declared query must fit inside and carry its
    oracle, so the whole window is hash-checked."""
    assert len(QUERIES) <= 50
    missing = set(QUERIES) - set(ORACLES)
    assert not missing, f"window queries without an oracle: {missing}"


def test_registry_has_no_ledger_or_orphans():
    """Static registry hygiene, no Spark session: no rotation ledger
    in plans/queries.py, every public query function in
    plans/queries_*.py registered, every oracle keyed to a registered
    query, and every bench.py headline name registered."""
    import ast
    import glob

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plans = os.path.join(root, "market_data_ingestor_go_spark", "plans")

    def top_names(path):
        tree = ast.parse(open(path).read())
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                yield node.name
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                yield from (t.id for t in targets if isinstance(t, ast.Name))

    ledger = [n for n in top_names(os.path.join(plans, "queries.py"))
              if n.startswith(("ROTAT", "ORACLE_BACKED_AT"))]
    assert not ledger, f"rotation ledger constants: {ledger}"

    registered = {fn.__name__ for fn in ALL_QUERIES.values()}
    orphans = sorted(
        f"{os.path.basename(path)}::{name}"
        for path in glob.glob(os.path.join(plans, "queries_*.py"))
        for name in top_names(path)
        if not name.startswith("_") and name not in registered)
    assert not orphans, f"unregistered query functions: {orphans}"

    from market_data_ingestor_go_spark.plans.oracles import ALL_SQL
    stray = set(ALL_SQL) - set(ALL_QUERIES)
    assert not stray, f"oracles without a registered query: {stray}"

    bench = ast.parse(open(os.path.join(root, "bench.py")).read())
    headline = next(
        ast.literal_eval(node.value) for node in bench.body
        if isinstance(node, ast.Assign)
        and getattr(node.targets[0], "id", None) == "HEADLINE")
    unknown = set(headline) - set(ALL_QUERIES)
    assert not unknown, f"bench.py headline names not registered: {unknown}"


# --- Arrow-level type parity -------------------------------------------
#
# The r7 events_vwap failure class: values bit-identical but the
# oracle's final projection carried DuckDB HUGEINT (Arrow
# decimal128(38,0)) while the engine returned bigint, so the driver's
# type-sensitive value hash diverged. fetchall() collapses both sides
# to Python int, making the repr-based sweep above structurally blind
# to it. This scan compares the DuckDB result's Arrow schema against
# the Spark DataFrame's declared schema, canonicalized to the buckets
# the driver's hash distinguishes (int / float / decimal(p,s) / str /
# bool / date / timestamp-unit / binary / list / struct / map).

def _canon_arrow_type(t):
    import pyarrow as pa
    if pa.types.is_dictionary(t):
        return _canon_arrow_type(t.value_type)
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return ("decimal", t.precision, t.scale)
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return ("timestamp", t.unit)  # tz-naive vs aware handled by driver
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return ("list", _canon_arrow_type(t.value_type))
    if pa.types.is_struct(t):
        return ("struct", tuple(sorted(
            (f.name, _canon_arrow_type(f.type)) for f in t)))
    if pa.types.is_map(t):
        return ("map", _canon_arrow_type(t.key_type),
                _canon_arrow_type(t.item_type))
    if pa.types.is_null(t):
        return "null"
    raise AssertionError(f"unmapped arrow type {t}")


def _canon_spark_type(dt):
    from pyspark.sql import types as T
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return ("decimal", dt.precision, dt.scale)
    if isinstance(dt, (T.StringType, T.VarcharType, T.CharType)):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return ("timestamp", "us")  # Spark timestamps are micros on Arrow
    if isinstance(dt, T.BinaryType):
        return "bin"
    if isinstance(dt, T.ArrayType):
        return ("list", _canon_spark_type(dt.elementType))
    if isinstance(dt, T.StructType):
        return ("struct", tuple(sorted(
            (f.name, _canon_spark_type(f.dataType)) for f in dt.fields)))
    if isinstance(dt, T.MapType):
        return ("map", _canon_spark_type(dt.keyType),
                _canon_spark_type(dt.valueType))
    if isinstance(dt, T.NullType):
        return "null"
    raise AssertionError(f"unmapped spark type {dt}")


TYPE_SF_DIR = os.environ.get("TYPE_PARITY_SF_DIR", "/root/testdata/sf0.001")


def oracle_type_mismatches(spark, name, sf_dir=None):
    """Return per-column canonical-type divergences between the DuckDB
    oracle's Arrow schema and the Spark query's declared schema.
    Shared with the verify skill's sweep."""
    sf_dir = sf_dir or TYPE_SF_DIR
    sdf = ALL_QUERIES[name](spark, sf_dir)
    spark_types = {f.name: _canon_spark_type(f.dataType)
                   for f in sdf.schema.fields}
    con = _duck(sf_dir)
    try:
        arrow_schema = con.execute(ALL_ORACLES[name]).arrow().schema
    finally:
        con.close()
    duck_types = {f.name: _canon_arrow_type(f.type) for f in arrow_schema}
    mismatches = {}
    for col in set(spark_types) | set(duck_types):
        s, d = spark_types.get(col), duck_types.get(col)
        if s != d:
            mismatches[col] = {"spark": s, "duck": d}
    return mismatches


# (The separate parametrized Arrow-type sweep was folded INTO
# test_parity in r16 — same two comparisons, one Spark query build.
# oracle_type_mismatches stays as the verify skill's per-query probe.)
