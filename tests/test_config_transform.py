"""§2.8 config-driven transform engine: stage-order semantics + a
hypothesis property test against the pure-Python interpreter of
server.go:190-238 (SURVEY.md §5 item 5)."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from market_data_ingestor_go_spark.operators.config_transform import (
    SymbolConfig,
    ValueRule,
    apply_client_config_map,
    compile_symbol_config,
    interpret_flat_record,
    parse_client_config,
)

FIELDS = ["bid", "ask", "ltp", "volume"]


def _apply_spark(spark, cfg: SymbolConfig, record: dict) -> dict:
    df = spark.createDataFrame([Row(**record)])
    out = compile_symbol_config(cfg)(df)
    row = out.collect()[0].asDict()
    return row


def test_stage_order_rules_then_rename(spark):
    # value rules address PRE-rename names (server.go:193-205)
    cfg = SymbolConfig(
        value_rules={"bid": ValueRule("add", 5.0)},
        rename_fields={"bid": "buy"},
    )
    out = _apply_spark(spark, cfg, {"bid": 10.0, "ask": 11.0})
    assert out == {"buy": 15.0, "ask": 11.0}


def test_override_resurrects_removed(spark):
    # overrides run after removes (server.go:207-219)
    cfg = SymbolConfig(remove_fields=["ask"], override_fields={"ask": 99.0})
    out = _apply_spark(spark, cfg, {"bid": 1.0, "ask": 2.0})
    assert out == {"bid": 1.0, "ask": 99.0}


def test_divide_by_zero_identity(spark):
    # server.go:232-236
    cfg = SymbolConfig(value_rules={"bid": ValueRule("divide", 0.0)})
    out = _apply_spark(spark, cfg, {"bid": 7.0})
    assert out == {"bid": 7.0}


def test_non_numeric_field_identity(spark):
    # Go type assert .(float64) fails on strings → identity (server.go:194)
    cfg = SymbolConfig(value_rules={"note": ValueRule("add", 1.0)})
    out = _apply_spark(spark, cfg, {"note": "hello", "bid": 2.0})
    assert out == {"note": "hello", "bid": 2.0}


def test_rename_collision_overwrites(spark):
    cfg = SymbolConfig(rename_fields={"bid": "ask"})
    out = _apply_spark(spark, cfg, {"bid": 1.0, "ask": 2.0})
    assert out == {"ask": 1.0}


def test_timestamp_current_override(spark):
    import time
    cfg = SymbolConfig(override_fields={"timestamp": "current"})
    before = int(time.time() * 1000)
    out = _apply_spark(spark, cfg, {"bid": 1.0, "timestamp": 123})
    after = int(time.time() * 1000)
    assert before <= out["timestamp"] <= after + 1000


@st.composite
def symbol_configs(draw):
    ops = st.sampled_from(["add", "subtract", "multiply", "divide"])
    vals = st.one_of(st.just(0.0), st.floats(-100, 100, allow_nan=False))
    value_rules = draw(st.dictionaries(
        st.sampled_from(FIELDS), st.builds(ValueRule, ops, vals), max_size=3))
    renames = draw(st.dictionaries(
        st.sampled_from(FIELDS), st.sampled_from(["x1", "x2", "ask"]), max_size=2))
    removes = draw(st.lists(st.sampled_from(FIELDS + ["x1"]), max_size=2, unique=True))
    overrides = draw(st.dictionaries(
        st.sampled_from(["bid", "x1", "tag"]),
        st.one_of(st.floats(-10, 10, allow_nan=False), st.just(42.0)),
        max_size=2))
    return SymbolConfig(rename_fields=renames, value_rules=value_rules,
                        override_fields=overrides, remove_fields=removes)


@st.composite
def records(draw):
    return {f: draw(st.floats(-1000, 1000, allow_nan=False)) for f in FIELDS}


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(cfg=symbol_configs(), record=records())
def test_property_compiled_equals_interpreter(spark, cfg, record):
    """The compiled Column pipeline must agree with the dict
    interpreter of the reference semantics on random configs/records."""
    expected = interpret_flat_record(cfg, record)
    got = _apply_spark(spark, cfg, record)
    assert set(got) == set(expected)
    for k, v in expected.items():
        g = got[k]
        if isinstance(v, float) and isinstance(g, float):
            assert math.isclose(g, v, rel_tol=0, abs_tol=0) or g == v, (k, g, v)
        else:
            assert g == v, (k, g, v)


def test_map_path_gate_and_rules(spark):
    """P8 gate on the dynamic MAP payload shape: only configured
    symbols transform; others pass through."""
    rows = [
        Row(symbol="AAPL", timestamp=1, exchange="usstock",
            fields={"bid": 10.0, "ask": 11.0}),
        Row(symbol="MSFT", timestamp=2, exchange="usstock",
            fields={"bid": 20.0, "ask": 21.0}),
    ]
    df = spark.createDataFrame(rows)
    client_cfg = parse_client_config({
        "symbols": {"AAPL": {
            "value_rules": {"bid": {"op": "multiply", "value": 2}},
            "rename_fields": {"ask": "offer"},
            "override_fields": {"src": 7},
        }}})
    out = {r["symbol"]: dict(r["fields"])
           for r in apply_client_config_map(df, client_cfg).collect()}
    assert out["AAPL"] == {"bid": 20.0, "offer": 11.0, "src": 7.0}
    assert out["MSFT"] == {"bid": 20.0, "ask": 21.0}


def test_map_path_rename_missing_source_keeps_target(spark):
    """Rename only fires when the source key exists (server.go:199-205):
    a sparse payload that already has the target key but lacks the
    source must keep its target value, not lose it."""
    rows = [
        Row(symbol="AAPL", timestamp=1, exchange="usstock",
            fields={"bid": 10.0, "ask": 11.0}),       # both keys
        Row(symbol="AAPL", timestamp=2, exchange="usstock",
            fields={"offer": 9.5}),                   # target only, no source
        Row(symbol="AAPL", timestamp=3, exchange="usstock",
            fields={"bid": 12.0}),                    # source absent entirely
    ]
    df = spark.createDataFrame(rows)
    client_cfg = parse_client_config({
        "symbols": {"AAPL": {"rename_fields": {"ask": "offer"}}}})
    out = {r["timestamp"]: dict(r["fields"])
           for r in apply_client_config_map(df, client_cfg).collect()}
    assert out[1] == {"bid": 10.0, "offer": 11.0}  # renamed (clobbers target)
    assert out[2] == {"offer": 9.5}                # untouched — was dropped before
    assert out[3] == {"bid": 12.0}                 # untouched


def _apply_lookup(df, client_cfg):
    """The lookup form the serve path uses for wide configs: the entry
    projected into its own column, then the constant-size transform."""
    from pyspark.sql import functions as F
    from market_data_ingestor_go_spark.operators.config_transform import (
        config_lookup, config_lookup_columns)

    lookup = config_lookup(client_cfg)
    assert lookup is not None
    fields, ts = config_lookup_columns(F.col("_cfg"))
    return (df.withColumn("_cfg", lookup)
            .withColumns({"fields": fields, "timestamp": ts}).drop("_cfg"))


def test_config_join_path_agrees_with_compiled(spark):
    """The constant config-map lookup form must produce exactly what
    apply_client_config_map (compiled Columns) produces, across the
    edge cases: sparse payloads missing the rename source, pre-existing
    rename targets, divide-by-zero rules, overrides resurrecting
    removed keys, ts 'current' override, and unconfigured symbols (P8
    pass-through)."""
    import json as _json
    from pyspark.sql import Row
    from market_data_ingestor_go_spark.operators.config_transform import (
        apply_client_config_map, config_lookup, parse_client_config)

    flat = spark.createDataFrame([
        Row(fields={"bid": 10.0, "ask": 11.0}, symbol="A", timestamp=1000, exchange="x"),
        Row(fields={"ask": 7.0}, symbol="A", timestamp=1001, exchange="x"),   # no rename source
        Row(fields={"bid": 5.0, "b": 99.0}, symbol="B", timestamp=1002, exchange="x"),  # target exists
        Row(fields={"bid": 3.0}, symbol="C", timestamp=1003, exchange="x"),   # ÷0 + remove + override
        Row(fields={"bid": 1.0}, symbol="Z", timestamp=1004, exchange="x"),   # unconfigured
    ])
    cfg = parse_client_config(_json.loads(_json.dumps({"symbols": {
        "A": {"value_rules": {"bid": {"op": "multiply", "value": 2}},
              "rename_fields": {"bid": "price"}},
        "B": {"rename_fields": {"bid": "b"}},
        "C": {"value_rules": {"bid": {"op": "divide", "value": 0}},
              "remove_fields": ["bid"],
              "override_fields": {"bid": 42, "timestamp": "current"}},
    }})))

    def canon(df):
        rows = sorted(df.collect(), key=lambda r: (r["symbol"], r["timestamp"]))
        # ts 'current' is wall-clock — compare presence, not value
        return [(r["symbol"], dict(r["fields"]),
                 r["timestamp"] > 1_000_000 or r["timestamp"]) for r in rows]

    got_lookup = canon(_apply_lookup(flat, cfg))
    got_map = canon(apply_client_config_map(flat, cfg))
    assert got_lookup == got_map
    # spot-check the semantics themselves
    by_key = {(s, ts if isinstance(ts, int) else "now"): f for s, f, ts in got_lookup}
    assert by_key[("A", 1000)] == {"price": 20.0, "ask": 11.0}  # rule, then rename
    assert by_key[("Z", 1004)] == {"bid": 1.0}             # pass-through

    # chained renames are NOT lookup-safe → the lookup builder refuses
    chained = parse_client_config({"symbols": {
        "A": {"rename_fields": {"a": "b", "b": "c"}}}})
    assert config_lookup(chained) is None


def test_join_path_random_agreement_batched(spark):
    """Randomized agreement sweep (fixed seed): 20 symbols with random
    lookup-safe configs × sparse random payloads, compiled path vs
    config-map lookup path compared in one batch."""
    import random
    from pyspark.sql import Row

    rng = random.Random(7)
    fields = ["bid", "ask", "last", "vol"]
    targets = ["x1", "x2"]  # disjoint from sources → always join-safe
    cfg = {}
    for i in range(20):
        n_rules = rng.randint(0, 3)
        rules = {rng.choice(fields): ValueRule(
            rng.choice(["add", "subtract", "multiply", "divide"]),
            rng.choice([0.0, 2.0, -3.5])) for _ in range(n_rules)}
        renames = {}
        if rng.random() < 0.7:
            renames[rng.choice(fields)] = rng.choice(targets)
        removes = rng.sample(fields + targets, rng.randint(0, 2))
        overrides = {}
        if rng.random() < 0.5:
            overrides[rng.choice(fields + ["tag"])] = float(rng.randint(-5, 5))
        cfg[f"S{i}"] = SymbolConfig(rename_fields=renames, value_rules=rules,
                                    override_fields=overrides,
                                    remove_fields=removes)
    rows = []
    ts = 0
    for i in range(20):
        for _ in range(3):
            present = rng.sample(fields + targets,
                                 rng.randint(1, len(fields)))
            rows.append(Row(
                fields={f: float(rng.randint(-100, 100)) for f in present},
                symbol=f"S{i}", timestamp=(ts := ts + 1), exchange="x"))
    rows.append(Row(fields={"bid": 1.0}, symbol="UNCONFIGURED",
                    timestamp=(ts := ts + 1), exchange="x"))
    flat = spark.createDataFrame(rows)

    def canon(df):
        return {r["timestamp"]: (r["symbol"], dict(r["fields"]))
                for r in df.collect()}

    a = canon(apply_client_config_map(flat, cfg))
    b = canon(_apply_lookup(flat, cfg))
    assert a == b
