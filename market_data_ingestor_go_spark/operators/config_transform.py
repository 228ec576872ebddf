"""§2.8 — the config-driven transform engine, the reference's "query
language".

The reference interprets a per-client JSON config for every record on
every broadcast tick (server.go:190-222). Stage order is fixed and
semantically significant (server.go:193-219):

  1. value rules   — arithmetic on *pre-rename* field names
                     (applyValueRule, server.go:224-238; divide-by-zero
                     → identity, :232-236; non-numeric field → identity
                     via the failed float64 type assert, :194)
  2. renames       — copy value to new key, delete old (server.go:199-205;
                     Go map order is nondeterministic — this engine
                     applies renames in sorted(old) order and documents
                     that chained/conflicting renames follow it)
  3. removes       — on post-rename names (server.go:207-210)
  4. overrides     — hard-set key→value; may resurrect removed fields;
                     the special value ``{"timestamp": "current"}`` →
                     now-millis (server.go:212-219). (`UseCurrentTS` and
                     `ValueTransform` in dto/client.go are dead code —
                     deliberately not implemented.)

This engine *compiles* the config to Column expressions once per
(client, symbol) instead of interpreting per record — the pipeline is
pure DataFrame API, composes with streaming, and shares one scan
across all clients (fixing the reference's O(clients×symbols)/tick
recompute, SURVEY.md §3 E2).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NUMERIC_TYPES = (
    T.DoubleType, T.FloatType, T.LongType, T.IntegerType,
    T.ShortType, T.ByteType, T.DecimalType,
)

VALUE_OPS = {"add", "subtract", "multiply", "divide"}


@dataclass
class ValueRule:
    """dto.ValueRule (client.go:20-23 live fields: Op, Value)."""
    op: str
    value: float


@dataclass
class SymbolConfig:
    """dto.SymbolConfig (client.go:8-18, live fields only)."""
    rename_fields: dict[str, str] = field(default_factory=dict)
    value_rules: dict[str, ValueRule] = field(default_factory=dict)
    override_fields: dict[str, Any] = field(default_factory=dict)
    remove_fields: list[str] = field(default_factory=list)

    @classmethod
    def from_dict(cls, d: dict) -> "SymbolConfig":
        return cls(
            rename_fields=dict(d.get("rename_fields") or {}),
            value_rules={
                k: ValueRule(v["op"], float(v["value"]))
                for k, v in (d.get("value_rules") or {}).items()
            },
            override_fields=dict(d.get("override_fields") or {}),
            remove_fields=list(d.get("remove_fields") or []),
        )


def parse_client_config(config_json: dict) -> dict[str, SymbolConfig]:
    """dto.ClientConfig{Symbols map[symbol]SymbolConfig} (client.go:3-6)."""
    return {
        sym: SymbolConfig.from_dict(sc)
        for sym, sc in (config_json.get("symbols") or {}).items()
    }


def _rule_expr(col, rule: ValueRule):
    if rule.op == "add":
        return col + F.lit(rule.value)
    if rule.op == "subtract":
        return col - F.lit(rule.value)
    if rule.op == "multiply":
        return col * F.lit(rule.value)
    if rule.op == "divide":
        # divide-by-zero → identity (server.go:232-236); the config
        # value is a constant so the branch resolves at compile time.
        return col / F.lit(rule.value) if rule.value != 0 else col
    # unknown op → identity (server.go:237 default branch)
    return col


def compile_symbol_config(cfg: SymbolConfig):
    """Compile one SymbolConfig into ``DataFrame -> DataFrame``.

    Operates on a flat typed DataFrame (the D5 record: payload fields as
    top-level columns + symbol/timestamp/exchange). All four stages are
    plain Column ops — no UDFs, no shuffle, streaming-safe.
    """

    def apply(df: DataFrame) -> DataFrame:
        dtypes = dict(df.dtypes)
        # 1. value rules on pre-rename names; non-numeric/absent → identity
        schema = {f.name: f.dataType for f in df.schema.fields}
        for fname in sorted(cfg.value_rules):
            if fname in schema and isinstance(schema[fname], NUMERIC_TYPES):
                df = df.withColumn(fname, _rule_expr(F.col(fname), cfg.value_rules[fname]))
        # 2. renames in sorted(old) order; target overwrite allowed
        for old in sorted(cfg.rename_fields):
            new = cfg.rename_fields[old]
            if old in df.columns and old != new:
                if new in df.columns:
                    df = df.drop(new)
                df = df.withColumnRenamed(old, new)
        # 3. removes (post-rename names)
        present = [c for c in cfg.remove_fields if c in df.columns]
        if present:
            df = df.drop(*present)
        # 4. overrides (may resurrect removed fields)
        for key in sorted(cfg.override_fields):
            val = cfg.override_fields[key]
            if key == "timestamp" and val == "current":
                # server.go:215: time.Now().UnixMilli()
                df = df.withColumn(key, F.unix_millis(F.current_timestamp()))
            else:
                df = df.withColumn(key, F.lit(val))
        return df

    return apply


def interpret_flat_record(cfg: SymbolConfig, record: dict,
                          now_millis: int | None = None) -> dict:
    """Pure-Python reference interpreter of server.go:190-238 on a dict.

    Used only as the property-test oracle for ``compile_symbol_config``
    (and by unit tests) — never in a Spark job.
    """
    out = dict(record)
    for fname in sorted(cfg.value_rules):
        rule = cfg.value_rules[fname]
        v = out.get(fname)
        if not isinstance(v, float):  # Go type assert .(float64)
            continue
        if rule.op == "add":
            out[fname] = v + rule.value
        elif rule.op == "subtract":
            out[fname] = v - rule.value
        elif rule.op == "multiply":
            out[fname] = v * rule.value
        elif rule.op == "divide" and rule.value != 0:
            out[fname] = v / rule.value
    for old in sorted(cfg.rename_fields):
        new = cfg.rename_fields[old]
        if old in out and old != new:
            out[new] = out.pop(old)
    for key in cfg.remove_fields:
        out.pop(key, None)
    for key in sorted(cfg.override_fields):
        val = cfg.override_fields[key]
        if key == "timestamp" and val == "current":
            out[key] = now_millis if now_millis is not None else 0
        else:
            out[key] = val
    return out


def apply_client_config_map(df: DataFrame, client_cfg: dict[str, SymbolConfig],
                            fields_col: str = "fields",
                            symbol_col: str = "symbol") -> DataFrame:
    """P8 + §2.8 on the *dynamic* payload shape (fields MAP<STRING,DOUBLE>).

    The conditional gate (server.go:112-115): rows whose symbol has a
    config get the compiled transform; others pass through flattened
    only. One shared scan serves every symbol — the transform is a
    single chained CASE over the map column, so per-client cost is
    O(expr), not O(snapshot) like the reference.

    Envelope overrides (``timestamp: "current"``) apply to the envelope
    column; field-level stages apply inside the map.
    """
    fields, ts = config_map_columns(client_cfg, fields_col, symbol_col)
    return df.withColumns({fields_col: fields, "timestamp": ts})


def config_map_columns(client_cfg: dict[str, SymbolConfig],
                       fields_col: str = "fields",
                       symbol_col: str = "symbol"):
    """The compiled form of ``apply_client_config_map`` as two Columns,
    (fields, timestamp), for callers that place them in their own
    projection."""
    fields = F.col(fields_col)
    result = None
    ts_override = None
    for symbol in sorted(client_cfg):
        cfg = client_cfg[symbol]
        # NOTE: higher-order-function lambdas must take exactly the
        # positional args Spark passes — a default arg would be counted
        # as an extra lambda parameter and bound to a Column. Use
        # factory functions to close over config values instead.
        def _rules_fn(rules):
            def fn(k, v):
                out = v
                for fname in sorted(rules):
                    out = F.when(k == F.lit(fname), _rule_expr(v, rules[fname])).otherwise(out)
                return out
            return fn

        def _drop_key_fn(name):
            return lambda k, v: k != F.lit(name)

        def _relabel_fn(old, new):
            return lambda e: F.struct(
                F.when(e.key == F.lit(old), F.lit(new)).otherwise(e.key).alias("key"),
                e.value.alias("value"))

        def _rename_fn(old, new):
            # Only maps that actually carry the source key are touched
            # (server.go:199-205 checks existence first): drop any
            # existing target key, then relabel old → new. Maps
            # without the source key — including a pre-existing
            # target key — pass through untouched.
            def fn(m):
                renamed = F.map_from_entries(F.transform(
                    F.map_entries(F.map_filter(m, _drop_key_fn(new))),
                    _relabel_fn(old, new)))
                return F.when(F.map_contains_key(m, F.lit(old)), renamed) \
                    .otherwise(m)
            return fn

        expr = fields
        # 1. value rules inside the map
        if cfg.value_rules:
            expr = F.transform_values(expr, _rules_fn(cfg.value_rules))
        # 2. renames sequentially in sorted(old) order
        for old in sorted(cfg.rename_fields):
            new = cfg.rename_fields[old]
            if old == new:
                continue
            # The stage reads its input map three times; binding it
            # once to a lambda variable (a one-element array) keeps the
            # tree linear in the number of renames, not 3^r.
            expr = F.transform(F.array(expr), _rename_fn(old, new))[0]
        def _not_in_fn(names):
            return lambda k, v: ~k.isin(*names)

        # 3. removes
        if cfg.remove_fields:
            expr = F.map_filter(expr, _not_in_fn(list(cfg.remove_fields)))
        # 4. overrides (numeric payload overrides only on the map path)
        num_over = _numeric_overrides(cfg)
        if num_over:
            expr = F.map_concat(
                F.map_filter(expr, _not_in_fn(list(num_over))),
                F.create_map(*[x for k in sorted(num_over)
                               for x in (F.lit(k), F.lit(num_over[k]).cast("double"))]))
        gate = F.col(symbol_col) == F.lit(symbol)
        result = F.when(gate, expr) if result is None else result.when(gate, expr)
        if cfg.override_fields.get("timestamp") == "current":
            cur = F.unix_millis(F.current_timestamp())
            ts_override = F.when(gate, cur) if ts_override is None else ts_override.when(gate, cur)
    ts = F.col("timestamp")
    return (fields if result is None else result.otherwise(fields),
            ts if ts_override is None else ts_override.otherwise(ts))


def _numeric_overrides(cfg: SymbolConfig) -> dict[str, float]:
    return {k: float(v) for k, v in cfg.override_fields.items()
            if isinstance(v, (int, float)) and not isinstance(v, bool)}


# ---------------------------------------------------------------------------
# Config-as-DATA form: the same §2.8 semantics with the config folded into
# one constant map symbol → rule entry instead of compiled into the
# expression tree. The chained per-symbol CASE above is ideal for the
# reference's few-symbol configs, but its expression tree grows
# O(configured symbols), and so do its analysis cost and per-row eval
# depth. The lookup form keeps the transform CONSTANT size: the row's
# entry is looked up by symbol, and one fixed expression interprets it.

CONFIG_ENTRY_TYPE = (
    "STRUCT<rules: MAP<STRING, STRUCT<op: STRING, value: DOUBLE>>, "
    "renames: MAP<STRING, STRING>, rename_src: MAP<STRING, STRING>, "
    "removes: ARRAY<STRING>, overrides: MAP<STRING, DOUBLE>, "
    "ts_current: BOOLEAN>")


def config_lookup(client_cfg: dict[str, SymbolConfig]):
    """The row's config entry (``CONFIG_ENTRY_TYPE``, null for an
    unconfigured symbol) looked up in a constant map, or None when the
    config isn't lookup-safe: the lookup form applies renames
    simultaneously, which matches the sequential sorted(old) semantics
    only when targets are unique and no target is itself a source (no
    chained renames). Unsafe configs keep the compiled form.

    The map is one JSON literal parsed by ``from_json``, so the
    optimizer folds it to a constant and the analyzer sees one string
    rather than a tree of O(symbols) map and struct constructors.
    Callers project the lookup into its own column before
    ``config_lookup_columns`` reads it, so each row searches the map
    once rather than once per stage that reads the entry.
    ``try_element_at`` rather than ``map[symbol]`` keeps that
    projection: the optimizer counts an extractor as cheap and
    collapses it into its readers (28 copies of the lookup in one
    projection, against one lookup kept in its own)."""
    import json

    entries = {}
    for sym in sorted(client_cfg):
        cfg = client_cfg[sym]
        renames = {o: n for o, n in cfg.rename_fields.items() if o != n}
        targets = list(renames.values())
        if len(set(targets)) != len(targets) or any(t in renames for t in targets):
            return None
        entries[sym] = {
            "rules": {k: {"op": r.op, "value": float(r.value)}
                      for k, r in cfg.value_rules.items()} or None,
            "renames": renames or None,
            "rename_src": {n: o for o, n in renames.items()} or None,
            "removes": list(cfg.remove_fields) or None,
            "overrides": _numeric_overrides(cfg) or None,
            "ts_current": cfg.override_fields.get("timestamp") == "current",
        }
    table = F.from_json(F.lit(json.dumps(entries, sort_keys=True)),
                        f"MAP<STRING, {CONFIG_ENTRY_TYPE}>")
    return F.try_element_at(table, F.col("symbol"))


def config_lookup_columns(entry):
    """§2.8 driven by a looked-up config entry (see ``config_lookup``)
    as two Columns, (fields, timestamp). Stage order and edge semantics
    match ``apply_client_config_map`` exactly (agreement-tested): rules
    on pre-rename names with ÷0→identity, renames only where the source
    key exists (dropping an overwritten target), removes post-rename,
    numeric overrides may resurrect removed keys, and a null entry (an
    unconfigured symbol, the P8 gate) passes the row through."""
    m = F.col("fields")
    rules, renames = entry["rules"], entry["renames"]
    rsrc, removes, overrides = (entry["rename_src"], entry["removes"],
                                entry["overrides"])
    # A stage the entry leaves null is the identity: null lookups keep
    # every key and value, so no stage needs its own null guard (which
    # would copy the previous stage's tree into both branches).

    def _rule_fn(k, v):
        r = rules[k]
        return (
            F.when(r.isNull(), v)
            .when(r["op"] == "add", v + r["value"])
            .when(r["op"] == "subtract", v - r["value"])
            .when(r["op"] == "multiply", v * r["value"])
            .when((r["op"] == "divide") & (r["value"] != F.lit(0.0)), v / r["value"])
            .otherwise(v))

    m1 = F.transform_values(m, _rule_fn)

    def _drop_overwritten(k, v):
        src = rsrc[k]
        return src.isNull() | ~F.map_contains_key(m1, src)

    def _relabel(e):
        return F.struct(F.coalesce(renames[e.key], e.key).alias("key"),
                        e.value.alias("value"))

    m2 = F.map_from_entries(F.transform(
        F.map_entries(F.map_filter(m1, _drop_overwritten)), _relabel))

    def _not_removed(k, v):
        return ~F.coalesce(F.array_contains(removes, k), F.lit(False))

    m3 = F.map_filter(m2, _not_removed)

    def _not_overridden(k, v):
        return ~F.coalesce(F.map_contains_key(overrides, k), F.lit(False))

    m4 = F.map_concat(
        F.map_filter(m3, _not_overridden),
        F.coalesce(overrides, F.create_map().cast("MAP<STRING, DOUBLE>")))
    ts = F.when(F.coalesce(entry["ts_current"], F.lit(False)),
                F.unix_millis(F.current_timestamp())
                ).otherwise(F.col("timestamp"))
    # unconfigured symbols skip the stages altogether
    return F.when(entry.isNull(), m).otherwise(m4), ts
