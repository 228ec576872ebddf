"""E2 — the serve/broadcast path (SURVEY.md §3 E2).

Reference: a connection's key is validated and its config fetched once,
at connect time (server.go:63-69); then every second the server
snapshots the cache and, for *every client × conn × record*, flattens,
applies the per-client transform and WriteJSONs (server.go:88-130).
That is O(clients × symbols) recompute per tick with zero sharing — the
reference's own documented weakness.

Engine realization, split the way Structured Streaming splits a plan
from its executions — declare once, re-run only the data:

- **Once per connection** (``streaming/publisher.py`` calls these on
  the first tick after a connection registers): ``resolve_connections``
  authenticates every new connection in one batched lookup (S3/J2),
  ``fetch_configs`` collects their config rows in one filtered read
  (S4), and ``compile_wire_view`` compiles each distinct config text,
  once, into the Column that renders one ``(vk, wire)`` struct per
  snapshot row (P4-P8 + P11, operators/config_transform.py).
- **Every tick**: ``distinct_wire_views`` puts those compiled structs
  over one flattened scan of the snapshot (P3) as a single
  ``select(inline(array(...)))``, so a tick is one schema-pinned read
  and one action however many configs are live.

Scale posture: the snapshot is ~|symbols| rows (tiny); a tick's cost is
one scan emitting |symbols| × |distinct configs| rows, independent of
the connection count.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.market import PAYLOAD_SCHEMA
from ..operators.config_transform import (
    config_lookup,
    config_lookup_columns,
    config_map_columns,
    parse_client_config,
)
from ..operators.enrich import authenticate_many, _sha256_hex

# Above this many configured symbols, the compiled CASE form's
# expression tree (O(symbols) chained CASEs) costs more to build and
# evaluate than a constant-size transform over the row's entry looked
# up in a constant config map. Below it, inlined literals win (and
# small configs are the reference's actual shape).
JOIN_CONFIG_THRESHOLD = 16


def flatten_snapshot(latest: DataFrame, n_parts: int = 2) -> DataFrame:
    """P3 once per tick (shared scan): decode the double-nested wire
    payload (`data.data`, server.go:180) into a MAP fields column +
    envelope columns — the flat record D5.

    The snapshot is ~|symbols| rows (hundreds), so it coalesces to a
    couple of partitions: per-tick collects otherwise pay 32 task
    launches to move 500 rows (measured ~3× the tick's total cost)."""
    parsed = latest.withColumn("_payload", F.from_json(F.col("data"), PAYLOAD_SCHEMA))
    return parsed.select(
        F.col("_payload.data").alias("fields"),
        F.col("name").alias("symbol"),
        F.col("timestamp"),
        F.col("exchange"),
    ).coalesce(n_parts)


def resolve_connections(api_keys: DataFrame,
                        presented_keys: dict[str, str]) -> dict[str, str]:
    """Auth many connections in ONE batched lookup (server.go:63-67
    semantics, batched): {conn_id: client_id} for connections whose
    key matched an active credential; invalid / inactive keys are
    simply absent."""
    hash2client = {r["key_hash"]: r["client_id"]
                   for r in authenticate_many(
                       api_keys, list(presented_keys.values())).collect()}
    return {conn_id: hash2client[_sha256_hex(key)]
            for conn_id, key in presented_keys.items()
            if _sha256_hex(key) in hash2client}


def fetch_configs(configs_df: DataFrame, client_ids: set[str]) -> dict[str, str]:
    """S4: {client_id: config JSON text} for ``client_ids`` in one
    filtered collect of clients_configs(id, config) (server.go:69). A
    client without a row, or with a null config, maps to ""."""
    rows = (configs_df.filter(F.col("id").isin(sorted(client_ids)))
            .select("id", "config").collect())
    out = dict.fromkeys(client_ids, "")
    out.update({r["id"]: r["config"] or "" for r in rows})
    return out


@dataclass(frozen=True)
class WireView:
    """One distinct config text, compiled once.

    ``struct`` renders a flat snapshot row as ``(vk, wire)``: the view
    key and the row's transformed JSON frame. ``lookups`` are the
    (column name, Column) pairs it reads, to be projected before it."""
    key: str
    struct: Column
    lookups: tuple[tuple[str, Column], ...] = ()


def view_key(cfg_text: str) -> str:
    """A config text's view key: its md5, stable across ticks and
    connections."""
    return hashlib.md5(cfg_text.encode()).hexdigest()


def compile_wire_view(cfg_text: str) -> WireView:
    """Compile a client config text into its ``WireView``. A missing or
    unparsable config is the identity (postgres.go:180-182 returns nil
    → no transform).

    Configs of up to ``JOIN_CONFIG_THRESHOLD`` symbols, and wider ones
    that are not lookup-safe, compile to the chained CASE form; wider
    lookup-safe ones read their entry from a constant config map,
    looked up once per row in its own column."""
    key = view_key(cfg_text)
    try:
        cfg = parse_client_config(json.loads(cfg_text)) if cfg_text else {}
    except (TypeError, ValueError):
        cfg = {}
    lookups: tuple[tuple[str, Column], ...] = ()
    lookup = config_lookup(cfg) if len(cfg) > JOIN_CONFIG_THRESHOLD else None
    if lookup is not None:
        name = f"_cfg_{key}"
        lookups = ((name, lookup),)
        fields, ts = config_lookup_columns(F.col(name))
    else:
        fields, ts = config_map_columns(cfg)
    wire = F.to_json(F.struct(F.col("symbol"), ts.alias("timestamp"),
                              F.col("exchange"), fields.alias("fields")))
    return WireView(key, F.struct(F.lit(key).alias("vk"), wire.alias("wire")),
                    lookups)


def distinct_wire_views(latest: DataFrame, views: list[WireView]) -> DataFrame:
    """The tick's plan: (vk, wire) rows of every view in ``views`` over
    ONE flattened scan of ``latest`` — the lookups in one projection,
    then a single ``inline(array(<one struct per view>))``. Collecting
    it is the tick's one Spark job."""
    flat = flatten_snapshot(latest)
    lookups = [col.alias(name) for v in views for name, col in v.lookups]
    if lookups:
        flat = flat.select("*", *lookups)
    return flat.select(F.inline(F.array(*[v.struct for v in views])))
