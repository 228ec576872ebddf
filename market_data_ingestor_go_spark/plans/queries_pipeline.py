"""Reference-pipeline twins (SURVEY.md §2 P/J/A rows): validation,
flatten, config-compiled transforms, enrichment, auth joins, keyed
latest-state. The registry lives in plans/queries.py; split out in
round 15 (r14 verdict #6)."""

from __future__ import annotations

from pyspark.sql import functions as F
from ..functions import market as M
from ..operators.enrich import anti_join, enrich_exchange
from ..operators.latest import latest_per_key
from .common import _events, _t  # noqa: F401


# ------------------------------------------------------- reference operators §2.3

def p5p6p7_config_pipeline(spark, sf_dir):
    """P5/P6/P7 (server.go:199-219) in stage order: value rule →
    rename(value→price) → remove(props) → override(source_tag)."""
    e = _events(spark, sf_dir)
    return (
        e.withColumn("value", F.col("value") * 1.1)        # 1. value rule
        .withColumnRenamed("value", "price")               # 2. rename
        .drop("props")                                     # 3. remove
        .withColumn("source_tag", F.lit("replay"))         # 4. override
        .select("event_id", "event_type", "price", "user_id", "source_tag", "ts_ms")
    )


def p9_exchange_enrichment(spark, sf_dir):
    """P9/J1 (ingestor.go:116-122): broadcast-left-join a small dim;
    probe miss → 'unknown' (exchanges_symbols.go:317-347)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    dim = (n.join(r, F.col("n_regionkey") == F.col("r_regionkey"))
           .select(F.col("n_nationkey").alias("name"), F.col("r_name").alias("exchange")))
    out = enrich_exchange(c.select(F.col("c_custkey"), F.col("c_nationkey").alias("name")),
                          dim, name_col="name")
    return out.select(F.col("c_custkey"), F.col("exchange"))


def p10_api_key_hash(spark, sf_dir):
    """P10 (utils/helper.go:8-11) + S3 shape: sha256 digest feeding the
    is_active-filtered auth lookup."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    return c.select("c_custkey", M.hash_api_key("c_name").alias("key_hash"))


def p11_wire_json(spark, sf_dir):
    """P11 (postgres.go:121, server.go:117): struct → JSON wire string."""
    n = _t(spark, sf_dir, "nation")
    return n.select("n_nationkey", M.to_wire_json("n_nationkey", "n_name").alias("wire"))


# ------------------------------------------------------------------ joins §2.4

def j2_anti_join_unmatched(spark, sf_dir):
    """Anti-join twin of J2: probe keys with no matching order
    (rejected API keys, server.go:83-96 auth-miss path).

    The probe set is the real customer keys UNION a salted "ghost"
    population (every 7th key shifted past the keyspace) that cannot
    match — modelling requests carrying unknown API keys. Round 5:
    the previous all-real probe set anti-joined to zero rows at every
    SF (each fixture customer has orders), so the external hash check
    was trivially green; the ghosts make it non-trivial (>0 rows)."""
    c = _t(spark, sf_dir, "customer")
    probes = c.select("c_custkey", "c_name").unionAll(
        c.filter(F.col("c_custkey") % 7 == 0)
         .select((F.col("c_custkey") + F.lit(1_000_000)).cast("bigint").alias("c_custkey"),
                 F.concat(F.lit("ghost:"), F.col("c_name")).alias("c_name")))
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return anti_join(probes, o, "c_custkey").select("c_custkey", "c_name")


# ------------------------------------------------------------ aggregations §2.5

def a1_latest_per_key(spark, sf_dir):
    """A1 (cache_service.go:45-52): keyed latest-value cache as a batch
    aggregation — timestamp-max last-write-wins with event_id tiebreak
    (documented divergence from the reference's arrival-order LWW,
    SURVEY.md §2.5). max_by partial-aggregates map-side."""
    e = _events(spark, sf_dir).select("user_id", "ts_ms", "event_id", "event_type", "value")
    return latest_per_key(e, "user_id", "ts_ms", tiebreak_cols=["event_id"])


def a1_latest_with_ttl(spark, sf_dir):
    """A1 + TTL eviction (Redis EX 24h, config.go:37): latest per key
    restricted to a 24 h horizon ending at the corpus max timestamp."""
    e = _events(spark, sf_dir).select("user_id", "ts_ms", "event_id", "event_type", "value")
    now = e.agg(F.max("ts_ms").alias("now_ms"))
    live = e.join(F.broadcast(now), F.col("ts_ms") >= F.col("now_ms") - F.lit(86_400_000)) \
            .drop("now_ms")
    return latest_per_key(live, "user_id", "ts_ms", tiebreak_cols=["event_id"])
