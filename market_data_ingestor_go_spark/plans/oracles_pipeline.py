"""Reference-pipeline DuckDB oracles (P/J/A rows). Flat SQL dict —
window membership is derived in plans/oracles.py. Split out in
round 15 (r14 verdict #6)."""

from __future__ import annotations

SQL: dict[str, str] = {}

SQL["p5p6p7_config_pipeline"] = """
SELECT event_id, event_type, value * 1.1 AS price, user_id,
       'replay' AS source_tag, epoch_ms(ts) AS ts_ms
FROM events
"""

SQL["p9_exchange_enrichment"] = """
SELECT c_custkey, COALESCE(d.exchange, 'unknown') AS exchange
FROM customer
LEFT JOIN (
  SELECT n_nationkey, r_name AS exchange
  FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name IN ('ASIA', 'EUROPE')
) d ON c_nationkey = d.n_nationkey
"""

SQL["p10_api_key_hash"] = """
SELECT c_custkey, sha256(c_name) AS key_hash
FROM customer
WHERE c_acctbal > 0
"""

SQL["p11_wire_json"] = """
SELECT n_nationkey,
       to_json(struct_pack(n_nationkey := n_nationkey, n_name := n_name)) AS wire
FROM nation
"""

SQL["j2_anti_join_unmatched"] = """
WITH probes AS (
  SELECT c_custkey, c_name FROM customer
  UNION ALL
  SELECT CAST(c_custkey + 1000000 AS BIGINT) AS c_custkey,
         concat('ghost:', c_name) AS c_name
  FROM customer WHERE c_custkey % 7 = 0
)
SELECT c_custkey, c_name FROM probes p
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = p.c_custkey)
"""

SQL["a1_latest_per_key"] = """
SELECT user_id, ts_ms, event_id, event_type, value FROM (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""

SQL["a1_latest_with_ttl"] = """
SELECT user_id, ts_ms, event_id, event_type, value FROM (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
  FROM events
  WHERE epoch_ms(ts) >= (SELECT MAX(epoch_ms(ts)) FROM events) - 86400000
) WHERE rn = 1
"""
