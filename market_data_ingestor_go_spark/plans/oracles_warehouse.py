"""Warehouse-domain DuckDB oracles (TPC-H shapes, aggregate/window/
set-op operators, orders/customer/part analytics). Flat SQL dict —
window membership is derived in plans/oracles.py from the declared
QUERIES window. Split out in round 15 (r14 verdict #6)."""

from __future__ import annotations

from .oracles_common import _dsum  # noqa: F401

SQL: dict[str, str] = {}

SQL["q1_pricing_summary"] = f"""
SELECT l_returnflag, l_linestatus,
       {_dsum('l_quantity')} AS sum_qty,
       {_dsum('l_extendedprice')} AS sum_base_price,
       {_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {_dsum('l_quantity')} / COUNT(*) AS avg_qty,
       {_dsum('l_extendedprice')} / COUNT(*) AS avg_price,
       {_dsum('l_discount')} / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

SQL["q3_top_revenue_orders"] = f"""
SELECT o_orderkey, o_orderpriority,
       {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
       epoch_ms(o_orderdate) AS o_orderdate_ms
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderpriority, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""

SQL["q5_region_nation_revenue"] = f"""
SELECT r_name, n_name,
       {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY r_name, n_name
"""

SQL["set_ops_status_migration"] = """
SELECT o_custkey, 'only_open' AS tag FROM (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
UNION ALL
SELECT o_custkey, 'both' AS tag FROM (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
"""

SQL["set_ops_all_variants"] = """
SELECT o_custkey, 'open_minus_fin_all' AS tag FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
UNION ALL
SELECT o_custkey, 'both_all' AS tag FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
"""

SQL["unpivot_event_matrix"] = """
SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events
WHERE event_type IN ('click', 'view', 'purchase', 'signup', 'error')
GROUP BY user_id, event_type
"""

SQL["window_rank_stats"] = """
SELECT o_custkey, o_orderkey,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       percent_rank() OVER w AS prnk,
       ntile(4) OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey)
"""

SQL["agg_cube_year_status"] = f"""
SELECT year(o_orderdate) AS order_year, o_orderstatus,
       COUNT(*) AS n_orders,
       {_dsum('o_totalprice')} AS sum_total
FROM orders
GROUP BY CUBE (order_year, o_orderstatus)
"""

SQL["orders_by_year"] = f"""
SELECT year(o_orderdate) AS order_year,
       quarter(o_orderdate) AS order_quarter,
       COUNT(*) AS n_orders,
       {_dsum('o_totalprice')} AS sum_total
FROM orders
GROUP BY 1, 2
"""

SQL["string_functions"] = """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       substring(p_type, 1, 5) AS type_prefix,
       length(p_name) AS name_len,
       concat_ws('/', p_brand, p_type) AS brand_type,
       replace(p_brand, '#', '_') AS brand_safe
FROM part
WHERE p_size >= 25
"""

SQL["q18_large_orders"] = """
SELECT o_orderkey, o_custkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
       CAST(qty AS DOUBLE) AS total_qty
FROM orders
JOIN (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(27,6))) AS qty
  FROM lineitem GROUP BY l_orderkey HAVING qty > 300
) b ON o_orderkey = b.l_orderkey
"""

SQL["q7_nation_volume"] = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS ship_year,
       {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
"""

SQL["q21_sole_late_supplier"] = """
WITH j AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'),
per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supps,
         COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supps
  FROM j GROUP BY l_orderkey),
late_lines AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM j WHERE late)
SELECT l.l_suppkey, COUNT(*) AS n_sole_late_orders
FROM late_lines l
JOIN per_order p ON l.l_orderkey = p.l_orderkey
WHERE p.n_supps > 1 AND p.n_late_supps = 1
GROUP BY l.l_suppkey
"""

SQL["sql_api_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

SQL["q14_promo_revenue_share"] = """
SELECT CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))
                     ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
       * 100.0 AS promo_share_pct,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1996-07-01'
"""

SQL["q22_idle_customers"] = f"""
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS v
  FROM customer WHERE c_acctbal > 0)
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       {_dsum('c_acctbal')} AS total_balance
FROM customer, avg_bal
WHERE c_acctbal > avg_bal.v
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""

SQL["skew_salted_agg"] = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS total_qty,
       COUNT(*) AS n_rows,
       CAST(MAX(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS max_qty
FROM lineitem
GROUP BY l_returnflag
"""

# ------------------------------------------------------------------
# Oracles for EXTRA_QUERIES (plans/queries.py): shapes pruned from the
# driver's 50-entry correctness window but still parity-tested locally
SQL["q4_order_priority"] = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""

SQL["q10_returned_items"] = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

SQL["orders_cohort_matrix"] = """
WITH f AS (
  SELECT o_custkey, year(MIN(o_orderdate)) AS cohort_year
  FROM orders GROUP BY o_custkey)
SELECT cohort_year, year(o_orderdate) AS order_year,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT orders.o_custkey) AS n_active_custs
FROM orders JOIN f ON orders.o_custkey = f.o_custkey
GROUP BY cohort_year, year(o_orderdate)
"""

# TPC-H Q15 shape: decimal-exact revenue, max kept via a window over
# the per-supplier aggregate (ties survive on both engines).
SQL["q15_top_supplier"] = """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(27,6))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01'
    AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey)
SELECT supplier_no, s_name, total_revenue
FROM rev JOIN supplier ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""

# Blocked fuzzy join: DuckDB's levenshtein is the same edit-distance
# metric as Spark's; blocking keys and tiebreaks identical.
SQL["fuzzy_name_block_join"] = """
WITH p AS (
  SELECT a.c_nationkey AS nationkey,
         levenshtein(a.c_name, b.c_name) AS d
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 2)
SELECT nationkey, COUNT(*) AS n_close_pairs, MIN(d) AS min_distance
FROM p GROUP BY nationkey
"""

# Bloom-prefiltered semi join: the filter guarantees no false
# negatives and the verify join removes false positives, so the exact
# EXISTS is the oracle — a hash match proves the probabilistic
# prefilter changed nothing but the shuffle volume.
SQL["bloom_semi_join_agg"] = f"""
SELECT l_returnflag, COUNT(*) AS n_rows,
       COUNT(DISTINCT l_partkey) AS n_parts,
       {_dsum('l_quantity')} AS sum_qty
FROM lineitem l
WHERE EXISTS (SELECT 1 FROM part p
              WHERE p.p_partkey = l.l_partkey AND p.p_size >= 48)
GROUP BY l_returnflag
"""

# ---------------------------------------------------------------- round 8
# TPC-H shape completion (q9/q11/q16/q20 — the four whose canonical
# form needs partsupp, absent from the fixture; the SHAPES are intact,
# see the query docstrings). Double literals embedded as
# CAST('<repr>' AS DOUBLE) per the cross-engine numerics rules; every
# integer aggregate in a final projection stays COUNT (BIGINT both
# engines) — no HUGEINT-able SUMs escape uncast.

SQL["q9_product_profit"] = f"""
SELECT n_name AS nation, year(o_orderdate) AS order_year,
       {_dsum("l_extendedprice * (1 - l_discount) "
              "- p_retailprice * l_quantity * CAST('0.1' AS DOUBLE)")}
         AS profit,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, year(o_orderdate)
"""

SQL["q11_important_stock"] = f"""
WITH per_part AS (
  SELECT l_partkey, {_dsum('l_extendedprice')} AS part_value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey),
total AS (
  SELECT {_dsum('part_value')} AS total_value FROM per_part)
SELECT l_partkey, part_value
FROM per_part, total
WHERE part_value > total_value * CAST('0.001' AS DOUBLE)
"""

SQL["q16_supplier_part_counts"] = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
GROUP BY p_brand, p_type, p_size
"""

SQL["q20_part_promotion"] = f"""
WITH sp AS (
  SELECT l_suppkey, l_partkey, {_dsum('l_quantity')} AS supp_qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%bolt%'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey),
part_tot AS (
  SELECT l_partkey, {_dsum('supp_qty')} AS part_qty
  FROM sp GROUP BY l_partkey),
big AS (
  SELECT DISTINCT l_suppkey
  FROM sp JOIN part_tot USING (l_partkey)
  WHERE supp_qty > part_qty * CAST('0.3' AS DOUBLE))
SELECT s_suppkey, s_name, n_name AS nation
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM big)
"""

# Per-column data-quality profile (r12): exact row/null/distinct
# counts per column of orders, one row per column. COUNT(DISTINCT)
# excludes NULLs on both engines.
_DQ_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]

SQL["orders_dq_profile"] = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
FROM orders""" for c in _DQ_COLS)

# Interval overlap join (r12): the oracle runs the exact theta join
# (ground truth; cartesian by nature, fine at oracle scale) over
# epoch-day integers; the engine's bucketized equi-join must emit the
# identical pair set + closed-interval overlap lengths.
SQL["interval_overlap_shipments"] = """
WITH a AS (
  SELECT l_orderkey, l_linenumber,
         date_diff('day', DATE '1970-01-01',
                   CAST(l_shipdate AS DATE)) AS a_s,
         date_diff('day', DATE '1970-01-01',
                   CAST(l_shipdate AS DATE))
         + 1 + CAST(l_quantity AS INT) AS a_e
  FROM lineitem WHERE l_partkey % 97 = 0
), b AS (
  SELECT o_orderkey AS promo_orderkey,
         date_diff('day', DATE '1970-01-01',
                   CAST(o_orderdate AS DATE)) AS b_s
  FROM orders
  WHERE o_orderpriority = '1-URGENT'
    AND EXTRACT(year FROM o_orderdate) = 1995
)
SELECT l_orderkey, l_linenumber, promo_orderkey,
       CAST(LEAST(a_e, b_s + 30) - GREATEST(a_s, b_s) + 1 AS BIGINT)
         AS overlap_days
FROM a JOIN b ON a_s <= b_s + 30 AND b_s <= a_e
"""

# --- round-13 additions (the query docstrings carry the operator
# rationale) -----------------------------------------------------------

# Benford first-digit conformance. First digit via floor() on BOTH
# engines: DuckDB's double→int CAST rounds half-to-even while Spark
# truncates, but double floor() is exact IEEE and the result is
# integral so the cast is exact. Benford probabilities are
# repr-embedded double literals (string parse is correctly rounded);
# the χ² tree is the identical fixed IEEE op sequence.
SQL["orders_benford_test"] = """
WITH f AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
), tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM f),
g AS (SELECT digit, COUNT(*) AS n_obs FROM f GROUP BY digit),
p (digit, expected_p) AS (VALUES
  (1, CAST('0.3010299956639812' AS DOUBLE)),
  (2, CAST('0.17609125905568124' AS DOUBLE)),
  (3, CAST('0.12493873660829992' AS DOUBLE)),
  (4, CAST('0.09691001300805642' AS DOUBLE)),
  (5, CAST('0.07918124604762482' AS DOUBLE)),
  (6, CAST('0.06694678963061322' AS DOUBLE)),
  (7, CAST('0.05799194697768673' AS DOUBLE)),
  (8, CAST('0.05115252244738129' AS DOUBLE)),
  (9, CAST('0.04575749056067514' AS DOUBLE)))
SELECT CAST(g.digit AS BIGINT) AS digit,
       CAST(g.n_obs AS BIGINT) AS n_obs,
       p.expected_p,
       CAST(g.n_obs AS DOUBLE) / t AS observed_p,
       (CAST(g.n_obs AS DOUBLE) - p.expected_p * t)
       * (CAST(g.n_obs AS DOUBLE) - p.expected_p * t)
       / (p.expected_p * t) AS chi2_term
FROM g JOIN p USING (digit) CROSS JOIN tot
"""

# One-way ANOVA: per-group exact decimal moments, string-routed
# means, each group's SSB/SSW double term quantized to DECIMAL(27,6)
# before the cross-group sum (order-independent reduction — a raw
# double sum over groups would be fold-order-dependent), identical
# F finisher tree with the degenerate-case CASE guard mirrored.
SQL["part_brand_price_anova"] = """
WITH g AS (
  SELECT p_brand,
         COUNT(*) AS n_g,
         SUM(CAST(p_retailprice AS DECIMAL(27,6))) AS s_g,
         SUM(CAST(p_retailprice * p_retailprice AS DECIMAL(27,6)))
           AS ss_g
  FROM part WHERE p_retailprice IS NOT NULL
  GROUP BY p_brand
), t AS (
  SELECT *, SUM(n_g) OVER () AS n, SUM(s_g) OVER () AS s FROM g
), terms AS (
  SELECT n,
         CAST(CAST(s_g AS VARCHAR) AS DOUBLE) / CAST(n_g AS DOUBLE)
           AS mean_g,
         CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
           AS mean,
         CAST(n_g AS DOUBLE) AS n_g_d,
         CAST(CAST(ss_g AS VARCHAR) AS DOUBLE) AS ss_g_d
  FROM t
), agg AS (
  SELECT n, COUNT(*) AS k,
         SUM(CAST(n_g_d * (mean_g - mean) * (mean_g - mean)
                  AS DECIMAL(27,6))) AS ssb,
         SUM(CAST(ss_g_d - n_g_d * mean_g * mean_g
                  AS DECIMAL(27,6))) AS ssw
  FROM terms GROUP BY n
)
SELECT CAST(k AS BIGINT) AS k_groups,
       CAST(n AS BIGINT) AS n_rows,
       CAST(CAST(ssb AS VARCHAR) AS DOUBLE) AS ss_between,
       CAST(CAST(ssw AS VARCHAR) AS DOUBLE) AS ss_within,
       CASE WHEN k > 1 AND n > k
                 AND CAST(CAST(ssw AS VARCHAR) AS DOUBLE) > 0 THEN
         (CAST(CAST(ssb AS VARCHAR) AS DOUBLE)
          / (CAST(k AS DOUBLE) - 1.0))
         / (CAST(CAST(ssw AS VARCHAR) AS DOUBLE)
            / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
       END AS f_stat
FROM agg
"""

# FK orphan audit: per-edge exact counts via NOT-EXISTS anti
# semantics; every integer count in the final projection CAST to
# BIGINT (HUGEINT otherwise); the rate division mirrored behind the
# same zero-guard CASE.
SQL["fk_orphan_audit"] = """
WITH e AS (
  SELECT 'lineitem->orders' AS fk_edge,
         (SELECT COUNT(*) FROM lineitem) AS n_child,
         (SELECT COUNT(l_orderkey) FROM lineitem) AS n_nonnull,
         (SELECT COUNT(*) FROM lineitem c
          WHERE c.l_orderkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM orders p
             WHERE p.o_orderkey = c.l_orderkey)) AS n_orphans
  UNION ALL
  SELECT 'lineitem->part',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(l_partkey) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem c
          WHERE c.l_partkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM part p WHERE p.p_partkey = c.l_partkey))
  UNION ALL
  SELECT 'lineitem->supplier',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(l_suppkey) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem c
          WHERE c.l_suppkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM supplier p WHERE p.s_suppkey = c.l_suppkey))
  UNION ALL
  SELECT 'orders->customer',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(o_custkey) FROM orders),
         (SELECT COUNT(*) FROM orders c
          WHERE c.o_custkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM customer p WHERE p.c_custkey = c.o_custkey))
  UNION ALL
  SELECT 'customer->nation',
         (SELECT COUNT(*) FROM customer),
         (SELECT COUNT(c_nationkey) FROM customer),
         (SELECT COUNT(*) FROM customer c
          WHERE c.c_nationkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM nation p
             WHERE p.n_nationkey = c.c_nationkey))
)
SELECT fk_edge,
       CAST(n_child AS BIGINT) AS n_child,
       CAST(n_nonnull AS BIGINT) AS n_nonnull,
       CAST(n_orphans AS BIGINT) AS n_orphans,
       CASE WHEN n_nonnull > 0 THEN
         CAST(n_orphans AS DOUBLE) / CAST(n_nonnull AS DOUBLE)
       END AS orphan_rate
FROM e
"""

# Pareto revenue concentration: exact DECIMAL(27,6) spend sums, a
# (spend DESC, custkey) total-order rank, k = (n+9)//10 (truncating
# // ≡ Spark div on positives), string-routed decimal division.
SQL["customer_revenue_pareto"] = """
WITH spend AS (
  SELECT o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS spend
  FROM orders GROUP BY o_custkey
), s AS (
  SELECT c.c_mktsegment, c.c_custkey, spend.spend,
         row_number() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY spend.spend DESC, c.c_custkey)
           AS rk,
         COUNT(*) OVER (PARTITION BY c.c_mktsegment) AS n
  FROM spend JOIN customer c ON spend.o_custkey = c.c_custkey
), a AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(MAX((n + 9) // 10) AS BIGINT) AS k_top10,
         SUM(spend) AS total_spend,
         SUM(CASE WHEN rk <= (n + 9) // 10 THEN spend END) AS top_spend
  FROM s GROUP BY c_mktsegment
)
SELECT c_mktsegment, n_customers, k_top10,
       CASE WHEN total_spend > 0 THEN
         CAST(CAST(top_spend AS VARCHAR) AS DOUBLE)
         / CAST(CAST(total_spend AS VARCHAR) AS DOUBLE)
       END AS top10_share
FROM a
"""

# Skewness/kurtosis per order status: identical left-associated
# power chains, per-term decimal quantization, string-routed central
# moment identities, mirrored degenerate guard. Double literals
# (2.0/3.0/4.0/6.0) are exactly representable so DuckDB's DECIMAL
# literal promotion is lossless.
SQL["orders_price_skew_kurtosis"] = """
WITH b AS (
  SELECT o_orderstatus AS g,
         CAST(round(o_totalprice * 100) AS DECIMAL(9,0)) AS xc
  FROM orders WHERE o_totalprice IS NOT NULL
), b2 AS (
  -- xc2 at DECIMAL(19,0): forces DuckDB's int128 multiply path
  -- (the documented int64 fast-path overflow at width <= 18)
  SELECT g, xc, CAST(xc * xc AS DECIMAL(19,0)) AS xc2 FROM b
), m AS (
  SELECT g,
         COUNT(*) AS n_g,
         SUM(xc) AS s1,
         SUM(xc2) AS s2,
         SUM(xc2 * xc) AS s3,
         SUM(xc2 * xc2) AS s4
  FROM b2 GROUP BY g
), f AS (
  SELECT g, n_g,
         CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n_g AS DOUBLE) AS m1,
         CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(n_g AS DOUBLE) AS r2,
         CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / CAST(n_g AS DOUBLE) AS r3,
         CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / CAST(n_g AS DOUBLE) AS r4
  FROM m
), c AS (
  SELECT g, n_g, m1,
         r2 - m1 * m1 AS m2,
         r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
         r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
            - 3.0 * m1 * m1 * m1 * m1 AS m4
  FROM f
)
SELECT g AS o_orderstatus,
       CAST(n_g AS BIGINT) AS n_rows,
       m1 / 100.0 AS mean,
       m2 / 10000.0 AS m2_variance,
       CASE WHEN n_g > 1 AND m2 > 0
         THEN m3 / (m2 * sqrt(m2)) END AS skewness,
       CASE WHEN n_g > 1 AND m2 > 0
         THEN m4 / (m2 * m2) - 3.0 END AS kurtosis_excess
FROM c
"""

# Fulfillment lag per priority: epoch-day integers, exact rank-⌈qn⌉
# quantile elements over a (lag, orderkey) total order, exact-decimal
# mean via the VARCHAR hop, BIGINT-cast final integers.
SQL["orders_fulfillment_lag"] = """
WITH li AS (
  SELECT l_orderkey,
         MAX(date_diff('day', DATE '1970-01-01',
                       CAST(l_shipdate AS DATE))) AS last_ship
  FROM lineitem GROUP BY l_orderkey
), j AS (
  SELECT o.o_orderkey, o.o_orderpriority,
         li.last_ship - date_diff('day', DATE '1970-01-01',
                                  CAST(o.o_orderdate AS DATE)) AS lag
  FROM orders o JOIN li ON o.o_orderkey = li.l_orderkey
), r AS (
  SELECT o_orderpriority, o_orderkey, lag,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY lag, o_orderkey) AS rk,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM j
)
SELECT o_orderpriority,
       CAST(MAX(n) AS BIGINT) AS n_orders,
       CAST(MAX(CASE WHEN rk = (n + 1) // 2 THEN lag END) AS BIGINT)
         AS median_lag_days,
       CAST(MAX(CASE WHEN rk = (9 * n + 9) // 10 THEN lag END)
            AS BIGINT) AS p90_lag_days,
       CAST(CAST(SUM(CAST(lag AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
         / CAST(MAX(n) AS BIGINT) AS mean_lag_days
FROM r GROUP BY o_orderpriority
"""

# Wilson lower-bound return-rate ranking: exact BIGINT counts, one
# fixed IEEE tree (1.96 embeds exactly; sqrt correctly rounded),
# (bound DESC, brand) total order, top 10.
SQL["part_brand_return_rates"] = """
WITH a AS (
  SELECT p.p_brand,
         COUNT(*) AS n,
         SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS r
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
), f AS (
  SELECT p_brand,
         CAST(n AS BIGINT) AS n_items,
         CAST(r AS BIGINT) AS n_returned,
         CAST(r AS DOUBLE) / CAST(n AS DOUBLE) AS p,
         CAST(n AS DOUBLE) AS nd
  FROM a
)
SELECT p_brand, n_items, n_returned,
       p AS return_rate,
       -- z routed through a VARCHAR-parsed double so both engines
       -- compute the identical double product tree (a bare 1.96 is
       -- DECIMAL in DuckDB and z*z would fold decimal-exactly)
       CASE WHEN n_items > 0 THEN
         (p + (CAST('1.96' AS DOUBLE) * CAST('1.96' AS DOUBLE))
              / (2.0 * nd)
          - CAST('1.96' AS DOUBLE)
            * sqrt((p * (1.0 - p)
                    + (CAST('1.96' AS DOUBLE)
                       * CAST('1.96' AS DOUBLE)) / (4.0 * nd)) / nd))
         / (1.0 + (CAST('1.96' AS DOUBLE)
                   * CAST('1.96' AS DOUBLE)) / nd)
       END AS wilson_lower
FROM f
ORDER BY wilson_lower DESC, p_brand
LIMIT 10
"""


# HHI supplier concentration: exact DECIMAL(27,6) per-supplier sums;
# SHARE-SPACE squares (share = srev/R via the VARCHAR hop, one IEEE
# division; share^2 <= 1 summed through DECIMAL(27,12) — scaled
# < 1e12, well inside the r14 safe double->decimal boundary), HHI = the
# sum itself, no post-sum division.
SQL["nation_supplier_hhi"] = """
WITH ps AS (
  SELECT s_nationkey, l_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(27,6))) AS srev
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_nationkey, l_suppkey
), t AS (
  SELECT s_nationkey,
         COUNT(*) AS n_suppliers,
         SUM(srev) AS total_rev
  FROM ps GROUP BY s_nationkey
), sh AS (
  SELECT ps.s_nationkey, t.n_suppliers, t.total_rev,
         CAST(CAST(ps.srev AS VARCHAR) AS DOUBLE)
           / CAST(CAST(t.total_rev AS VARCHAR) AS DOUBLE) AS share
  FROM ps JOIN t USING (s_nationkey)
), a AS (
  SELECT s_nationkey, n_suppliers, total_rev,
         SUM(CAST(share * share AS DECIMAL(27,12))) AS hhi_sum
  FROM sh GROUP BY s_nationkey, n_suppliers, total_rev
)
SELECT n_name AS nation,
       CAST(n_suppliers AS BIGINT) AS n_suppliers,
       CAST(CAST(total_rev AS VARCHAR) AS DOUBLE) AS total_revenue,
       CASE WHEN total_rev > 0
            THEN CAST(CAST(hhi_sum AS VARCHAR) AS DOUBLE) END AS hhi,
       CASE WHEN total_rev > 0 AND hhi_sum > 0
            THEN 1.0 / CAST(CAST(hhi_sum AS VARCHAR) AS DOUBLE) END
         AS effective_suppliers
FROM a JOIN nation ON s_nationkey = n_nationkey
"""


# Tie-aware exact Spearman: doubled average ranks from the value
# histograms are exact integers (2*cum_before + n_v + 1); moments
# decompose over the (x, y) pair histogram with DECIMAL products
# factor-width-bounded to stay inside 38 (values < 1e12 each per the
# operator's documented n <= 1e9 budget); shared Pearson op order.
SQL["lineitem_qty_price_spearman"] = """
WITH b AS (
  SELECT l_quantity AS xv, l_extendedprice AS yv FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), hx AS (
  SELECT xv, COUNT(*) AS nv FROM b GROUP BY xv
), rx AS (
  SELECT xv,
         CAST(2 * COALESCE(SUM(nv) OVER (ORDER BY xv
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + nv + 1 AS DECIMAL(18,0)) AS xr2
  FROM hx
), hy AS (
  SELECT yv, COUNT(*) AS nv FROM b GROUP BY yv
), ry AS (
  SELECT yv,
         CAST(2 * COALESCE(SUM(nv) OVER (ORDER BY yv
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + nv + 1 AS DECIMAL(18,0)) AS yr2
  FROM hy
), p AS (
  SELECT xv, yv, COUNT(*) AS n_xy FROM b GROUP BY xv, yv
), j AS (
  SELECT CAST(p.n_xy AS DECIMAL(13,0)) AS nn, rx.xr2, ry.yr2
  FROM p JOIN rx USING (xv) JOIN ry USING (yv)
), m AS (
  SELECT SUM(nn) AS n,
         SUM(CAST(xr2 AS DECIMAL(25,0)) * nn) AS sx,
         SUM(CAST(yr2 AS DECIMAL(25,0)) * nn) AS sy,
         SUM(CAST(xr2 * xr2 AS DECIMAL(25,0)) * nn) AS sxx,
         SUM(CAST(yr2 * yr2 AS DECIMAL(25,0)) * nn) AS syy,
         SUM(CAST(xr2 * yr2 AS DECIMAL(25,0)) * nn) AS sxy
  FROM j
), f AS (
  SELECT n,
         CAST(CAST(sxy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
           AS cov,
         CAST(CAST(sxx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
           AS vx,
         CAST(CAST(syy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
           AS vy
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CASE WHEN n > 1 AND vx > 0 AND vy > 0
            THEN cov / sqrt(vx * vy) END AS spearman_rho
FROM f
"""


# Lag-1 autocorrelation of daily revenue: day-grain exact decimal
# sums, integer-day self-join for consecutive pairs; moment terms on
# the NORMALIZED double x = str(rev)/1e9 (correlation is invariant to
# the common scaling), each term through DECIMAL(27,6) — scaled
# < 1e15, inside the r14 safe boundary; shared Pearson IEEE tree.
SQL["orders_daily_autocorr"] = """
WITH pd AS (
  SELECT date_diff('day', DATE '1970-01-01',
                   CAST(o_orderdate AS DATE)) AS d,
         SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS rev
  FROM orders GROUP BY 1
), pr AS (
  SELECT CAST(CAST(a.rev AS VARCHAR) AS DOUBLE) / 1.0e9 AS x,
         CAST(CAST(b.rev AS VARCHAR) AS DOUBLE) / 1.0e9 AS y
  FROM pd a JOIN pd b ON b.d = a.d + 1
), m AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(27,6))) AS sx,
         SUM(CAST(y AS DECIMAL(27,6))) AS sy,
         SUM(CAST(x * x AS DECIMAL(27,6))) AS sxx,
         SUM(CAST(y * y AS DECIMAL(27,6))) AS syy,
         SUM(CAST(x * y AS DECIMAL(27,6))) AS sxy
  FROM pr
), f AS (
  SELECT n,
         CAST(CAST(sxy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
           AS cov,
         CAST(CAST(sxx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
           AS vx,
         CAST(CAST(syy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
           AS vy
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       CASE WHEN n > 1 AND vx > 0 AND vy > 0
            THEN cov / sqrt(vx * vy) END AS lag1_autocorr
FROM f
"""


# Sorted-Neighborhood blocking: global row_number over the
# (c_name, c_custkey) total order, rank-window candidate pairs,
# classic-DP Levenshtein verify (integer on both engines).
SQL["customer_sorted_neighborhood_pairs"] = """
WITH r AS (
  SELECT c_custkey, c_name,
         row_number() OVER (ORDER BY c_name, c_custkey) AS rnk
  FROM customer WHERE c_name IS NOT NULL
), p AS (
  SELECT levenshtein(a.c_name, b.c_name) AS dist
  FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 5
), m AS (
  SELECT COUNT(*) AS nc,
         SUM(CASE WHEN dist <= 2 THEN 1 ELSE 0 END) AS nm,
         SUM(CASE WHEN dist <= 2 THEN dist ELSE 0 END) AS ds
  FROM p
)
SELECT CAST(nc AS BIGINT) AS n_candidates,
       CAST(nm AS BIGINT) AS n_matches,
       CASE WHEN nm > 0 THEN CAST(ds AS DOUBLE) / CAST(nm AS DOUBLE) END
         AS mean_match_distance
FROM m
"""


# Open-order backlog sweep line: +-1 boundary deltas on epoch-day
# integers, exact BIGINT running sum at change-point days.
SQL["orders_open_backlog_days"] = """
WITH li AS (
  SELECT l_orderkey,
         MAX(date_diff('day', DATE '1970-01-01',
                       CAST(l_shipdate AS DATE))) AS last_ship
  FROM lineitem GROUP BY l_orderkey
), o AS (
  SELECT o_orderkey,
         date_diff('day', DATE '1970-01-01',
                   CAST(o_orderdate AS DATE)) AS order_day
  FROM orders
), j AS (
  SELECT order_day, last_ship
  FROM o JOIN li ON o_orderkey = l_orderkey
), d AS (
  SELECT day_num, SUM(delta) AS dd FROM (
    SELECT order_day AS day_num, 1 AS delta FROM j
    UNION ALL
    SELECT last_ship + 1 AS day_num, -1 AS delta FROM j
  ) u
  GROUP BY day_num HAVING SUM(delta) <> 0
)
SELECT CAST(day_num AS BIGINT) AS day_num,
       CAST(SUM(dd) OVER (ORDER BY day_num
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_open
FROM d
"""


# Theil-Sen robust trend: exact day-grain decimal sums; each pairwise
# slope is one string-routed decimal-difference parse + one IEEE
# division; the median is the exact lower-median ELEMENT over the
# (slope, da, db) total order.
SQL["orders_theilsen_trend"] = """
WITH pd AS (
  SELECT date_diff('day', DATE '1970-01-01',
                   CAST(o_orderdate AS DATE)) AS d,
         SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS rev
  FROM orders GROUP BY 1
), pr AS (
  SELECT a.d AS da, b.d AS db,
         CAST(CAST(b.rev - a.rev AS VARCHAR) AS DOUBLE)
           / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM pd a JOIN pd b ON a.d < b.d
), r AS (
  SELECT slope,
         row_number() OVER (ORDER BY slope, da, db) AS rk,
         COUNT(*) OVER () AS np
  FROM pr
), nd AS (SELECT COUNT(*) AS n_days FROM pd)
SELECT CAST(nd.n_days AS BIGINT) AS n_days,
       CAST(MAX(np) AS BIGINT) AS n_pairs,
       MAX(CASE WHEN rk = (np + 1) // 2 THEN slope END)
         AS theilsen_slope
FROM r CROSS JOIN nd
GROUP BY nd.n_days
"""


# Wald-Wolfowitz runs test: exact lower-median element, exact tie
# exclusion on decimal equality, integer runs count, exact DECIMAL
# products + string hops into one fixed IEEE z tree.
SQL["orders_revenue_runs_test"] = """
WITH pd AS (
  SELECT date_diff('day', DATE '1970-01-01',
                   CAST(o_orderdate AS DATE)) AS d,
         SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS rev
  FROM orders GROUP BY 1
), rkd AS (
  SELECT d, rev,
         row_number() OVER (ORDER BY rev, d) AS rk,
         COUNT(*) OVER () AS n
  FROM pd
), med AS (
  SELECT rev AS m FROM rkd WHERE rk = (n + 1) // 2
), s AS (
  SELECT d, pd.rev > med.m AS up
  FROM pd CROSS JOIN med
  WHERE pd.rev != med.m
), b AS (
  SELECT up,
         CASE WHEN lag(up) OVER (ORDER BY d) IS NULL
                OR up != lag(up) OVER (ORDER BY d)
              THEN 1 ELSE 0 END AS brk
  FROM s
), a AS (
  SELECT COUNT(*) AS n_used,
         SUM(CASE WHEN up THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN up THEN 0 ELSE 1 END) AS n2,
         SUM(brk) AS n_runs
  FROM b
), f AS (
  SELECT n_used, n1, n2, n_runs,
         CAST(2 AS DECIMAL(2,0)) * CAST(n1 AS DECIMAL(6,0))
           * CAST(n2 AS DECIMAL(6,0)) AS two_n1n2,
         CAST(n_used AS DECIMAL(7,0)) AS n38
  FROM a
)
SELECT CAST(n_used AS BIGINT) AS n_days_used,
       CAST(n1 AS BIGINT) AS n_above,
       CAST(n2 AS BIGINT) AS n_below,
       CAST(n_runs AS BIGINT) AS n_runs,
       CASE WHEN n1 > 0 AND n2 > 0 AND n_used > 1
             AND CAST(CAST(two_n1n2 * (two_n1n2 - n38) AS VARCHAR)
                      AS DOUBLE)
               / CAST(CAST(n38 * n38 * (n38 - CAST(1 AS DECIMAL(2,0)))
                           AS VARCHAR) AS DOUBLE) > 0
       THEN (CAST(n_runs AS DOUBLE)
             - (1.0 + CAST(CAST(two_n1n2 AS VARCHAR) AS DOUBLE)
                      / CAST(n_used AS DOUBLE)))
            / sqrt(CAST(CAST(two_n1n2 * (two_n1n2 - n38) AS VARCHAR)
                        AS DOUBLE)
                   / CAST(CAST(n38 * n38
                               * (n38 - CAST(1 AS DECIMAL(2,0)))
                               AS VARCHAR) AS DOUBLE))
       END AS z_score
FROM f
"""


# Customer reorder rate: per-customer lag gaps over the (day, key)
# total order, exact rank-median per segment, one integer division.
SQL["customer_reorder_rate"] = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         date_diff('day', DATE '1970-01-01',
                   CAST(o_orderdate AS DATE)) AS od
  FROM orders
), g AS (
  SELECT o_custkey, o_orderkey,
         od - lag(od) OVER (PARTITION BY o_custkey
                            ORDER BY od, o_orderkey) AS gap
  FROM o
), j AS (
  SELECT c_mktsegment, g.o_custkey, g.o_orderkey, gap
  FROM g JOIN customer ON g.o_custkey = c_custkey
  WHERE gap IS NOT NULL
), r AS (
  SELECT c_mktsegment, gap,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY gap, o_custkey, o_orderkey) AS rk,
         COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM j
)
SELECT c_mktsegment,
       CAST(MAX(n) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN gap <= 30 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_within_30d,
       CAST(SUM(CASE WHEN gap <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(MAX(n) AS DOUBLE) AS reorder_rate_30d,
       CAST(MAX(CASE WHEN rk = (n + 1) // 2 THEN gap END) AS BIGINT)
         AS median_gap_days
FROM r GROUP BY c_mktsegment
"""


# Paired sign test: per-customer 1996-vs-1997 order counts, exact
# tie exclusion, z = (2*n_up - n)/sqrt(n).
SQL["customer_yoy_sign_test"] = """
WITH o AS (
  SELECT o_custkey, year(o_orderdate) AS yr FROM orders
  WHERE year(o_orderdate) IN (1996, 1997)
), per AS (
  SELECT o_custkey,
         SUM(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS n96,
         SUM(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS n97
  FROM o GROUP BY o_custkey
), cls AS (
  SELECT CASE WHEN n97 > n96 THEN 1 ELSE 0 END AS up,
         CASE WHEN n97 < n96 THEN 1 ELSE 0 END AS down
  FROM per
), a AS (
  SELECT COUNT(*) AS n, SUM(up) AS n_up, SUM(down) AS n_down
  FROM cls WHERE up + down > 0
)
SELECT CAST(n AS BIGINT) AS n_customers_used,
       CAST(n_up AS BIGINT) AS n_up,
       CAST(n_down AS BIGINT) AS n_down,
       CASE WHEN n > 0 THEN
         (2.0 * CAST(n_up AS DOUBLE) - CAST(n AS DOUBLE))
         / sqrt(CAST(n AS DOUBLE)) END AS z_score
FROM a
"""
