"""Warehouse-domain queries: the TPC-H-ish relational surface
(q1-q22 shapes), aggregate/window/set-op operators, and the
orders/customer/part analytics family. The registry lives in
plans/queries.py."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window
from ..operators.enrich import anti_join, semi_join
from .common import _davg, _dstr, _dsum, _events, _pearson_from_moments, _t  # noqa: F401


# ---------------------------------------------------------------- core TPC-H-ish

def q1_pricing_summary(spark, sf_dir):
    """Flagship: TPC-H Q1 shape — scan-heavy groupBy with 8 aggregates.
    One shuffle on two low-cardinality keys; partial aggregation does
    ~all the work map-side, so it scales linearly to 100 TB."""
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
    price, disc, tax, qty = (F.col(c) for c in
                             ("l_extendedprice", "l_discount", "l_tax", "l_quantity"))
    n = F.count("*")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(qty, "sum_qty"),
            _dsum(price, "sum_base_price"),
            _dsum(price * (1 - disc), "sum_disc_price"),
            _dsum(price * (1 - disc) * (1 + tax), "sum_charge"),
            _davg(qty, n, "avg_qty"),
            _davg(price, n, "avg_price"),
            _davg(disc, n, "avg_disc"),
            n.alias("count_order"),
        )
    )


def q3_top_revenue_orders(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-10.
    customer is broadcast; orders⋈lineitem is the real shuffle."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-01-01")))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(_dsum(revenue, "revenue"),
             F.unix_millis(F.first("o_orderdate").cast("timestamp")).alias("o_orderdate_ms"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q5_region_nation_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join; all dims broadcast, lineitem only
    shuffles for the final agg."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01"))))
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(c), (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(_dsum(revenue, "revenue"), F.count("*").alias("n_items"))
    )


def approx_distinct_sketch(spark, sf_dir):
    """Sketch surface (HLL approx-distinct + t-digest approx
    percentiles) — rows-only check: sketch estimates are
    engine-specific by construction (the exact twins are
    orders_dq_profile's distinct counts and value_percentiles)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey").alias("approx_parts"),
             F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
             F.percentile_approx("l_extendedprice", 0.99).alias("approx_p99_price"),
             F.count("*").alias("n_rows"))
    )


# ------------------------------------------- windows / sort / limit / set §2.6

def set_ops_status_migration(spark, sf_dir):
    """UNION/EXCEPT/INTERSECT surface: customers with only-open vs
    both open-and-finished orders."""
    o = _t(spark, sf_dir, "orders")
    open_c = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    fin_c = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    only_open = open_c.subtract(fin_c).select(F.col("o_custkey"), F.lit("only_open").alias("tag"))
    both = open_c.intersect(fin_c).select(F.col("o_custkey"), F.lit("both").alias("tag"))
    return only_open.unionAll(both)


def set_ops_all_variants(spark, sf_dir):
    """Multiset set-ops (UNION ALL / EXCEPT ALL / INTERSECT ALL) over
    order-status keys — duplicates preserved, unlike the distinct
    variants in set_ops_status_migration."""
    o = _t(spark, sf_dir, "orders")
    open_c = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    fin_c = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        open_c.exceptAll(fin_c).select("o_custkey", F.lit("open_minus_fin_all").alias("tag"))
        .unionAll(open_c.intersectAll(fin_c)
                  .select("o_custkey", F.lit("both_all").alias("tag")))
    )


def unpivot_event_matrix(spark, sf_dir):
    """Pivot, then unpivot/melt: the per-user event-type count matrix
    (explicit pivot values → no extra distinct-scan pass) back to long
    form — (user_id, event_type, n) rows, zero counts dropped."""
    e = _events(spark, sf_dir)
    kinds = ["click", "view", "purchase", "signup", "error"]
    wide = e.groupBy("user_id").pivot("event_type", kinds).count().select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0)).alias(f"n_{k}") for k in kinds])
    long = wide.unpivot(
        "user_id", [f"n_{k}" for k in kinds], "kind", "n")
    return (
        long.filter(F.col("n") > 0)
        .select("user_id", F.expr("substring(kind, 3)").alias("event_type"), "n")
    )


def window_rank_stats(spark, sf_dir):
    """Ranking-function surface: rank, dense_rank, percent_rank and
    ntile over per-customer order prices (ties on price are real data
    → rank vs dense_rank diverge; percent_rank's double division is
    identical arithmetic in both engines)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(),
                                                F.col("o_orderkey"))
    return o.select(
        "o_custkey", "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


def agg_cube_year_status(spark, sf_dir):
    """CUBE grouping sets over (order year, status)."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year(F.col("o_orderdate")))
    return (
        o.cube("order_year", "o_orderstatus")
        .agg(F.count("*").alias("n_orders"), _dsum(F.col("o_totalprice"), "sum_total"))
    )


def orders_by_year(spark, sf_dir):
    """Date-function surface: year/quarter extraction + grouped agg."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").alias("order_year"),
                  F.quarter("o_orderdate").alias("order_quarter"))
        .agg(F.count("*").alias("n_orders"), _dsum(F.col("o_totalprice"), "sum_total"))
    )


def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: HAVING over a grouped sum, joined back to the
    dimension rows — agg-then-join keeps the big side pre-shrunk."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(27,6)")).alias("qty"))
           .filter(F.col("qty") > 300))
    return (
        o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_orderkey", "o_custkey",
                F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_ms"),
                F.col("qty").cast("double").alias("total_qty"))
    )


def q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: bi-directional nation-pair trade volume by ship
    year. Two broadcast probes of the same nation dim under different
    aliases; the pair filter prunes before the aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01"))))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")))
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("ship_year"))
        .agg(_dsum(revenue, "revenue"), F.count("*").alias("n_items"))
    )


def q21_sole_late_supplier(spark, sf_dir):
    """TPC-H Q21 shape (exists + not-exists), adapted to this schema
    (no receipt/commit dates): suppliers who were the ONLY late shipper
    (shipdate > orderdate + 90 days) on a multi-supplier finished
    order. Expressed as per-order aggregates instead of correlated
    subqueries — one pass, no re-scans."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    joined = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
    per_order = joined.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late_supps"))
    qualifying = per_order.filter((F.col("n_supps") > 1) & (F.col("n_late_supps") == 1))
    late_lines = joined.filter(F.col("late")).select("l_orderkey", "l_suppkey").distinct()
    return (
        late_lines.join(qualifying, "l_orderkey")
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_sole_late_orders"))
    )


def sql_api_pricing_summary(spark, sf_dir):
    """The engine's SQL surface: the same logical plan as the flagship
    q1, declared as SQL text over registered views — Catalyst planning
    is identical either way, which is the point."""
    from ..sources.tables import register_views
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """)


def q14_promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 shape: ratio of conditional decimal sums (promo parts'
    share of revenue) — both sums exact, the division in double."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-07-01"))))
    p = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(27,6)")
    promo = F.col("p_type").startswith("PROMO")
    joined = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        (F.sum(F.when(promo, rev).otherwise(F.lit(0).cast("decimal(27,6)"))).cast("double")
         / F.sum(rev).cast("double") * 100.0).alias("promo_share_pct"),
        F.count("*").alias("n_items"))


def q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: scalar-subquery threshold + anti-join —
    above-average-balance customers with no orders, per market
    segment. The average is a broadcast one-row DF, the no-orders
    predicate a left_anti join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(F.col("c_acctbal").cast("decimal(27,6)")).cast("double")
         / F.count("*")).alias("avg_bal"))
    rich = c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("avg_bal")).drop("avg_bal")
    idle = anti_join(rich, o, "c_custkey")
    return (
        idle.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"),
             _dsum(F.col("c_acctbal"), "total_balance"))
    )


def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (r8 — completes the 22-query plan-shape suite
    with q11/q16/q20): product-type profit by nation and order year,
    the widest join tree in the suite — lineitem × filtered part ×
    supplier × orders × nation. The fixture has no partsupp, so cost
    is proxied by p_retailprice·l_quantity·0.1; the five-way join +
    computed-measure + two-key rollup IS the Q9 shape. All dims
    broadcast; the only shuffle is the final aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("gear"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = _t(spark, sf_dir, "nation")
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("order_year"))
        .agg(_dsum(amount, "profit"), F.count("*").alias("n_lines"))
    )


def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: per-group value vs a GLOBAL scalar threshold
    (group-agg → scalar-agg → broadcast the scalar back as a filter).
    Value proxy: revenue per part from NATION_3's suppliers (no
    partsupp/supplycost in the fixture); keep parts above 0.1% of the
    national total. The two-level aggregate + scalar cross-filter is
    the Q11 shape."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    nat_li = (
        li.join(F.broadcast(
            s.join(F.broadcast(n),
                   F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey")))
    per_part = nat_li.groupBy("l_partkey").agg(
        _dsum(F.col("l_extendedprice"), "part_value"))
    total = per_part.agg(
        F.sum(F.col("part_value").cast("decimal(27,6)")).cast("double")
        .alias("total_value"))
    return (
        per_part.join(F.broadcast(total),
                      F.col("part_value")
                      > F.col("total_value") * F.lit(0.001))
        .select("l_partkey", "part_value")
    )


def q16_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 shape: supplier diversity per part attribute — an
    anti-join exclusion list (s_name containing '7' proxies the
    'complaints' NOT IN subquery) feeding COUNT(DISTINCT) over a
    three-key group. Exclusion list broadcast; distinct-count is the
    only wide exchange."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO"))
    excluded = (_t(spark, sf_dir, "supplier")
                .filter(F.col("s_name").contains("7"))
                .select(F.col("s_suppkey").alias("l_suppkey")))
    return (
        anti_join(
            li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")),
            excluded, "l_suppkey")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q20_part_promotion(spark, sf_dir):
    """TPC-H Q20 shape: nested semi-join with a correlated aggregate
    threshold — suppliers who shipped more than 30% of a part's total
    1996 volume, for parts named like 'bolt'. Two aggregation grains
    (supplier×part, then part) joined back, then a semi-join into the
    supplier dim + nation name. The per-part total joins broadcast
    (part-grain ≪ corpus)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01"))))
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("bolt"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    sp = (li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
          .groupBy("l_suppkey", "l_partkey")
          .agg(_dsum(F.col("l_quantity"), "supp_qty")))
    part_tot = sp.groupBy("l_partkey").agg(
        F.sum(F.col("supp_qty").cast("decimal(27,6)")).cast("double")
        .alias("part_qty"))
    big = (sp.join(F.broadcast(part_tot), "l_partkey")
           .filter(F.col("supp_qty") > F.col("part_qty") * F.lit(0.3))
           .select("l_suppkey").distinct())
    return (
        s.join(F.broadcast(big), F.col("s_suppkey") == F.col("l_suppkey"),
               "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )


def skew_salted_agg(spark, sf_dir):
    """Salted two-phase aggregation for hot keys (operators/skew.py) —
    the oracle is the PLAIN group-by, proving the salting is exact.
    l_returnflag has only 3 values → maximal skew for a 600k-row scan,
    the shape where reduce-side salting matters at 100 TB."""
    from ..operators.skew import salted_agg
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("decimal(27,6)").alias("qty"))
    out = salted_agg(li, ["l_returnflag"], n_salts=16,
                     total_qty=("sum", "qty"), n_rows=("count", "*"),
                     max_qty=("max", "qty"))
    return out.select(
        "l_returnflag",
        F.col("total_qty").cast("double").alias("total_qty"),
        F.col("n_rows"),
        F.col("max_qty").cast("double").alias("max_qty"))


def string_functions(spark, sf_dir):
    """String-function surface over part: case, substring, length,
    concat, trim/replace — all JVM-side codegen expressions."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 25)
    return p.select(
        "p_partkey",
        F.upper(F.col("p_name")).alias("name_upper"),
        F.substring(F.col("p_type"), 1, 5).alias("type_prefix"),
        F.length(F.col("p_name")).alias("name_len"),
        F.concat_ws("/", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_brand"), F.lit("#"), F.lit("_")).alias("brand_safe"),
    )


def distinct_rollup_hll(spark, sf_dir):
    """Mergeable-distinct rollup (Datasketches HLL): monthly partial
    sketches of l_partkey per returnflag, unioned to per-flag
    estimates — the store-the-sketch pattern that answers rollups at
    100 TB without rescanning the fact table. Rows-only (estimates
    are Datasketches-specific); the register-identity of
    union-of-partials vs direct build is asserted in test_operators."""
    from ..operators.sketch import (distinct_sketch_partials,
                                    distinct_sketch_rollup)
    li = _t(spark, sf_dir, "lineitem")
    partials = distinct_sketch_partials(
        li, "l_partkey", ["l_returnflag"],
        F.date_trunc("month", F.col("l_shipdate")), lgk=12)
    return (distinct_sketch_rollup(partials, ["l_returnflag"])
            .withColumn("approx_distinct",
                        F.col("approx_distinct").cast("bigint")))


def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape (top supplier by quarterly revenue) without the
    view: revenue per supplier over a 3-month shipdate window, keep
    the max-revenue supplier(s) — decimal-exact ties, no
    re-aggregation of lineitem.

    r10 (the PMI-audit class): the max used to be a PARTITION-LESS
    window over the per-supplier aggregate — a one-task sort of a
    supplier-count-sized table (10⁸ rows at 100 TB). Now it is a
    partial-combining one-row aggregate BROADCAST back onto the
    supplier table; the supplier aggregate is pinned once so its two
    consumers (the max and the filter) never replay the lineitem
    scan."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1996-04-01")))
    rev = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
           .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                      "total_revenue"))
           .localCheckpoint(eager=True))
    mx = F.broadcast(rev.agg(F.max("total_revenue").alias("__mx")))
    top = rev.join(mx, rev["total_revenue"] == mx["__mx"]).drop("__mx")
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("supplier_no"), "s_name")
    return top.join(F.broadcast(s), "supplier_no") \
        .select("supplier_no", "s_name", "total_revenue")


def fuzzy_name_block_join(spark, sf_dir):
    """Blocked fuzzy join (entity-resolution shape): customer-name
    pairs within the same nation at Levenshtein distance ≤ 2 —
    blocking on the nation key turns the quadratic all-pairs into
    per-block self-joins, the same candidate-bounding pattern as the
    LSH dedup family but for edit distance. Output: per-nation pair
    counts + the minimum observed distance (small, hash-stable)."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey")
    # the scoring stage is CPU-bound (pairs × levenshtein) and the
    # dim side broadcasts, so the probe side's partitioning IS the
    # stage's parallelism — a 3-file parquet scan would run the whole
    # quadratic block on 3 cores (measured: 4.7x slower). Spread the
    # probe across the configured parallelism before pairing.
    par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    a, b = c.repartition(par).alias("a"), c.alias("b")
    # threshold=2 runs the BANDED Levenshtein (O(len·threshold) per
    # pair instead of O(len²), returns -1 past the band) — ~2x less
    # per-pair work, same kept pairs/distances. NO broadcast hint:
    # customer grows with sf, so the planner must stay free to fall
    # back to a shuffled join past the auto-broadcast threshold
    # (review catch r6); at bench scale it auto-broadcasts, keeping
    # the repartitioned probe's parallelism for the scoring stage.
    pairs = (a.join(b,
                    (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
                    & (F.col("a.c_custkey") < F.col("b.c_custkey")))
             .select(F.col("a.c_nationkey").alias("nationkey"),
                     F.levenshtein("a.c_name", "b.c_name",
                                   threshold=2).alias("d"))
             .filter(F.col("d") >= 0))
    return (pairs.groupBy("nationkey")
            .agg(F.count("*").alias("n_close_pairs"),
                 F.min("d").alias("min_distance")))


def bloom_semi_join_agg(spark, sf_dir):
    """Bloom-prefiltered semi join (membership member of the sketch
    family): lineitem rows whose part is in the p_size ≥ 48 key set,
    prefiltered by a 2^14-bit / k=5 Bloom compiled into the scan as a
    pure Column predicate — no join, no explode, no shuffle on the
    probe side until the exchange sees only ~(selectivity + fpp) of
    the rows. Result is EXACT (no false negatives; the verify semi
    join removes false positives), so the oracle is a plain EXISTS.
    Merge/no-false-negative/fpp contracts pinned in test_operators."""
    from ..operators.sketch import bloom_semi_join
    li = _t(spark, sf_dir, "lineitem")
    keys = (_t(spark, sf_dir, "part")
            .filter(F.col("p_size") >= 48).select("p_partkey"))
    out = bloom_semi_join(li, keys, "l_partkey", "p_partkey",
                          n_bits=1 << 14, k=5)
    return (out.groupBy("l_returnflag")
            .agg(F.count("*").alias("n_rows"),
                 F.countDistinct("l_partkey").alias("n_parts"),
                 _dsum(F.col("l_quantity"), "sum_qty")))


def orders_cohort_matrix(spark, sf_dir):
    """Cohort retention: customers grouped by first-order year, order
    counts per (cohort_year, order_year). Two-level temporal agg —
    the first agg's output re-joins the fact table (broadcast: one row
    per customer)."""
    o = _t(spark, sf_dir, "orders")
    first = (o.groupBy("o_custkey")
             .agg(F.year(F.min("o_orderdate")).alias("cohort_year")))
    return (
        o.join(F.broadcast(first), "o_custkey")
        .groupBy("cohort_year", F.year("o_orderdate").alias("order_year"))
        .agg(F.count("*").alias("n_orders"),
             F.countDistinct("o_custkey").alias("n_active_custs"))
    )


# ---------------- additional TPC-H plan shapes (EXTRA window, §2.6 breadth)

def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS semi-join feeding an aggregate (adapted:
    the fixture lacks commit/receipt dates, so 'late' = has a returned
    line). The semi-join shuffles only (orderkey) pairs; the agg is a
    2-key partial."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-07-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-10-01"))))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        semi_join(o, li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: 4-way join, revenue agg per customer, top 20.
    nation broadcasts; orders⋈lineitem is the only real shuffle; the
    deterministic top-20 runs as TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-04-01"))))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def orders_dq_profile(spark, sf_dir):
    """ANALYZE-style per-column data-quality profile of a table —
    the completeness/cardinality pass every warehouse engine exposes
    and every ingest pipeline runs before trusting a new snapshot:
    for each column of orders, exact row/null/distinct counts →
    (column_name, n_rows, n_null, n_distinct). All exact BIGINTs ⇒
    bit-exact. Scale: ONE scan feeds every per-column aggregate
    (Spark plans the multi-distinct as a single Expand pass —
    map-side partial per column); swap exact distinct for HLL
    (approx_distinct_sketch machinery) when cardinality itself is
    huge."""
    o = _t(spark, sf_dir, "orders")
    cols = o.columns
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long"))
                    .alias(f"null_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"dist_{c}"))
    row = o.agg(*aggs)
    stack = ", ".join(f"'{c}', null_{c}, dist_{c}" for c in cols)
    return (row.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack}) AS (column_name, n_null, n_distinct)")
        .select("column_name", F.col("n_rows").cast("bigint").alias("n_rows"),
                F.col("n_null").cast("bigint").alias("n_null"),
                F.col("n_distinct").cast("bigint").alias("n_distinct")))


def orders_dq_profile_approx(spark, sf_dir):
    """Sketch-based twin of orders_dq_profile — the HLL swap that
    profile documents for corpus-scale cardinalities (r12 verdict #4):
    row/null counts stay exact (cheap map-side sums), per-column
    distinct counts come from Datasketches HLL (lgK=12, mergeable
    per-partition sketches), all in ONE plain aggregate scan — no
    Expand, no per-value dedup shuffle: the exact form's
    count_distinct must move every distinct value through the
    exchange, this form moves one 2^12-bucket sketch per column per
    partition regardless of cardinality. Values sketch through a
    canonical string cast (injective for orders' int/decimal/date/
    string columns, so true cardinality is preserved). Rows-only BY
    DESIGN (DuckDB's approx_count_distinct is a different sketch —
    the token_heavy_hitters_sketch/distinct_rollup_hll precedent);
    accuracy is pinned against the exact in-window profile by
    tests/test_operators.py::test_dq_profile_approx_accuracy
    (HLL lgK=12 standard error ≈1.6%; contract ≤5% per column)."""
    o = _t(spark, sf_dir, "orders")
    cols = o.columns
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long"))
                    .alias(f"null_{c}"))
        aggs.append(F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col(c).cast("string"), 12))
            .alias(f"dist_{c}"))
    row = o.agg(*aggs)
    stack = ", ".join(f"'{c}', null_{c}, dist_{c}" for c in cols)
    return (row.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack}) AS "
        "(column_name, n_null, approx_distinct)")
        .select("column_name",
                F.col("n_rows").cast("bigint").alias("n_rows"),
                F.col("n_null").cast("bigint").alias("n_null"),
                F.col("approx_distinct").cast("bigint")
                .alias("approx_distinct")))


def interval_overlap_shipments(spark, sf_dir):
    """INTERVAL × INTERVAL overlap join
    (operators/timeseries.py::interval_overlap_join — the two-sided
    sibling of the in-window point-in-range join): every shipment
    transit interval [shipdate, shipdate + 1 + quantity days] of a
    part-sampled lineitem slice (testdata's lineitem carries no
    receiptdate — transit length derives deterministically from the
    integral quantity) × every 30-day urgent-order window opening in
    1995, with the exact closed-interval overlap in days. Dates
    reduce to epoch-day integers on both engines ⇒ bit-exact.

    Scale: the naive form is a cartesian theta join (the classic
    Spark interval-join trap — the oracle runs it as ground truth);
    the engine bucketizes both sides onto a 32-day grid and
    equi-joins on the cell, so candidates are co-located cells, never
    |A|·|B| (plan-pinned: no cartesian/nested-loop)."""
    from ..operators.timeseries import interval_overlap_join
    day0 = F.lit("1970-01-01").cast("date")
    a = (_t(spark, sf_dir, "lineitem")
         .filter(F.col("l_partkey") % 97 == 0)
         .select("l_orderkey", "l_linenumber",
                 F.datediff(F.col("l_shipdate").cast("date"), day0)
                 .alias("a_s"),
                 (F.datediff(F.col("l_shipdate").cast("date"), day0)
                  + 1 + F.col("l_quantity").cast("int"))
                 .alias("a_e")))
    b = (_t(spark, sf_dir, "orders")
         .filter((F.col("o_orderpriority") == "1-URGENT")
                 & (F.year("o_orderdate") == 1995))
         .select(F.col("o_orderkey").alias("promo_orderkey"),
                 F.datediff(F.col("o_orderdate").cast("date"), day0)
                 .alias("b_s")))
    b = b.withColumn("b_e", F.col("b_s") + 30)
    out = interval_overlap_join(a, b, "a_s", "a_e", "b_s", "b_e",
                                bucket=32,
                                a_keys=["l_orderkey", "l_linenumber"],
                                b_keys=["promo_orderkey"])
    return out.select("l_orderkey", "l_linenumber", "promo_orderkey",
                      F.col("overlap").cast("bigint")
                      .alias("overlap_days"))


def orders_benford_test(spark, sf_dir):
    """Benford first-digit conformance test over order totals — the
    distributional data-quality/fraud screen (Benford 1938; Nigrini
    1996 popularized the audit use): naturally-occurring amounts
    follow P(d) = log10(1+1/d), and a synthetic or manipulated feed
    shows up as per-digit χ² excess. Per first significant digit →
    (digit, n_obs, expected_p, observed_p, chi2_term); the drift
    monitor family's conformance sibling (χ²/KS/TV test against data,
    this tests against a LAW). Machinery shared with the streaming
    twin (operators/lm_quality.py::benford_digit_counts — additive
    counts — + benford_from_counts; the bucket-CUSUM factoring).

    Determinism: the first digit comes from floor(price) — double
    floor is exact IEEE and DuckDB's double→int CAST rounds
    half-to-even while Spark truncates, so both engines cast the
    already-integral floor. The total derives from a window sum over
    the ≤9-row count table (no second corpus pass); n/total division
    of exact ints and the χ² tree over repr-embedded Benford literals
    are the same fixed IEEE ops on both sides ⇒ bit-exact. Scale:
    ONE scan, 9-group map-side-collapsing aggregate — nothing else."""
    from ..operators.lm_quality import (benford_digit_counts,
                                        benford_from_counts)
    return benford_from_counts(
        benford_digit_counts(_t(spark, sf_dir, "orders"),
                             "o_totalprice"))


def part_brand_price_anova(spark, sf_dir):
    """One-way ANOVA of retail price across part brands (Fisher
    1925): decompose price variance into between-brand and
    within-brand sums of squares and report the F statistic — the
    classic "does this categorical factor explain the metric" test,
    completing the statistics family next to correlation/regression
    moments, the χ² pair, and Benford. → ONE row
    (k_groups, n_rows, ss_between, ss_within, f_stat).

    Determinism: per-group n/Σx/Σx² are exact decimals (the DSIR
    single-rounding device for x² terms); group means and the grand
    mean are string-routed divisions; each group's SSB/SSW double
    term is quantized to DECIMAL(27,6) before the cross-group sum so
    the k-term reduction is order-independent (a raw double sum over
    groups would be fold-order-dependent); the F finisher is one
    fixed IEEE tree ⇒ bit-exact cross-engine. Scale: ONE scan with a
    map-side-collapsing per-group aggregate, then |groups|-row
    arithmetic — nothing corpus-sized past the first exchange."""
    from ..operators.lm_quality import (anova_from_group_moments,
                                        anova_group_moments)
    p = _t(spark, sf_dir, "part")
    return anova_from_group_moments(
        anova_group_moments(p, "p_brand", "p_retailprice"))


def fk_orphan_audit(spark, sf_dir):
    """Referential-integrity audit over the warehouse's FK edges —
    the relational completion of the per-column DQ profile: for each
    child→parent foreign key, how many child rows, how many carry a
    non-NULL key, how many are ORPHANS (non-NULL key with no parent
    row), and the orphan rate. → one row per edge (fk_edge, n_child,
    n_nonnull, n_orphans, orphan_rate) — the first thing a pipeline
    owner checks after an ingest incident, and the join-safety
    precondition every downstream query silently assumes.

    Determinism: counts are exact BIGINTs; the rate is one int/int
    IEEE division behind an expression-level zero guard (mirrored
    CASE in the oracle) ⇒ bit-exact. Scale: each edge is ONE
    co-partitioned LEFT ANTI join on the key (parent side
    deduplicated first with map-side partials; small parents —
    nation, supplier — broadcast under AQE) plus map-side-collapsing
    count aggregates; the result is |edges| rows. No edge ever
    materializes the join payload — keys only."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    pt = _t(spark, sf_dir, "part")
    sp = _t(spark, sf_dir, "supplier")
    cu = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")

    def edge(child, fk, parent, pk, name):
        c = child.select(F.col(fk).alias("k"))
        p = parent.select(F.col(pk).alias("k")).distinct()
        tot = c.agg(F.count("*").alias("n_child"),
                    F.count("k").alias("n_nonnull"))
        orph = (c.filter(F.col("k").isNotNull())
                .join(p, "k", "left_anti")
                .agg(F.count("*").alias("n_orphans")))
        rate = (F.col("n_orphans").cast("double")
                / F.col("n_nonnull").cast("double"))
        return (tot.crossJoin(orph)
                .select(F.lit(name).alias("fk_edge"),
                        F.col("n_child").cast("bigint").alias("n_child"),
                        F.col("n_nonnull").cast("bigint")
                        .alias("n_nonnull"),
                        F.col("n_orphans").cast("bigint")
                        .alias("n_orphans"),
                        F.when(F.col("n_nonnull") > 0, rate)
                        .alias("orphan_rate")))

    edges = [
        edge(li, "l_orderkey", od, "o_orderkey", "lineitem->orders"),
        edge(li, "l_partkey", pt, "p_partkey", "lineitem->part"),
        edge(li, "l_suppkey", sp, "s_suppkey", "lineitem->supplier"),
        edge(od, "o_custkey", cu, "c_custkey", "orders->customer"),
        edge(cu, "c_nationkey", na, "n_nationkey", "customer->nation"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


def orders_price_skew_kurtosis(spark, sf_dir):
    """Distribution SHAPE per order status: skewness (Fisher g1) and
    excess kurtosis (g2) of order totals — the third/fourth-moment
    completion of the exact-moments stats family (mean/variance/
    correlation stop at the second moment; drift monitors compare
    histograms; this quantifies asymmetry and tail weight directly).
    → (o_orderstatus, n_rows, mean, m2_variance, skewness,
    kurtosis_excess).

    Determinism: per-group raw power sums are exact decimals with the
    per-term single-rounding device (the power chain ((x·x)·x)·x is
    the identical left-associated IEEE tree on both engines); the
    raw→central identities and the g1/g2 finishers are one fixed IEEE
    tree over string-routed decimals ⇒ bit-exact. Scale: ONE scan
    with a map-side-collapsing per-group aggregate, then |groups|-row
    arithmetic; the (n, Σx..Σx⁴) state is additive ⇒ streams
    complete-mode (streaming_skew_moments — the anova factoring)."""
    from ..operators.lm_quality import (raw_moments4,
                                        skew_kurtosis_from_moments)
    o = _t(spark, sf_dir, "orders")
    return (skew_kurtosis_from_moments(
        raw_moments4(o, "o_orderstatus", "o_totalprice"))
        .select(F.col("g").alias("o_orderstatus"), "n_rows", "mean",
                "m2_variance", "skewness", "kurtosis_excess"))


def orders_fulfillment_lag(spark, sf_dir):
    """Fulfillment lag distribution per order priority: per order,
    the days from order date to its LAST lineitem shipment; per
    priority, the count with exact median/p90/mean lag — the
    operational-SLA readout (does URGENT actually ship faster?),
    completing the fact-to-fact latency family next to the
    event-funnel conversion latency. → (o_orderpriority, n_orders,
    median_lag_days, p90_lag_days, mean_lag_days).

    Determinism: dates reduce to epoch-day integers (the shipments
    device); quantiles are exact rank-⌈qn⌉ elements over a
    (lag, orderkey) total order; the mean is an exact-decimal sum
    with one string-routed division ⇒ bit-exact. Scale: ONE orderkey
    aggregate over lineitem (map-side max), a co-partitioned key
    join to orders, one per-priority rank window over |orders| rows
    (the GK swap applies verbatim — the quality_floor/pareto
    precedent); orders with no lineitems are out of scope (inner
    join)."""
    day0 = F.lit("1970-01-01").cast("date")
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_orderkey",
                  F.datediff(F.col("l_shipdate").cast("date"), day0)
                  .alias("ship_day"))
          .groupBy("l_orderkey")
          .agg(F.max("ship_day").alias("last_ship")))
    o = (_t(spark, sf_dir, "orders")
         .select("o_orderkey", "o_orderpriority",
                 F.datediff(F.col("o_orderdate").cast("date"), day0)
                 .alias("order_day")))
    j = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
         .select("o_orderkey", "o_orderpriority",
                 (F.col("last_ship") - F.col("order_day")).alias("lag")))
    w = Window.partitionBy("o_orderpriority").orderBy(
        "lag", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    r = (j.withColumn("rk", F.row_number().over(w))
         .withColumn("n", F.count("*").over(wn)))
    med_idx = F.expr("(n + 1) div 2")
    p90_idx = F.expr("(9 * n + 9) div 10")
    return (r.groupBy("o_orderpriority")
            .agg(F.max("n").alias("n_orders"),
                 F.max(F.when(F.col("rk") == med_idx, F.col("lag")))
                 .alias("med"),
                 F.max(F.when(F.col("rk") == p90_idx, F.col("lag")))
                 .alias("p90"),
                 F.sum(F.col("lag").cast("decimal(27,6)")).alias("s"))
            .select("o_orderpriority",
                    F.col("n_orders").cast("bigint").alias("n_orders"),
                    F.col("med").cast("bigint").alias("median_lag_days"),
                    F.col("p90").cast("bigint").alias("p90_lag_days"),
                    (_dstr("s") / F.col("n_orders").cast("double"))
                    .alias("mean_lag_days")))


def part_brand_return_rates(spark, sf_dir):
    """Return-rate ranking per part brand with the Wilson 95% lower
    bound (Wilson 1927; the Agresti-recommended ranking score): raw
    return share n_returned/n orders brands misleadingly when n is
    small — the Wilson lower bound penalizes uncertainty, the
    standard "sort by lower confidence bound" device for rates. Top
    10 brands by the bound → (p_brand, n_items, n_returned,
    return_rate, wilson_lower).

    Determinism: counts are exact BIGINTs; the rate and the Wilson
    bound are one fixed IEEE tree over those ints with z = 1.96
    embedded as an exact double literal (sqrt is correctly rounded
    on both engines); ties break on the brand — a total order ⇒
    bit-exact. Scale: broadcast part dim onto lineitem (or key join
    at 100 TB), ONE brand aggregate with map-side partials,
    |brands|-row arithmetic, TakeOrdered top-10. The (n, r) counts
    are plain additive sufficient statistics SHARED with the
    streaming twin (streaming/sketches.py::streaming_return_counts,
    r15 verdict #5); the Wilson readout finishes from either state
    via operators/timeseries.py::wilson_from_counts."""
    from ..operators.timeseries import (brand_return_counts,
                                        wilson_from_counts)
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(pt, li["l_partkey"] == pt["p_partkey"])
    return wilson_from_counts(brand_return_counts(j), top=10)


def customer_revenue_pareto_approx(spark, sf_dir):
    """GK-sketch twin of customer_revenue_pareto — the scale swap its
    exact form documents: the top-10% spend threshold per segment via
    percentile_approx(0.9) (mergeable, map-side partials) and the
    share via a threshold FILTER instead of the per-segment rank
    window — two plain aggregates + a |segments|-row broadcast, no
    keyed sort serializing a segment through one task. k_top10 counts
    the customers at-or-above the sketched threshold (ties inflate it
    slightly vs the exact ⌈n/10⌉ — the documented sketch contract).
    Rows-only BY DESIGN; accuracy pinned by
    tests/test_operators.py::test_revenue_pareto_approx_accuracy."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    spend = (o.groupBy("o_custkey")
             .agg(F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
                  .alias("spend")))
    s = (spend.join(c, spend["o_custkey"] == c["c_custkey"])
         .select("c_mktsegment", "spend"))
    thr = (s.groupBy("c_mktsegment")
           .agg(F.percentile_approx(
               F.col("spend").cast("double"), 0.9, 10000).alias("thr")))
    j = s.join(F.broadcast(thr), "c_mktsegment")
    agg = (j.groupBy("c_mktsegment")
           .agg(F.count("*").alias("n_customers"),
                F.sum(F.when(F.col("spend").cast("double")
                             >= F.col("thr"), 1).otherwise(0))
                .alias("k_top10"),
                F.sum("spend").alias("total_spend"),
                F.sum(F.when(F.col("spend").cast("double")
                             >= F.col("thr"), F.col("spend")))
                .alias("top_spend")))
    share = _dstr("top_spend") / _dstr("total_spend")
    return agg.select(
        "c_mktsegment",
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.col("k_top10").cast("bigint").alias("k_top10"),
        F.when(F.col("total_spend") > 0, share).alias("top10_share"))


def customer_revenue_pareto(spark, sf_dir):
    """Pareto (80/20) revenue concentration per market segment: what
    share of a segment's revenue comes from its top-10% customers —
    the per-ENTITY concentration readout next to the per-ITEM Gini
    (source_gini_concentration ranks documents; this ranks paying
    customers), and the classic account-management "whale" metric.
    → (c_mktsegment, n_customers, k_top10, top10_share).

    Determinism: per-customer spend is an exact DECIMAL(27,6) sum;
    ranks are row_number over (spend DESC, c_custkey) — a total
    order; k = ⌈n/10⌉ via integer (n+9) div 10 (DuckDB's // truncates
    like Spark's div — positive here, so identical); the share is one
    string-routed decimal division ⇒ bit-exact. Customers with no
    orders are out of scope (inner join — "paying customers").

    Scale: ONE custkey shuffle for the spend aggregate (map-side
    partials), the segment dim attaches by key join, one per-segment
    rank window over |customers| rows (the source_quality_floor
    shape — at 100 TB the documented GK-percentile threshold swap
    applies verbatim), and the finisher collapses map-side. The
    per-customer decimal spend is a plain additive sufficient
    statistic SHARED with the streaming twin
    (streaming/sketches.py::streaming_customer_spend, r15 verdict
    #5); the Pareto readout finishes from either state via
    operators/timeseries.py::pareto_from_spend."""
    from ..operators.timeseries import customer_spend, pareto_from_spend
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return pareto_from_spend(customer_spend(o), c)


# ---------------------------------------------------------------- r15 additions

def nation_supplier_hhi(spark, sf_dir):
    """Herfindahl–Hirschman supplier-concentration index per nation
    (Herfindahl 1950; the antitrust-standard concentration readout):
    HHI = Σᵢ(revᵢ/R)² over each nation's supplier revenue shares,
    plus the effective supplier number 1/HHI — the squared-share
    counterpart of the Gini/Pareto family (Gini ranks items, Pareto
    counts whales, HHI measures market power; all three are log-free
    by design). → (nation, n_suppliers, total_revenue, hhi,
    effective_suppliers).

    Determinism (the SHARE-SPACE device): per-supplier revenue is the
    exact DECIMAL(27,6) sum of the bit-identical double expression.
    Raw decimal squares would overflow int128 at this fixture's
    magnitudes (rev² ~ 10^27 · 10^6 scale), so the squares run in
    SHARE space instead — share = revᵢ/R is one IEEE division over
    string-routed decimals, share² ≤ 1, and Σshare² is the
    order-independent SUM over CAST(share² AS DECIMAL(27,12)):
    the scaled value stays < 10^12, WELL inside the r14 safe boundary
    where Spark's string-routed and DuckDB's binary double→decimal
    roundings agree — the _dsum device at its documented safe scale.
    HHI ≡ Σshare² by definition (no division after the sum), and
    the 10^-12 term rounding is the DEFINED semantic on both
    engines (HHI error ≤ |suppliers|·10^-12 — ≤10^-5 even at 10^7
    suppliers per nation). ⇒ bit-exact at ANY revenue magnitude.

    Scale: ONE suppkey aggregate over lineitem (map-side partials),
    the supplier→nation attach broadcasts, |suppliers|-row share
    arithmetic against a |nations|-row broadcast total, |nations|-row
    output. Per-supplier sums are additive ⇒ the streaming
    complete-mode twin is the customer_spend pattern verbatim."""
    from ..operators.timeseries import (hhi_from_supplier_revenue,
                                        supplier_revenue)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
        .alias("rev"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
    return hhi_from_supplier_revenue(
        supplier_revenue(j, "s_nationkey", "l_suppkey", "rev"), n)


def lineitem_qty_price_spearman(spark, sf_dir):
    """Tie-aware exact Spearman rank correlation between quantity and
    extended price (operators/lm_quality.py::spearman_from_pairs —
    average ranks on the doubled-rank integer grid, Pearson over the
    (x, y) pair histogram). The monotone-association counterpart of
    the exact-moments Pearson family: rank transforms are outlier-
    robust and capture nonlinear monotone dependence. → ONE row
    (n_rows, spearman_rho).

    Determinism: doubled average ranks are exact BIGINTs from the
    value histograms; every moment is an exact DECIMAL(38,0) integer
    sum; the finisher replicates the shared Pearson op order ⇒
    bit-exact. Scale: three map-side-combined histograms (x, y,
    pair); rank maps are value-DOMAIN-sized broadcasts (quantity has
    ~50 values, price ~cents domain), never row-scale windows."""
    from ..operators.lm_quality import spearman_from_pairs
    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice")
    return spearman_from_pairs(li, "l_quantity", "l_extendedprice")


def orders_daily_autocorr(spark, sf_dir):
    """Lag-1 autocorrelation of daily order revenue — the
    memory-of-yesterday readout over the day-grain revenue series
    (is demand momentum real, or is each day independent?), the
    time-series completion of the exact-moments correlation family.
    Pairs are consecutive calendar days both present in the series.
    → ONE row (n_pairs, lag1_autocorr).

    Determinism (the NORMALIZED-DOUBLE device): day revenue is an
    exact DECIMAL(27,6) sum keyed on epoch-day integers; lagged
    pairs come from an integer self-join (day = day+1). Raw decimal
    squares would overflow at this fixture's magnitudes (day revenue
    ~10^12 ⇒ Σx² ~10^28 past the (38,12) sum capacity), so the
    moment terms run on x = str(rev)/10^9 — one correctly-rounded
    string parse plus one IEEE division, bit-identical on both
    engines, and correlation is invariant to the common scaling.
    Each term (x², y², x·y ~ 10^6) enters the order-independent sum
    through CAST(term AS DECIMAL(27,6)) — scaled < 10^15, inside
    the r14 safe double→decimal boundary — and the finisher is the
    shared Pearson fixed IEEE tree ⇒ bit-exact at any magnitude.

    Scale: ONE day-grain aggregate over orders (map-side partials —
    |days| rows out), then a |days|-row self-join and a 1-row
    moment aggregate: everything after the first shuffle is
    calendar-sized, never data-sized. The day sums are additive and
    SHARED with the streaming twin (streaming/sketches.py::
    streaming_daily_revenue — ONE state, THREE time-series readouts:
    autocorrelation, Theil–Sen, runs test); this readout finishes
    from either state via
    operators/timeseries.py::autocorr_from_daily."""
    from ..operators.timeseries import autocorr_from_daily, daily_revenue
    o = _t(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    return autocorr_from_daily(daily_revenue(o))


def customer_sorted_neighborhood_pairs(spark, sf_dir):
    """Sorted-Neighborhood entity resolution over customer names
    (operators/dedup.py::sorted_neighborhood_pairs — the THIRD
    candidate-bounding strategy next to key blocking and LSH
    banding): rank-adjacent name pairs within a 5-row window of the
    (c_name, c_custkey) sort order, verified at Levenshtein ≤ 2.
    Catches near-duplicates that share no block key but sort
    together. → ONE row (n_candidates, n_matches,
    mean_match_distance).

    Determinism: ranks are exact BIGINTs over a total order, the
    candidate set is rank arithmetic, Levenshtein is the classic DP
    (integer, identical in both engines), and the mean is one
    integer-sum division ⇒ bit-exact.

    Scale: ranks come from the CHUNKED row_number (carry-ledger
    composition — chunk on the name's digit prefix, prefix-monotone
    along the sort order; no single-task corpus sort) and candidates
    from 5 integer rank equi-joins — candidate count is 5n, never
    O(n²); the banded Levenshtein (threshold arg) bounds verify cost
    per pair."""
    from ..operators.dedup import sorted_neighborhood_pairs
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    pairs = sorted_neighborhood_pairs(
        c, "c_name", "c_custkey", window=5,
        chunk_expr=F.substring(F.col("c_name"), 10, 3))
    d = F.levenshtein(F.col("a_key"), F.col("b_key"))
    scored = pairs.select(
        d.alias("dist"))
    hit = (F.col("dist") <= 2).cast("int")
    agg = scored.agg(
        F.count("*").alias("n_candidates"),
        F.sum(hit).alias("n_matches"),
        F.sum(F.col("dist") * hit).alias("dsum"))
    return agg.select(
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        F.col("n_matches").cast("bigint").alias("n_matches"),
        F.when(F.col("n_matches") > 0,
               F.col("dsum").cast("double")
               / F.col("n_matches").cast("double"))
        .alias("mean_match_distance"))


def orders_open_backlog_days(spark, sf_dir):
    """Open-order backlog over time — the sweep-line interval-count
    operator: each order is open from its order date to its LAST
    lineitem ship date; emit the number of concurrently-open orders
    at every day the count changes. The classic "concurrent
    intervals" readout (capacity planning, WIP monitoring) and a NEW
    plan family: ±1 boundary events + a running sum, not a join.
    → (day_num, n_open) at change-point days.

    Determinism: dates reduce to epoch-day integers; deltas and the
    running count are exact BIGINT sums over the (day) total order ⇒
    bit-exact. Scale: ONE orderkey aggregate over lineitem (map-side
    max), an orders key join, then ALL arithmetic runs on the
    |calendar days|-row delta table (two rows per order collapse
    map-side into per-day deltas): the cumulative window is
    calendar-sized (~2.5k rows), never data-sized — the
    weighted-sampler chunked carry applies verbatim if a calendar
    ever outgrows one task."""
    day0 = F.lit("1970-01-01").cast("date")
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_orderkey",
                  F.datediff(F.col("l_shipdate").cast("date"), day0)
                  .alias("ship_day"))
          .groupBy("l_orderkey")
          .agg(F.max("ship_day").alias("last_ship")))
    o = (_t(spark, sf_dir, "orders")
         .select("o_orderkey",
                 F.datediff(F.col("o_orderdate").cast("date"), day0)
                 .alias("order_day")))
    from ..operators.timeseries import (backlog_deltas,
                                        backlog_from_deltas)
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"])
    return backlog_from_deltas(
        backlog_deltas(j, "order_day", "last_ship"))


def orders_theilsen_trend(spark, sf_dir):
    """Theil–Sen robust trend of daily revenue (Theil 1950, Sen
    1968): the MEDIAN of all pairwise slopes over the day-grain
    revenue series — the outlier-robust counterpart of the OLS slope
    (events_trend_slope family): a handful of blowout days cannot
    move it. → ONE row (n_days, n_pairs, theilsen_slope).

    Determinism: day revenue is an exact DECIMAL(27,6) sum; each
    pairwise slope is ONE string-routed subtraction parse + one IEEE
    division (identical trees both engines); the median is the exact
    lower-median ELEMENT at rank (n+1) div 2 over the (slope, da,
    db) total order — an element, not an average ⇒ bit-exact.

    Scale: ONE day-grain aggregate touches orders; the pair join and
    the rank window are CALENDAR²-sized (~3M pairs for 7 years) —
    data-independent, the deliberate trade of the robust estimator
    (at 100 TB the pair count is unchanged; the documented
    sampled-pairs variant applies only past decade-scale calendars)."""
    from ..operators.timeseries import daily_revenue, theilsen_from_daily
    o = _t(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    return theilsen_from_daily(daily_revenue(o))


def orders_revenue_runs_test(spark, sf_dir):
    """Wald–Wolfowitz runs test for randomness of the daily revenue
    series (Wald & Wolfowitz 1940): is the above/below-median sign
    sequence random, or does revenue trend/cluster? Days equal to
    the median are EXCLUDED (the standard treatment). → ONE row
    (n_days_used, n_above, n_below, n_runs, z_score).

    Determinism: the median is the exact lower-median ELEMENT over
    the (rev, d) total order (decimal equality is exact, so the tie
    exclusion is deterministic); the runs count is an exact integer
    window sum over the day order; μ = 1 + 2·n₁n₂/n and
    σ² = 2n₁n₂(2n₁n₂−n)/(n²(n−1)) run through exact DECIMAL
    integer products + string hops into one fixed IEEE z tree
    (sqrt correctly rounded) ⇒ bit-exact.

    Scale: ONE day-grain aggregate touches orders; every window
    after is calendar-sized (the backlog-sweep posture)."""
    from ..operators.timeseries import daily_revenue, runs_test_from_daily
    o = _t(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    return runs_test_from_daily(daily_revenue(o))


def orders_fulfillment_lag_approx(spark, sf_dir):
    """GK-sketch twin of orders_fulfillment_lag — the scale swap its
    exact form documents: per-priority median/p90 via
    percentile_approx (mergeable GK aggregate with map-side
    partials) instead of the exact per-priority rank window, so the
    readout is ONE plain aggregate over the lag rows — no keyed sort
    serializing a priority through one task. Rows-only BY DESIGN
    (the sketch is engine-internal; the exact in-window
    orders_fulfillment_lag is the oracle-checkable ground truth);
    n_orders and the exact-decimal mean MATCH the exact form
    bit-for-bit, quantile accuracy pinned by
    tests/test_operators.py::test_fulfillment_lag_approx_accuracy."""
    day0 = F.lit("1970-01-01").cast("date")
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_orderkey",
                  F.datediff(F.col("l_shipdate").cast("date"), day0)
                  .alias("ship_day"))
          .groupBy("l_orderkey")
          .agg(F.max("ship_day").alias("last_ship")))
    o = (_t(spark, sf_dir, "orders")
         .select("o_orderkey", "o_orderpriority",
                 F.datediff(F.col("o_orderdate").cast("date"), day0)
                 .alias("order_day")))
    j = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
         .select("o_orderpriority",
                 (F.col("last_ship") - F.col("order_day")).alias("lag")))
    return (j.groupBy("o_orderpriority")
            .agg(F.count("*").cast("bigint").alias("n_orders"),
                 F.percentile_approx("lag", 0.5, 10000).cast("bigint")
                 .alias("median_lag_days"),
                 F.percentile_approx("lag", 0.9, 10000).cast("bigint")
                 .alias("p90_lag_days"),
                 (F.sum(F.col("lag").cast("decimal(27,6)"))
                  .cast("string").cast("double")
                  / F.count("*").cast("double"))
                 .alias("mean_lag_days")))


def customer_reorder_rate(spark, sf_dir):
    """Customer reorder behavior per market segment: consecutive
    order pairs per customer (ordered by date with the orderkey
    tiebreak), the share that reorder within 30 days, and the exact
    median gap — the repeat-purchase readout next to RFM (stock) and
    conversion latency (event-grain): does this segment come back,
    and how fast? → (c_mktsegment, n_pairs, n_within_30d,
    reorder_rate_30d, median_gap_days).

    Determinism: dates reduce to epoch-day integers; consecutive
    pairs come from a per-customer lag window over the (day,
    orderkey) total order; the median is the exact rank-⌈n/2⌉
    element per segment; the rate is one integer division ⇒
    bit-exact. Scale: the lag window partitions by CUSTOMER
    (|customers|-way parallel, never global); the per-segment median
    rank window runs over |pairs| rows (the quality_floor shape —
    the GK percentile_approx swap applies verbatim); the segment dim
    broadcasts."""
    day0 = F.lit("1970-01-01").cast("date")
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), day0)
        .alias("od"))
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    gaps = (o.withColumn("gap", F.col("od") - F.lag("od").over(w))
            .filter(F.col("gap").isNotNull()))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    g = (gaps.join(F.broadcast(c),
                   gaps["o_custkey"] == c["c_custkey"])
         .select("c_mktsegment", "o_custkey", "o_orderkey", "gap"))
    wseg = Window.partitionBy("c_mktsegment").orderBy(
        "gap", "o_custkey", "o_orderkey")
    wn = Window.partitionBy("c_mktsegment")
    r = (g.withColumn("rk", F.row_number().over(wseg))
         .withColumn("n", F.count("*").over(wn)))
    med = F.max(F.when(F.col("rk") == F.expr("(n + 1) div 2"),
                       F.col("gap")))
    agg = (r.groupBy("c_mktsegment")
           .agg(F.max("n").alias("n_pairs"),
                F.sum(F.when(F.col("gap") <= 30, 1).otherwise(0))
                .alias("n30"),
                med.alias("med")))
    return agg.select(
        "c_mktsegment",
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("n30").cast("bigint").alias("n_within_30d"),
        (F.col("n30").cast("double")
         / F.col("n_pairs").cast("double")).alias("reorder_rate_30d"),
        F.col("med").cast("bigint").alias("median_gap_days"))


def customer_yoy_sign_test(spark, sf_dir):
    """Paired sign test on year-over-year customer activity (the
    matched-pairs nonparametric): per customer with orders in 1996
    or 1997, did order count go UP or DOWN between the years? Ties
    (equal counts) are EXCLUDED (the standard treatment); under H₀
    ups are Binomial(n, ½), z = (2·n_up − n)/√n — the
    paired-comparison member of the classical-test family (runs
    tests one series' randomness; this tests a matched shift).
    → ONE row (n_customers_used, n_up, n_down, z_score).

    Determinism: per-(customer, year) counts are exact BIGINTs from
    ONE aggregate; the up/down classification is integer comparison;
    z is one fixed IEEE tree ⇒ bit-exact. Scale: one custkey-keyed
    aggregate with map-side partials, 1-row finisher. The per-key
    year counts are additive and SHARED with the streaming twin
    (streaming/sketches.py::streaming_yoy_counts); the readout
    finishes from either state via
    operators/timeseries.py::sign_test_from_counts."""
    from ..operators.timeseries import sign_test_from_counts, yoy_counts
    o = (_t(spark, sf_dir, "orders")
         .select("o_custkey", F.year("o_orderdate").alias("yr"))
         .filter(F.col("yr").isin(1996, 1997)))
    return sign_test_from_counts(yoy_counts(o, "o_custkey", "yr"))
