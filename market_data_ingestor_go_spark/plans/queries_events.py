"""Events-domain queries: time-series, sessionization, funnels,
drift/changepoint, and the event-analytics family over the events
table. The registry lives in plans/queries.py; split out in round
15 (r14 verdict #6)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window
from .common import _dstr, _dsum, _events, _pearson_from_moments, _slope_from_moments, _t  # noqa: F401


def events_variant_extract(spark, sf_dir):
    """Schema-on-read ingestion via Spark 4's VARIANT type: rebuild
    the reference's double-nested wire envelope (server.go:176-188's
    data.data shape, the P3 family), parse it with parse_json into an
    open VARIANT column, and pull typed fields back out with
    variant_get JSON paths — the drift-tolerant path for payloads
    whose shape changes release to release (no schema migration, no
    schema_of_json sampling pass; extraction stays JVM-side on the
    binary-encoded variant, unlike repeated get_json_object string
    re-parses). Aggregated per event_type so the check is
    order-stable; the oracle computes the same result straight from
    the typed columns — i.e. it checks that the build→parse→extract
    round trip is lossless, doubles included."""
    e = _events(spark, sf_dir)
    wire = e.select(
        "event_type",
        F.to_json(F.struct(
            F.struct(F.col("event_type").alias("type"),
                     F.col("user_id").alias("source_id")).alias("meta"),
            F.struct(F.struct(
                F.col("value").alias("value"),
                F.get_json_object("props", "$.k").cast("bigint")
                .alias("k")).alias("data")).alias("data"),
        )).alias("wire"))
    v = wire.select("event_type", F.parse_json("wire").alias("v"))
    ext = v.select(
        "event_type",
        F.variant_get("v", "$.data.data.value", "double").alias("val"),
        F.variant_get("v", "$.data.data.k", "bigint").alias("k"),
        F.variant_get("v", "$.meta.source_id", "bigint").alias("source_id"))
    return (ext.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 _dsum(F.col("val"), "sum_value"),
                 F.max("k").alias("max_k"),
                 F.countDistinct("source_id").alias("n_sources")))


def events_tumbling_window(spark, sf_dir):
    """Event-time tumbling window (native window()); epoch-aligned
    hourly buckets emitted as epoch millis."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"),
             _dsum(F.col("value"), "sum_value", "decimal(27,10)"))
        .select(F.unix_millis(F.col("w.start")).alias("window_start_ms"),
                "event_type", "n_events", "sum_value")
    )


def events_sessionization(spark, sf_dir):
    """Sessionization via native session_window (30 min gap) — new
    session iff gap ≥ 30 min (window end exclusive), matching the
    oracle's gaps-and-islands formulation at microsecond precision."""
    e = _events(spark, sf_dir)
    sess = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count("*").alias("n_in_session"))
    )
    return (
        sess.groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"),
             F.sum("n_in_session").alias("n_events"),
             (F.sum("n_in_session").cast("double") / F.count("*")).alias("avg_events_per_session"))
    )


def asof_join_purchase_click(spark, sf_dir):
    """As-of join (Spark has no native one — SURVEY §2.4 'exposed'):
    for each purchase, the latest click by the same user at or before
    the purchase time. Implemented with the scalable union+window
    pattern (one shuffle on user, no range-join explosion): interleave
    both streams ordered by (ts, kind, id) and carry the last click
    struct forward. Ties: a click at the purchase's exact ts counts;
    equal-ts clicks resolve to max event_id."""
    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click") \
        .select("user_id", "ts_ms", "event_id", F.lit(0).alias("kind"))
    purchases = e.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts_ms", "event_id", F.lit(1).alias("kind"))
    both = clicks.unionByName(purchases)
    w = (Window.partitionBy("user_id")
         .orderBy("ts_ms", "kind", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = both.withColumn(
        "last_click",
        F.last(F.when(F.col("kind") == 0,
                      F.struct(F.col("ts_ms"), F.col("event_id"))),
               ignorenulls=True).over(w))
    return (
        carried.filter((F.col("kind") == 1) & F.col("last_click").isNotNull())
        .select(F.col("event_id").alias("purchase_id"), "user_id",
                F.col("ts_ms").alias("purchase_ts_ms"),
                F.col("last_click.ts_ms").alias("click_ts_ms"),
                F.col("last_click.event_id").alias("click_event_id"))
    )


def value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (median + p90)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy("event_type")
        .agg(F.percentile("value", 0.5).alias("p50"),
             F.percentile("value", 0.9).alias("p90"),
             F.count("*").alias("n"))
    )


def event_gaps(spark, sf_dir):
    """lag/lead surface: inter-event gap stats per user (integer gap
    sums stay exact; the average divides in double at the end)."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gapped = e.withColumn("gap_ms", F.col("ts_ms") - F.lag("ts_ms").over(w))
    return (
        gapped.filter(F.col("gap_ms").isNotNull())
        .groupBy("user_id")
        .agg(F.count("*").alias("n_gaps"),
             F.sum("gap_ms").alias("total_gap_ms"),
             F.max("gap_ms").alias("max_gap_ms"),
             (F.sum("gap_ms").cast("double") / F.count("*")).alias("avg_gap_ms"))
    )


def range_join_click_context(spark, sf_dir):
    """Range join, the scale pattern: for each error event, count the
    same user's clicks in the preceding hour.

    A naive `a.ts BETWEEN b.ts-1h AND b.ts` join plans as a nested
    loop. The scalable shape bucketizes time: clicks land in their
    hour bucket, each error probes its own and the previous hour
    bucket (explode of 2 keys) — an equi-join on (user, bucket) whose
    shuffle is linear in events — then the exact range predicate
    filters within the tiny candidate set.
    """
    e = _events(spark, sf_dir)
    hour = 3_600_000
    clicks = (e.filter(F.col("event_type") == "click")
              .select("user_id", F.col("ts_ms").alias("c_ts"),
                      (F.col("ts_ms") / hour).cast("long").alias("bucket")))
    errors = (e.filter(F.col("event_type") == "error")
              .select(F.col("event_id").alias("error_id"), "user_id",
                      F.col("ts_ms").alias("e_ts")))
    probes = errors.withColumn(
        "bucket", F.explode(F.array(
            (F.col("e_ts") / hour).cast("long"),
            (F.col("e_ts") / hour).cast("long") - 1)))
    joined = probes.join(clicks, ["user_id", "bucket"]).filter(
        (F.col("c_ts") <= F.col("e_ts"))
        & (F.col("c_ts") > F.col("e_ts") - hour))
    counts = joined.groupBy("error_id").agg(F.count("*").alias("n_clicks_prior_hour"))
    return (
        errors.join(counts, "error_id", "left")
        .select("error_id", "user_id", "e_ts",
                F.coalesce("n_clicks_prior_hour", F.lit(0)).alias("n_clicks_prior_hour"))
    )


def value_quantiles_kll(spark, sf_dir):
    """Mergeable-quantile rollup (Datasketches KLL): monthly sketch
    cells of l_extendedprice per returnflag folded to per-flag
    p50/p95/p99 — store-the-sketch percentiles without rescanning.
    Rows-only AND non-repeatable by construction (KLL compaction is
    randomized), so correctness is pinned in tests as the sketch's
    actual contract: measured rank error of every estimate < 3% at
    k=200, n_rows exact. Exact twins: value_percentiles (interpolated
    percentile) and the percentile_approx path in
    approx_distinct_sketch (GK, deterministic)."""
    from ..operators.sketch import (quantile_sketch_partials,
                                    quantile_sketch_rollup)
    li = _t(spark, sf_dir, "lineitem")
    cells = quantile_sketch_partials(
        li, "l_extendedprice", ["l_returnflag"],
        F.date_trunc("month", F.col("l_shipdate")), k=200)
    return (quantile_sketch_rollup(cells, ["l_returnflag"])
            .withColumn("n_rows", F.col("n_rows").cast("bigint")))


def events_trend_slope(spark, sf_dir):
    """Per-series OLS trend: slope of hourly-bucketed values over the
    bucket index — cov(t, x)/var(t) with the exact-moment machinery
    (bucket indices are SMALL ints, so t-moments are exact integers
    outright). Completes the bit-exact stats family: mean/std
    (z-score), dependence (corr), trend (slope). Slope units:
    value per hour."""
    e = _events(spark, sf_dir)
    bucket = F.expr("ts_ms div 3600000")
    ord_key = F.col("ts_ms") * F.lit(1_000_000) + F.col("event_id")
    per = (e.groupBy(F.col("event_type").alias("k"), bucket.alias("bi"))
           .agg(F.max_by("value", ord_key).alias("v")))
    w0 = Window.partitionBy("k")
    t = (F.col("bi") - F.min("bi").over(w0)).cast("decimal(10,0)")
    c = F.round(F.col("v") * 100.0).cast("decimal(10,0)")
    rows = per.select("k", t.alias("t"), c.alias("c"))
    g = (rows.groupBy("k")
         .agg(F.count("*").alias("n"),
              F.sum("t").alias("st"), F.sum("c").alias("sx"),
              F.sum(F.col("t") * F.col("t")).alias("stt"),
              F.sum(F.col("t") * F.col("c")).alias("stx")))
    return g.select(F.col("k").alias("event_type"), "n",
                    (_slope_from_moments("st", "sx", "stt", "stx", "n")
                     / 100.0).alias("slope_per_hour"))


def events_pair_correlation(spark, sf_dir):
    """Cross-series correlation matrix (pairs screening): align every
    event-type pair on a 1-hour bucket grid (last observation per
    bucket), then Pearson over the shared buckets with the exact-
    decimal moment machinery (the shared bit-exact
    _pearson_from_moments recipe), composed with time-bucket alignment and
    an unordered pair self-join. K series ⇒ the join is over K
    bucket-grain tables (tiny), never the raw stream."""
    from ..operators.cache import pin
    e = _events(spark, sf_dir)
    bucket = F.expr("ts_ms div 3600000") * F.lit(3600000)
    # composite numeric order key (DuckDB's max_by can't compare
    # structs): ms*1e6 + id is ts-then-id order while event_id < 1e6
    ord_key = F.col("ts_ms") * F.lit(1_000_000) + F.col("event_id")
    per = (e.groupBy(F.col("event_type").alias("k"), bucket.alias("b"))
           .agg(F.max_by("value", ord_key).alias("v")))
    c = F.round(F.col("v") * 100.0).cast("decimal(10,0)")
    # pin: both self-join branches reuse this bucket-grain aggregate —
    # without it the raw-events max_by scan runs twice per action.
    per = pin(per.select("k", "b", c.alias("c")))
    a = per.select(F.col("k").alias("ka"), "b", F.col("c").alias("ca"))
    bb = per.select(F.col("k").alias("kb"), "b", F.col("c").alias("cb"))
    j = a.join(bb, ["b"]).filter(F.col("ka") < F.col("kb"))
    g = (j.groupBy("ka", "kb")
         .agg(F.count("*").alias("n"),
              F.sum("ca").alias("sx"), F.sum("cb").alias("sy"),
              F.sum(F.col("ca") * F.col("ca")).alias("sxx"),
              F.sum(F.col("cb") * F.col("cb")).alias("syy"),
              F.sum(F.col("ca") * F.col("cb")).alias("sxy")))
    return g.select("ka", "kb", "n",
                    _pearson_from_moments("sx", "sy", "sxx", "syy",
                                          "sxy", "n").alias("corr"))


def events_motif_search(spark, sf_dir):
    """UCR-style subsequence similarity search: top-3 z-normalized
    matches per event type to a literal 8-tick spike pattern —
    "where did the series move like THIS", scale/offset-invariant.
    Sliding windows via a frame-bounded collect_list; distance in
    array expressions. Routed through the CHUNKED path (row-space
    chunks with an m-1 carry overlap): event_type is a 5-value key,
    so the plain per-key window would serialize each 20%-of-the-
    stream series through one task — chunking restores keys × chunks
    parallelism with BIT-IDENTICAL results (equality pinned in
    tests). See operators/timeseries.py:subsequence_search."""
    from ..operators.timeseries import subsequence_search
    e = _events(spark, sf_dir)
    pattern = [1.0, 2.0, 4.0, 8.0, 8.0, 4.0, 2.0, 1.0]
    return subsequence_search(e, "event_type", ["ts_ms", "event_id"],
                              "value", pattern, k=3, chunk_rows=2048)


def events_twap(spark, sf_dir):
    """Time-weighted average value per event type (the market-data
    TWAP: each observation holds until the next one, so its weight is
    its holding duration — plain AVG over irregular ticks over-weights
    bursts). value×duration products are exact integer decimals
    (cents × ms), so the weighted sum is order-independent and the
    result bit-exact vs the oracle. One window (lead) + one aggregate
    on the same key exchange."""
    from ..operators.cache import pin
    from ..operators.timeseries import keyed_row_numbers
    e = _events(spark, sf_dir)
    # lead(ts) WITHOUT a whole-key window: event_type is a 5-value
    # key, so the per-key window would serialize 20% of the stream
    # through one task (the r5 weak shape). keyed_row_numbers is
    # chunk-parallel; the successor lookup is then an equi-join on
    # (key, rn+1) — co-partitioned, keys x chunks parallelism, and
    # the durations (hence every downstream sum) are IDENTICAL to the
    # window-lead form, so oracle parity stays bit-exact. Pinned:
    # both self-join branches reuse the row-numbered scan (column
    # pruning makes the branches' exchanges differ, so ReuseExchange
    # alone would rescan the raw events twice — review catch r6).
    base = pin(keyed_row_numbers(
        e.select("event_type", "ts_ms", "event_id", "value"),
        "event_type", ["ts_ms", "event_id"],
        F.expr("ts_ms div 3600000")))
    nxt = base.select(F.col("event_type").alias("k2"),
                      (F.col("__rn_g") - 1).alias("rn2"),
                      F.col("ts_ms").alias("nxt_ts"))
    j = base.join(nxt, (F.col("event_type") == F.col("k2"))
                  & (F.col("__rn_g") == F.col("rn2")), "left")
    c = F.round(F.col("value") * 100.0).cast("decimal(10,0)")
    dur = (F.col("nxt_ts") - F.col("ts_ms")).cast("decimal(12,0)")
    rows = (j.select("event_type", c.alias("c"), dur.alias("dur"))
            .filter(F.col("dur").isNotNull()))
    g = (rows.groupBy("event_type")
         .agg(F.count("*").alias("n_intervals"),
              F.sum(F.col("c") * F.col("dur")).alias("swv"),
              F.sum("dur").alias("st")))
    twap = (F.col("swv").cast("string").cast("double")
            / F.col("st").cast("string").cast("double")) / 100.0
    return g.select("event_type", "n_intervals",
                    F.col("st").cast("bigint").alias("span_ms"),
                    twap.alias("twap_value"))


def events_mad_outliers(spark, sf_dir):
    """Robust (Hampel-style) outlier detection per event type: median
    and median-absolute-deviation instead of mean/stddev, flagging
    |value − med| > 3·MAD — the robust twin of events_zscore_outliers
    (a z-score's mean and σ are themselves dragged by the outliers
    they are supposed to find). Medians are RANK-BASED (the value at
    row_number (n+1) div 2 in value order — the lower median), so no
    interpolation arithmetic exists to diverge across engines: every
    emitted double is a value picked from the data or one
    subtract/multiply away, bit-exact. MAD == 0 degenerates safely
    (dev > 0 counts; no division anywhere).

    Scale shape: two per-key window passes (count + row_number,
    partitioned by event_type — no global window) and two broadcast
    joins of the 5-row medians table. The two medians tables are
    pinned (localCheckpoint — they are |event types| rows): without
    the pin, every downstream reference replayed the window lineage
    from the scan (6 window passes / 6 sorts / 4 scans observed in
    the r9 audit; now 2 / 2 / 3 — the remaining replays are narrow
    2-column scans + a broadcast join, cheaper than materializing a
    corpus-sized frame)."""
    e = _events(spark, sf_dir)
    kw = Window.partitionBy("event_type")
    rk = Window.partitionBy("event_type").orderBy("value")
    base = e.select("event_type", "value")
    v = (base
         .withColumn("n", F.count("*").over(kw))
         .withColumn("rn", F.row_number().over(rk)))
    med = (v.filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
           .select("event_type", F.col("value").alias("med"))
           .localCheckpoint(eager=True))
    d = (base.join(F.broadcast(med), "event_type")
         .withColumn("dev", F.abs(F.col("value") - F.col("med"))))
    dk = Window.partitionBy("event_type").orderBy("dev")
    d2 = (d.withColumn("n", F.count("*").over(kw))
          .withColumn("rn", F.row_number().over(dk)))
    mad = (d2.filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
           .select("event_type", F.col("dev").alias("mad"))
           .localCheckpoint(eager=True))
    return (d.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.max("med").alias("med"),
                 F.max("mad").alias("mad"),
                 F.sum(F.when(F.col("dev") > F.lit(3.0) * F.col("mad"), 1)
                       .otherwise(0)).cast("bigint").alias("n_outliers")))


def events_zscore_outliers(spark, sf_dir):
    """Statistical QC: per event type, standardize every value against
    the group's mean/std and count |z| > 3 outliers. Moments come from
    EXACT integer-decimal sums of cents and cents² (order-independent;
    both fit 2^53 so the decimal→double casts are exact), then a fixed
    sequence of correctly-rounded double ops — bit-exact vs the
    oracle, no tolerance anywhere. One aggregate + a broadcast join
    back; scan-bound at scale."""
    e = _events(spark, sf_dir)
    c = F.round(F.col("value") * F.lit(100.0)).cast("decimal(10,0)")
    rows = e.select("event_type", c.alias("c"))
    g = (rows.groupBy("event_type")
         .agg(F.count("*").alias("n"),
              F.sum("c").alias("s1"),
              F.sum(F.col("c") * F.col("c")).alias("s2")))
    nD = F.col("n").cast("double")
    # s1/s2 go through the string route (_dstr): DuckDB's int128→double
    # direct cast differs by 1 ULP once sums exceed 2^53, and this query
    # must stay bit-exact at ANY scale factor (ADVICE r5).
    m = _dstr("s1") / nD
    v = (_dstr("s2") - _dstr("s1") * m) / nD
    stats = g.select("event_type", "n", m.alias("m"),
                     F.sqrt(v).alias("s"))
    z = (F.col("c").cast("double") - F.col("m")) / F.col("s")
    return (rows.join(F.broadcast(stats), "event_type")
            .groupBy("event_type")
            .agg(F.first("n").alias("n_events"),
                 (F.first("m") / 100.0).alias("mean_value"),
                 (F.first("s") / 100.0).alias("std_value"),
                 F.count(F.when(F.abs(z) > 3.0, 1)).alias("n_outliers"),
                 F.max(F.abs(z)).alias("max_abs_z")))


def events_ewma_smooth(spark, sf_dir):
    """Per-user EWMA (alpha=0.5) of event values in time order — the
    exponential-smoothing member of the time-series family. The
    sequential recursion runs as its closed form over one cumulative
    window (single exchange on user_id, no self-join, no Python);
    the fixed-2-decimal values route the running sum through exact
    integer decimals, so the result is bit-reproducible across
    engines and partitionings and the oracle matches hash-exact.
    Bounded-series contract (rn ≤ 99/key on the decimal path; fixture
    max 99) — unbounded streams use the streaming twin. See
    operators/timeseries.py:ewma."""
    from ..operators.timeseries import ewma
    e = _events(spark, sf_dir)
    out = ewma(e, "user_id", ["ts_ms", "event_id"], "value", alpha=0.5,
               value_decimals=2)
    return out.select("event_id", "user_id", "ts_ms", "value", "ewma")


def events_ewma_chunked(spark, sf_dir):
    """EWMA over the 5-value event_type key — per-key series of
    thousands of rows, 20x past the closed form's decimal bound, so
    this query is only computable through the segmented path
    (operators/timeseries.py:ewma_chunked): per-segment closed form +
    pointer-jumping carry scan, keys x segments parallelism.
    Rows-only (the cross-segment carry composition is a parallel
    scan, not SQL-expressible bit-exact); correctness vs an
    exact-Fraction sequential recursion is pinned in
    tests/test_operators.py."""
    from ..operators.timeseries import ewma_chunked
    e = _events(spark, sf_dir)
    out = ewma_chunked(e, "event_type", ["ts_ms", "event_id"], "value",
                       alpha=0.5, value_decimals=2, seg_rows=64)
    return out.select("event_id", "event_type", "ts_ms", "value", "ewma")


def events_gapfill_locf(spark, sf_dir):
    """Dense 15-min grid per event type with last-observation-carried-
    forward — the hypertable gapfill+locf query over the sparse event
    stream (~50% of buckets are empty at this step). One raw-stream
    aggregate, then bucket-grain grid/join/window only."""
    from ..operators.timeseries import gap_fill_locf
    e = _events(spark, sf_dir)
    return gap_fill_locf(e, "event_type", "ts_ms", "value",
                         step_ms=900000,
                         ord_col=F.struct(F.col("ts_ms"),
                                          F.col("event_id")))


def events_gapfill_interpolate(spark, sf_dir):
    """Linear interpolation across the same 15-min gaps (the
    ``interpolate`` companion; trailing gaps fall back to LOCF)."""
    from ..operators.timeseries import gap_fill_interpolate
    e = _events(spark, sf_dir)
    return gap_fill_interpolate(e, "event_type", "ts_ms", "value",
                                step_ms=900000,
                                ord_col=F.struct(F.col("ts_ms"),
                                                 F.col("event_id")))


def events_moving_stats(spark, sf_dir):
    """Rolling-frame window surface (ROWS BETWEEN 4 PRECEDING AND
    CURRENT ROW): per-user moving sum/avg/min/max of value over the
    last 5 events — the time-series feature shape (moving averages,
    rolling vol) the batch corpus lacked. Exact-decimal rolling sum so
    the frame arithmetic is engine-identical."""
    e = _events(spark, sf_dir)
    w = (Window.partitionBy("user_id")
         .orderBy("ts_ms", "event_id")
         .rowsBetween(-4, Window.currentRow))
    return e.select(
        "user_id", "event_id", "ts_ms",
        F.sum(F.col("value").cast("decimal(27,10)")).over(w)
         .cast("double").alias("mov_sum"),
        (F.sum(F.col("value").cast("decimal(27,10)")).over(w).cast("double")
         / F.count("*").over(w)).alias("mov_avg"),
        F.min("value").over(w).alias("mov_min"),
        F.max("value").over(w).alias("mov_max"),
        F.count("*").over(w).alias("frame_n"),
    )


# --------------------------------- training-pipeline + market rollup §2.11

def events_ohlc_bars(spark, sf_dir):
    """Hypertable-style OHLC rollup: 15-min bars per event type —
    open/close via min_by/max_by on a unique (ts, id) order key, so
    the whole bar is ONE map-side-combined aggregate (no window pass
    over the raw stream; at 100 TB only one row per bar per partition
    reaches the shuffle). The oracle reproduces open/close with a
    row_number window — same values, Spark just gets the cheaper plan."""
    e = _events(spark, sf_dir)
    ord_key = F.struct(F.col("ts_ms"), F.col("event_id"))
    return (
        e.groupBy((F.expr("ts_ms div 900000") * 900000).alias("bar_start_ms"),
                  F.col("event_type"))
        .agg(F.min_by("value", ord_key).alias("open"),
             F.max("value").alias("high"),
             F.min("value").alias("low"),
             F.max_by("value", ord_key).alias("close"),
             F.count("*").alias("n_events"),
             _dsum(F.col("value"), "sum_value", "decimal(27,10)"))
    )


def events_user_growth(spark, sf_dir):
    """Growth accounting: per day — active users, NEW users (first
    ever seen that day) and the cumulative user base. The classic
    running-count-distinct is re-expressed exactly: first-seen day
    per user (one min-agg), new-user counts per day, cumulative sum
    over the DAY-grain table (|days| rows — the window runs on the
    aggregate, never the event stream). Pure integer arithmetic ⇒
    bit-exact; day = epoch-millis div 86400000 (timezone-proof)."""
    e = _events(spark, sf_dir)
    day = (F.expr("ts_ms div 86400000") * 86400000).alias("day_start_ms")
    active = (e.groupBy(day)
              .agg(F.countDistinct("user_id").cast("bigint")
                   .alias("n_active")))
    first = (e.groupBy("user_id")
             .agg(F.min(F.expr("ts_ms div 86400000") * 86400000)
                  .alias("day_start_ms")))
    new = (first.groupBy("day_start_ms")
           .agg(F.count("*").cast("bigint").alias("n_new")))
    w = (Window.orderBy("day_start_ms")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (active.join(new, "day_start_ms", "left")
            .withColumn("n_new", F.coalesce("n_new", F.lit(0)))
            .withColumn("cum_users",
                        F.sum("n_new").over(w).cast("bigint"))
            .select("day_start_ms", "n_active", "n_new", "cum_users"))


def events_cohort_retention(spark, sf_dir):
    """Triangle retention matrix
    (operators/timeseries.py::cohort_retention): users cohorted by
    first-active day, retention(k) = cohort members active k days
    later / cohort size. Exact integer counts, one int/int division
    ⇒ bit-exact; day = epoch-millis div 86400000 (timezone-proof,
    the events_user_growth grain)."""
    from ..operators.timeseries import cohort_retention
    return cohort_retention(_events(spark, sf_dir))


def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    streams (operators/timeseries.py::event_transitions): consecutive
    (prev → cur) event-type counts ordered by (ts, event_id) — the
    unique id makes the order total, so counts are deterministic
    under any partitioning — row-normalized by exact-int division."""
    from ..operators.timeseries import event_transitions
    return event_transitions(_events(spark, sf_dir))


def events_cusum_changepoint(spark, sf_dir):
    """Per-event-type CUSUM change-point
    (operators/timeseries.py::cusum_changepoint): argmax_i |S_i| of
    the mean-centered cumulative sum — WHEN the value level shifted,
    complementing the TV/KS/χ² monitors' WHICH. The argmax is decided
    in exact decimal arithmetic (n·S_i = n·prefix − i·total, values
    quantized DECIMAL(27,6)) ⇒ bit-exact including the tie-break."""
    from ..operators.timeseries import cusum_changepoint
    return cusum_changepoint(_events(spark, sf_dir))


def events_vwap(spark, sf_dir):
    """Volume-weighted average price per (event_type, hour): weights
    come through the schema-on-read VARIANT path (parse_json →
    variant_get on the props payload — no schema migration when the
    payload drifts), the weighted sum is the order-independent
    decimal pattern, and the final division is one exact
    bigint-denominator divide. Composes the P3/VARIANT family with
    the exact-aggregate family."""
    e = _events(spark, sf_dir)
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    w = e.select("event_type",
                 (F.expr("ts_ms div 3600000") * 3600000)
                 .alias("hour_start_ms"),
                 F.col("value"), k.alias("k"))
    # when-guarded: a bucket can legitimately have zero total
    # quantity (93 zero-k events in the fixture) — its vwap is NULL,
    # and ANSI mode rejects the bare 0/0
    return (w.groupBy("event_type", "hour_start_ms")
            .agg(F.count("*").alias("n_events"),
                 F.sum("k").alias("sum_qty"),
                 F.when(F.sum("k") > 0,
                        F.sum((F.col("value") * F.col("k"))
                              .cast("decimal(27,6)")).cast("double")
                        / F.sum("k").cast("double")).alias("vwap")))


def events_drawdown(spark, sf_dir):
    """Per-series running-peak drawdown: peak = cumulative max over
    the deterministic (ts, event_id) order, drawdown = peak − value.
    NO accumulation anywhere — cummax and subtraction are exact, so
    the per-series maxima are bit-exact cross-engine with zero
    decimal machinery. Runs the CHUNKED path (weekly chunks → keys ×
    chunks parallelism, the per-key-window family's 100 TB shape —
    simplest instance: max is associative so the carry scan is a
    plain chunk-grain running max, bit-identical by construction;
    equality with the plain window is tested)."""
    from ..operators.timeseries import drawdown_chunked
    e = _events(spark, sf_dir)
    dd = drawdown_chunked(e, "event_type", ["ts_ms", "event_id"],
                          "value", F.expr("ts_ms div 604800000"))
    return (dd.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.max("value").alias("peak_value"),
                 F.max("dd").alias("max_drawdown")))


def events_cusum_bucketed(spark, sf_dir):
    """Bucket-grain CUSUM change-point per event type
    (operators/timeseries.py::cusum_bucket_stats +
    cusum_from_bucket_stats, hourly buckets): the STREAMABLE form of
    events_cusum_changepoint — the per-(key, bucket) count/decimal-sum
    sufficient statistics are additive, so the identical transform
    runs as a complete-mode streaming aggregation
    (streaming/sketches.py::streaming_cusum_stats; batch↔streaming
    bit-agreement tested) and the change point finishes from the sink
    under the documented bucket-resolution contract. Exact decimal
    argmax ⇒ bit-exact. Scale: the heavy exchange is the tiny
    bucket-grain aggregate (map-side collapse); the windows run over
    |keys|·|buckets| rows only."""
    from ..operators.timeseries import (cusum_bucket_stats,
                                        cusum_from_bucket_stats)
    e = _events(spark, sf_dir)
    return cusum_from_bucket_stats(
        cusum_bucket_stats(e, "event_type", "ts_ms", "value",
                           bucket_ms=3_600_000))


def events_rfm_segments(spark, sf_dir):
    """RFM segmentation (Hughes 1994, the classic event-analytics
    user scoring): per user — recency (days since last activity,
    against the corpus max day), frequency (event count), monetary
    (exact-decimal value sum) — each quintile-scored 1..5 (5 = most
    recent / most frequent / highest value) and combined into the
    3-digit segment code. → (user_id, recency_days, frequency,
    monetary, r_score, f_score, m_score, segment), aggregated to one
    row per segment (segment, n_users, sum_monetary) so the output is
    segment-table-sized.

    Determinism: every ntile orders by (metric, user_id) — a total
    order, and NTILE's equal-bucket-with-remainder-first rule is
    identical in Spark and DuckDB ⇒ bit-exact. Monetary ranks on the
    exact DECIMAL (a double sum is fold-order-dependent).

    Scale note: the per-user aggregate is one shuffle with map-side
    combine; the GLOBAL ntile serializes |users| rows through one
    task — at 100 TB swap exact ntile for approx-quantile boundaries
    + scan-side assignment (the doc_length_buckets posture); this
    exact form is that path's oracle-checkable ground truth.
    Streaming twin: the per-user sufficient statistics (max day /
    count / decimal sum — all mergeable) stream as
    streaming/sketches.py::streaming_rfm_stats; the shared
    rfm_segments_from_stats finisher makes the readouts bit-identical
    (tested)."""
    from ..operators.timeseries import (rfm_segments_from_stats,
                                        rfm_user_stats)
    e = _events(spark, sf_dir)
    return rfm_segments_from_stats(rfm_user_stats(e))


def events_session_funnel_paths(spark, sf_dir):
    """Session path mining — the top-20 most common 3-step opening
    event paths: sessionize by (user, >30 min gap), take each
    session's first three event types in (ts, event_id) order, count
    sessions per 'a>b>c' path. A discovery-mode funnel (which paths
    DO users take, not how many complete a given one). All strings +
    exact counts; top-20 ordered by (n_sessions DESC, path ASC) — a
    total order ⇒ bit-exact oracle.

    Scale: two keyed window passes over the same (user, ts) sort
    (session boundaries, then per-session row numbers — one exchange,
    Spark reuses the sort), a per-session 3-row pivot aggregate, a
    path-grain count with map-side partials, and a global top-20
    TakeOrdered — no corpus-sized sort."""
    e = _events(spark, sf_dir)
    w_user = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gap = F.col("ts_ms") - F.lag("ts_ms").over(w_user)
    e2 = e.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 1_800_000), 1)
        .otherwise(0))
    e3 = e2.withColumn(
        "sess", F.sum("new_s").over(
            w_user.rowsBetween(Window.unboundedPreceding, 0)))
    w_sess = (Window.partitionBy("user_id", "sess")
              .orderBy("ts_ms", "event_id"))
    e4 = (e3.withColumn("rn", F.row_number().over(w_sess))
          .filter(F.col("rn") <= 3))
    paths = (e4.groupBy("user_id", "sess")
             .agg(F.concat_ws(
                 ">",
                 F.max(F.when(F.col("rn") == 1, F.col("event_type"))),
                 F.max(F.when(F.col("rn") == 2, F.col("event_type"))),
                 F.max(F.when(F.col("rn") == 3, F.col("event_type"))))
                 .alias("path")))
    return (paths.groupBy("path")
            .agg(F.count("*").alias("n_sessions"))
            .orderBy(F.col("n_sessions").desc(), F.col("path"))
            .limit(20)
            .select("path",
                    F.col("n_sessions").cast("bigint")
                    .alias("n_sessions")))


def events_type_cooccurrence_lift(spark, sf_dir):
    """User-grain market-basket co-occurrence (Agrawal & Srikant 1994
    support/lift, at the user level): for every unordered pair of
    event types, how many users do BOTH, with support n_both/n_users
    and lift = support(a,b)/(support(a)·support(b)) — lift > 1 marks
    behaviors that travel together, the unordered complement of the
    ordered events_session_funnel_paths and the fixed-funnel
    conversion. → (type_a, type_b, n_both, n_a, n_b, support, lift).

    Determinism: all counts are exact BIGINTs over DISTINCT
    (user, type); support and lift are one fixed IEEE tree over those
    ints (lift computed as (n_both·n_users)/(n_a·n_b) — two products
    and one division, no intermediate support rounding) ⇒ bit-exact.
    Scale: ONE distinct shuffle on (user, type); the pair self-join
    is equi on user_id with per-user fanout bounded by |types|²
    (types is a small vocabulary); every aggregate collapses
    map-side; per-type counts broadcast back onto the pair table."""
    # readout machinery SHARED with the streaming user-type state
    # twin (operators/timeseries.py::cooccurrence_lift_from_user_types
    # — the retention_from_user_days factoring); the n_users
    # denominator inside it is a LAZY broadcast scalar row, so the
    # query stays a pure transform (the r14 fix for the eager
    # plan-build-time count the r13 advice flagged)
    from ..operators.timeseries import cooccurrence_lift_from_user_types
    ut = (_events(spark, sf_dir)
          .select(F.col("user_id").alias("u"),
                  F.col("event_type").alias("t"))
          .distinct()
          .localCheckpoint(eager=True))  # feeds 3 aggregates + a join
    return cooccurrence_lift_from_user_types(ut)


def events_rolling_active_users(spark, sf_dir):
    """Rolling 7-day distinct active users per day — the classic
    WAU-style sliding-window COUNT DISTINCT no window frame can
    express (DISTINCT isn't frameable in Spark OR DuckDB): for every
    day with activity, how many distinct users were active in the
    trailing 7-day window [d−6, d]. → (day_num, n_active_users,
    n_events_day). The engagement readout next to cohort retention
    (fixed cohorts) and user growth (cumulative firsts).

    Shape — the grid-explode device shared with the interval join:
    distinct (user, day) rows explode into the ≤7 trailing days they
    CONTRIBUTE to, a second distinct collapses multi-active users per
    contributed day, and one count per day finishes — three keyed
    exchanges over |users|·|active days|·7 narrow rows, never a
    per-day rescan of the corpus (the naive form joins the event
    table once per day) and never a serialized global window. Days
    with zero activity produce no row (inner join back to observed
    days). All exact integer day arithmetic + BIGINT counts ⇒
    bit-exact oracle."""
    # readout machinery SHARED with the streaming user-days state
    # (operators/timeseries.py::rolling_active_users_from_user_days
    # finishes from the same (u, d, n_events) table that
    # streaming_user_days maintains complete-mode — the
    # retention_from_user_days factoring, r13 verdict #3)
    from ..operators.timeseries import rolling_active_users_from_user_days
    ud_counts = (_events(spark, sf_dir)
                 .select(F.col("user_id").alias("u"),
                         F.expr("ts_ms div 86400000").alias("d"))
                 .groupBy("u", "d").agg(F.count("*").alias("n_events")))
    return rolling_active_users_from_user_days(ud_counts)


def events_user_growth_accounting(spark, sf_dir):
    """Growth accounting — per day, decompose the active-user base
    into NEW / RETAINED / RESURRECTED and report the churn count
    implied by yesterday's actives (the standard DAU growth-
    accounting identity): the FLOW view of engagement next to the
    stock views (cohort retention = fixed-cohort decay, rolling
    actives = trailing distinct count, user growth = cumulative
    firsts). → (day_num, n_active, n_new, n_retained, n_resurrected,
    n_churned_from_prev).

    Determinism: integer day arithmetic + BIGINT counts ⇒ bit-exact
    oracle. Scale: the only event-stream-sized exchange is the
    (user, day) DISTINCT (map-side partials); the lag window runs
    over the user-days table; per-day aggregates collapse map-side;
    the churn join is over the |days|-row table. Readout machinery
    SHARED with the streaming user-days state
    (operators/timeseries.py::growth_accounting_from_user_days —
    the retention/rolling-actives factoring: ONE state table, three
    continuous engagement readouts)."""
    from ..operators.timeseries import growth_accounting_from_user_days
    ud = (_events(spark, sf_dir)
          .select(F.col("user_id").alias("u"),
                  F.expr("ts_ms div 86400000").alias("d"))
          .distinct())
    return growth_accounting_from_user_days(ud)


def events_mannwhitney_value_test(spark, sf_dir):
    """Mann–Whitney U rank-sum test (Mann & Whitney 1947) comparing
    the 'click' vs 'view' value distributions — the NONPARAMETRIC
    two-sample test completing the family next to KS (distribution
    shape), χ² (categorical), and ANOVA (parametric means): does one
    group stochastically dominate the other? → ONE row (n_click,
    n_view, u2_statistic, z_score) with the normal approximation
    including the tie correction.

    Determinism: computed on the VALUE-GRAIN HISTOGRAM (the
    source_ks_drift spine), never per-row ranks: 2U = Σ_v n_a(v) ·
    (2·cum_b(<v) + n_b(v)) — exact integers through DECIMAL(38,0)
    products; ties contribute the standard Σ(t³−t) variance
    correction, also exact; the z finisher is one fixed IEEE tree
    over string-routed decimals (sqrt is IEEE-correctly-rounded on
    both engines) ⇒ bit-exact. Scale: ONE histogram shuffle with
    map-side partials; the cumulative window and the finisher run
    over |distinct values| rows — value-domain-sized, never
    stream-length."""
    # readout machinery SHARED with the streaming value-histogram
    # state (operators/lm_quality.py::mannwhitney_from_counts — the
    # ks_from_counts factoring: one additive histogram, KS and
    # Mann–Whitney both finish from it)
    from ..operators.lm_quality import mannwhitney_from_counts
    e = (_events(spark, sf_dir)
         .filter(F.col("event_type").isin("click", "view")
                 & F.col("value").isNotNull()))
    h = (e.groupBy("value")
         .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                    .otherwise(0)).alias("n_a"),
              F.sum(F.when(F.col("event_type") == "view", 1)
                    .otherwise(0)).alias("n_b")))
    return (mannwhitney_from_counts(h)
            .select(F.col("n_a_total").alias("n_click"),
                    F.col("n_b_total").alias("n_view"),
                    "u2_statistic", "z_score"))


def events_conversion_latency(spark, sf_dir):
    """Conversion latency distribution: per user, the time from their
    FIRST 'view' to their first 'purchase' at-or-after it; report the
    converted-user count with exact median/p90/mean latency — the
    time-dimension completion of the funnel family (the fixed funnel
    counts WHO converts; this measures HOW LONG conversion takes).
    → ONE row (n_converted, median_latency_ms, p90_latency_ms,
    mean_latency_ms).

    Determinism: latencies are exact BIGINT ms; quantiles are EXACT
    lower-quantile elements at rank ⌈qn⌉ over the (latency, user_id)
    total order — (n+1) div 2 and (9n+9) div 10 in integer
    arithmetic; the mean is an exact decimal sum with one
    string-routed division ⇒ bit-exact. Scale: two user-keyed
    aggregates (first view, first qualifying purchase — map-side
    partials); the GK-percentile swap (the
    source_quality_floor_approx precedent) remains the documented
    sketch twin. Empty-conversion contract (r15 ADVICE): when NO
    user converts, all three forms — this groupBy over the (empty)
    ledger, the oracle (HAVING COUNT(*) > 0), and the approx twin
    (n_converted > 0 filter) — agree on ZERO rows (a distribution
    over an empty set is empty, not a NULL row).

    r16 optimization round (guide §2.4/§2.5 — the Theil-Sen chunk-
    ledger selection, two ranks at once): the former global
    row_number window serialized every converted user through ONE
    task's sort, plus a global count window over the same rows. Now
    the pinned latency table aggregates once into a
    floor(lat/2^20) chunk ledger (per-chunk count + exact decimal
    sum; exclusive prefix carry; np and the grand latency sum ride
    chunk-grain windows); the ledger locates the chunk(s) whose rank
    ranges contain k_med = (np+1) div 2 and k_p90 = (9np+9) div 10
    (≤ 2 broadcast rows); only THOSE chunks' rows are ranked (global
    rank = carry + local rank by counting associativity). Selected
    elements, np and the decimal sum are IDENTICAL to the global
    form (decimal addition is order-independent). Worst case (all
    latencies in one chunk) degrades to the old single sort, never
    worse."""
    from ..operators.cache import pin
    e = _events(spark, sf_dir)
    fv = (e.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts_ms").alias("v_ts")))
    conv = (e.filter(F.col("event_type") == "purchase")
            .select("user_id", "ts_ms")
            .join(fv, "user_id")
            .filter(F.col("ts_ms") >= F.col("v_ts"))
            .groupBy("user_id")
            .agg((F.min("ts_ms") - F.min("v_ts")).alias("lat")))
    conv = pin(conv.withColumn(
        "__ck", F.floor(F.col("lat") / F.lit(1048576.0))))
    w_carry = (Window.orderBy("__ck")
               .rowsBetween(Window.unboundedPreceding, -1))
    w_all = Window.partitionBy()
    led = (conv.groupBy("__ck")
           .agg(F.count("*").alias("cn"),
                F.sum(F.col("lat").cast("decimal(27,6)")).alias("ls"))
           .withColumn("carry",
                       F.coalesce(F.sum("cn").over(w_carry), F.lit(0)))
           .withColumn("np", F.sum("cn").over(w_all))
           .withColumn("s_all", F.sum("ls").over(w_all)))
    k_med = F.expr("(np + 1) div 2")
    k_p90 = F.expr("(9 * np + 9) div 10")

    def hit(k):
        return (F.col("carry") < k) & (k <= F.col("carry") + F.col("cn"))

    target = (led.filter(hit(k_med) | hit(k_p90))
              .select(F.col("__ck").alias("__ck_l"),
                      "carry", "np", "s_all"))
    w_rk = Window.partitionBy("__ck").orderBy("lat", "user_id")
    r = (conv.join(F.broadcast(target),
                   F.col("__ck").eqNullSafe(F.col("__ck_l")))
         .withColumn("rk", F.col("carry") + F.row_number().over(w_rk)))
    return (r.groupBy("np", "s_all")
            .agg(F.max(F.when(F.col("rk") == F.expr("(np + 1) div 2"),
                              F.col("lat"))).alias("med"),
                 F.max(F.when(F.col("rk") == F.expr("(9 * np + 9) div 10"),
                              F.col("lat"))).alias("p90"))
            .select(F.col("np").cast("bigint").alias("n_converted"),
                    F.col("med").cast("bigint").alias("median_latency_ms"),
                    F.col("p90").cast("bigint").alias("p90_latency_ms"),
                    (_dstr("s_all") / F.col("np").cast("double"))
                    .alias("mean_latency_ms")))


def events_conversion_latency_approx(spark, sf_dir):
    """GK-sketch twin of events_conversion_latency — the scale swap
    its exact form documents: median/p90 via percentile_approx
    (mergeable GK aggregate with map-side partials) instead of the
    exact global rank window, so the readout is ONE plain aggregate
    over the converted-user latencies — no single-partition sort,
    no matter how many users convert. Rows-only BY DESIGN (the
    sketch is engine-internal; the exact in-window
    events_conversion_latency is the oracle-checkable ground truth);
    accuracy pinned by
    tests/test_operators.py::test_conversion_latency_approx_accuracy.
    Shares the exact form's empty-conversion contract (r15 ADVICE):
    the n_converted > 0 filter on the 1-row aggregate yields ZERO
    rows when no user converts, matching the exact query and the
    oracle."""
    e = _events(spark, sf_dir)
    fv = (e.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts_ms").alias("v_ts")))
    conv = (e.filter(F.col("event_type") == "purchase")
            .select("user_id", "ts_ms")
            .join(fv, "user_id")
            .filter(F.col("ts_ms") >= F.col("v_ts"))
            .groupBy("user_id")
            .agg((F.min("ts_ms") - F.min("v_ts")).alias("lat")))
    return (conv.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.percentile_approx("lat", 0.5, 10000).cast("bigint")
        .alias("median_latency_ms"),
        F.percentile_approx("lat", 0.9, 10000).cast("bigint")
        .alias("p90_latency_ms"),
        (F.sum(F.col("lat").cast("decimal(27,6)")).cast("string")
         .cast("double") / F.count("*").cast("double"))
        .alias("mean_latency_ms"))
        .filter(F.col("n_converted") > 0))


def events_hourly_seasonality(spark, sf_dir):
    """Hour-of-day seasonality profile per event type with a χ²
    uniformity test: 24 hour buckets from pure epoch arithmetic
    (timezone-free by construction), the peak hour with its traffic
    share, and χ² against the uniform 1/24 expectation — the
    within-day periodicity readout next to the rolling/CUSUM drift
    family (those watch BETWEEN-day change; this measures the
    daily cycle itself). → (event_type, n_events, peak_hour,
    peak_share, chi2_uniform).

    Determinism: bucket counts are exact BIGINTs; χ² over all 24
    cells collapses to 24·Σo² / n − n (empty cells contribute zero
    to Σo² and their expectation is absorbed by the identity), with
    Σo² an exact DECIMAL(38,0) sum and one string-routed fixed IEEE
    tree; the peak is max(struct(count, −hour)) — ties break to the
    SMALLEST hour, a total order ⇒ bit-exact.

    Scale: ONE (type, hour) aggregate with map-side partials —
    |types|·24 rows of state; counts are additive and SHARED with
    the streaming twin (streaming/sketches.py::streaming_hour_counts
    — the benford_from_counts factoring); the readout finishes from
    either state via
    operators/lm_quality.py::seasonality_from_hour_counts."""
    from ..operators.lm_quality import (hour_counts,
                                        seasonality_from_hour_counts)
    e = _events(spark, sf_dir)
    return seasonality_from_hour_counts(hour_counts(e))


def events_kruskal_value_test(spark, sf_dir):
    """Kruskal–Wallis H across ALL event types' value distributions
    (operators/lm_quality.py::kruskal_from_value_histogram, Kruskal &
    Wallis 1952): the k-group completion of the two-group
    Mann–Whitney — "do the event types draw their values from the
    same distribution?" as a rank test, robust to the value scale.
    → ONE row (n_total, k_groups, h_statistic, h_tie_corrected).

    Determinism: everything runs on the (type, value, count)
    histogram — doubled average ranks are exact integers, per-group
    rank sums exact decimal, the (N+1)(12S−3) identity keeps every
    summed term in (0,1] through DECIMAL(27,12) (the HHI share-space
    device), the tie term is Mann–Whitney's exact Σ(t³−t) ⇒
    bit-exact. Scale: ONE histogram shuffle with map-side partials;
    the cum window is value-domain-sized (the MW spine). The (g, x,
    c) state is the SAME additive table streaming_value_histogram
    maintains — one state, FOUR continuous readouts (KS, MW, χ²,
    KW), readout shared via kruskal_from_value_histogram."""
    from ..operators.lm_quality import kruskal_from_value_histogram
    e = (_events(spark, sf_dir)
         .filter(F.col("value").isNotNull()))
    state = (e.groupBy(F.col("event_type").alias("g"),
                       F.col("value").alias("x"))
             .agg(F.count("*").alias("c")))
    return kruskal_from_value_histogram(state)


def events_purchase_rate_ztest(spark, sf_dir):
    """Two-proportion z-test (the classic A/B readout): do users who
    ever CLICK purchase at a different rate than users who never do?
    Pooled-variance z over the two user-grain purchase proportions —
    the proportion-comparison member of the classical-test family
    (Wilson ranks one rate's uncertainty; this compares two).
    → ONE row (n_clickers, n_nonclickers, rate_clickers,
    rate_nonclickers, z_score).

    Determinism: user-grain incidence flags come from ONE idempotent
    MAX aggregate over all events; all counts are exact BIGINTs;
    p̂-pooled and the z denominator are one fixed IEEE tree (sqrt
    correctly rounded) ⇒ bit-exact. Scale: one user-keyed aggregate
    with map-side partials; the finisher is a 1-row readout
    (mirrored degenerate-case guards). The flags are IDEMPOTENT
    maxes and SHARED with the streaming twin (streaming/sketches.py::
    streaming_funnel_flags); the readout finishes from either state
    via operators/timeseries.py::ztest_from_flags."""
    from ..operators.timeseries import user_funnel_flags, ztest_from_flags
    e = _events(spark, sf_dir)
    # MAX over all events directly (a non-click/purchase event
    # contributes 0 to both flags) — every observed user enters the
    # state with the correct incidence, no universe join needed, and
    # the |users|-row state is the streaming twin's state verbatim.
    return ztest_from_flags(user_funnel_flags(e))


def events_markov_attribution(spark, sf_dir):
    """Markov removal-effect attribution over user journeys
    (operators/timeseries.py::markov_removal_attribution, Anderl et
    al. 2016): absorbing-chain conversion probability + each
    channel's removal effect and normalized attribution share — the
    data-driven multi-touch attribution readout completing the
    funnel family (first-touch counts WHO converts; transitions show
    HOW journeys move; this prices each channel's causal
    contribution under the chain model). Rows-only BY DESIGN (the
    absorbing-chain solve is a driver-side linear system over the
    ≤(|channels|+2)² bounded count artifact — the PCA-spectrum
    precedent); correctness pinned by an independent pure-Python
    reference on the fixture and a hand-computable journey set."""
    from ..operators.timeseries import markov_removal_attribution
    return markov_removal_attribution(_events(spark, sf_dir))
