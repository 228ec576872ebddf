"""Events-domain DuckDB oracles. Flat SQL dict — window membership
is derived in plans/oracles.py. Split out in round 15 (r14 verdict
#6)."""

from __future__ import annotations

from .oracles_common import _dsum  # noqa: F401

SQL: dict[str, str] = {}

SQL["events_tumbling_window"] = """
SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""

SQL["events_sessionization"] = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000 THEN 1
              ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sess AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
),
per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_in_session
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_in_session) AS BIGINT) AS n_events,
       CAST(SUM(n_in_session) AS DOUBLE) / COUNT(*) AS avg_events_per_session
FROM per_session
GROUP BY user_id
"""

SQL["asof_join_purchase_click"] = """
WITH c AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id FROM events
  WHERE event_type = 'click'),
p AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id FROM events
  WHERE event_type = 'purchase'),
j AS (
  SELECT p.event_id AS purchase_id, p.user_id,
         p.ts_ms AS purchase_ts_ms, c.ts_ms AS click_ts_ms,
         c.event_id AS click_event_id,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts_ms DESC, c.event_id DESC) AS rn
  FROM p JOIN c ON p.user_id = c.user_id AND c.ts_ms <= p.ts_ms)
SELECT purchase_id, user_id, purchase_ts_ms, click_ts_ms, click_event_id
FROM j WHERE rn = 1
"""

SQL["value_percentiles"] = """
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       COUNT(*) AS n
FROM events
GROUP BY event_type
"""

SQL["event_gaps"] = """
WITH g AS (
  SELECT user_id,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap_ms
  FROM events)
SELECT user_id, COUNT(*) AS n_gaps,
       CAST(SUM(gap_ms) AS BIGINT) AS total_gap_ms,
       MAX(gap_ms) AS max_gap_ms,
       CAST(SUM(gap_ms) AS DOUBLE) / COUNT(*) AS avg_gap_ms
FROM g WHERE gap_ms IS NOT NULL
GROUP BY user_id
"""

SQL["range_join_click_context"] = """
WITH c AS (
  SELECT user_id, epoch_ms(ts) AS c_ts FROM events WHERE event_type = 'click'),
e AS (
  SELECT event_id AS error_id, user_id, epoch_ms(ts) AS e_ts
  FROM events WHERE event_type = 'error')
SELECT e.error_id, e.user_id, e.e_ts,
       CAST(COUNT(c.c_ts) AS BIGINT) AS n_clicks_prior_hour
FROM e LEFT JOIN c
  ON e.user_id = c.user_id
 AND c.c_ts <= e.e_ts AND c.c_ts > e.e_ts - 3600000
GROUP BY e.error_id, e.user_id, e.e_ts
"""

SQL["events_moving_stats"] = """
WITH e AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events)
SELECT user_id, event_id, ts_ms,
       CAST(SUM(CAST(value AS DECIMAL(27,10))) OVER w AS DOUBLE) AS mov_sum,
       CAST(SUM(CAST(value AS DECIMAL(27,10))) OVER w AS DOUBLE)
         / COUNT(*) OVER w AS mov_avg,
       MIN(value) OVER w AS mov_min,
       MAX(value) OVER w AS mov_max,
       COUNT(*) OVER w AS frame_n
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""

SQL["events_ohlc_bars"] = """
WITH e AS (
  SELECT epoch_ms(ts) AS ts_ms, event_id, event_type, value FROM events),
r AS (
  SELECT (ts_ms // 900000) * 900000 AS bar_start_ms, event_type, value,
         row_number() OVER (PARTITION BY ts_ms // 900000, event_type
                            ORDER BY ts_ms, event_id) AS rna,
         row_number() OVER (PARTITION BY ts_ms // 900000, event_type
                            ORDER BY ts_ms DESC, event_id DESC) AS rnd
  FROM e)
SELECT bar_start_ms, event_type,
       MAX(CASE WHEN rna = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rnd = 1 THEN value END) AS close,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) AS sum_value
FROM r GROUP BY 1, 2
"""

# gapfill + LOCF: same last-observation convention as the OHLC close
# (row_number desc), grid via generate_series, fill via IGNORE NULLS
SQL["events_gapfill_locf"] = """
WITH e AS (
  SELECT epoch_ms(ts) AS ts_ms, event_id, event_type, value FROM events),
r AS (
  SELECT event_type, (ts_ms // 900000) * 900000 AS b, value,
         row_number() OVER (PARTITION BY event_type, ts_ms // 900000
                            ORDER BY ts_ms DESC, event_id DESC) AS rn
  FROM e),
pb AS (
  SELECT event_type, b, MAX(CASE WHEN rn = 1 THEN value END) AS v_obs
  FROM r GROUP BY 1, 2),
bounds AS (
  SELECT event_type, MIN(b) AS lo, MAX(b) AS hi FROM pb GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, 900000)) AS b
  FROM bounds),
j AS (
  SELECT g.event_type, g.b, pb.v_obs
  FROM grid g LEFT JOIN pb ON g.event_type = pb.event_type AND g.b = pb.b)
SELECT event_type, b AS bucket_start_ms,
       last_value(v_obs IGNORE NULLS)
         OVER (PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS value_locf,
       v_obs IS NULL AS is_gap
FROM j
"""

# linear interpolation twin — identical expression ORDER to the Spark
# operator (prev + (next-prev)*frac) so doubles stay bit-exact
SQL["events_gapfill_interpolate"] = """
WITH e AS (
  SELECT epoch_ms(ts) AS ts_ms, event_id, event_type, value FROM events),
r AS (
  SELECT event_type, (ts_ms // 900000) * 900000 AS b, value,
         row_number() OVER (PARTITION BY event_type, ts_ms // 900000
                            ORDER BY ts_ms DESC, event_id DESC) AS rn
  FROM e),
pb AS (
  SELECT event_type, b, MAX(CASE WHEN rn = 1 THEN value END) AS v_obs
  FROM r GROUP BY 1, 2),
bounds AS (
  SELECT event_type, MIN(b) AS lo, MAX(b) AS hi FROM pb GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, 900000)) AS b
  FROM bounds),
j AS (
  SELECT g.event_type, g.b, pb.v_obs
  FROM grid g LEFT JOIN pb ON g.event_type = pb.event_type AND g.b = pb.b),
x AS (
  SELECT event_type, b, v_obs,
         last_value(v_obs IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         last_value(CASE WHEN v_obs IS NOT NULL THEN b END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_b,
         first_value(v_obs IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY b
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(CASE WHEN v_obs IS NOT NULL THEN b END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY b
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_b
  FROM j)
SELECT event_type, b AS bucket_start_ms,
       CASE WHEN v_obs IS NOT NULL THEN v_obs
            WHEN next_b IS NULL THEN prev_v
            ELSE prev_v + (next_v - prev_v)
                 * (CAST(b - prev_b AS DOUBLE)
                    / CAST(next_b - prev_b AS DOUBLE))
       END AS value_interp,
       v_obs IS NULL AS is_gap
FROM x
"""

# Per-series OLS trend: identical bucket alignment, zero-based bucket
# index and exact-decimal moments; same string-routed cast recipe.
SQL["events_trend_slope"] = """
WITH e AS (
  SELECT event_type, epoch_ms(ts) AS ts_ms, event_id, value
  FROM events),
p AS (
  SELECT event_type AS k, ts_ms // 3600000 AS bi,
         max_by(value, ts_ms * 1000000 + event_id) AS v
  FROM e GROUP BY 1, 2),
r AS (
  SELECT k,
         CAST(bi - MIN(bi) OVER (PARTITION BY k) AS DECIMAL(10,0)) AS t,
         CAST(round(v * 100.0) AS DECIMAL(10,0)) AS c
  FROM p),
g AS (
  SELECT k, COUNT(*) AS n,
         SUM(t) AS st, SUM(c) AS sx,
         SUM(t * t) AS stt, SUM(t * c) AS stx
  FROM r GROUP BY k)
SELECT k AS event_type, n,
       (CAST(CAST(stx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        - (CAST(CAST(st AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
          * (CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)))
       / (CAST(CAST(stt AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
          - (CAST(CAST(st AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(CAST(st AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)))
       / 100.0 AS slope_per_hour
FROM g
"""

# Pairs correlation matrix: identical bucket alignment (max_by last
# obs), unordered pair join and exact-decimal moments — bit-exact.
SQL["events_pair_correlation"] = """
WITH e AS (
  SELECT event_type, epoch_ms(ts) AS ts_ms, event_id, value
  FROM events),
p AS (
  SELECT event_type AS k, (ts_ms // 3600000) * 3600000 AS b,
         CAST(round(max_by(value, ts_ms * 1000000 + event_id) * 100.0)
              AS DECIMAL(10,0)) AS c
  FROM e GROUP BY 1, 2),
j AS (
  SELECT a.k AS ka, bb.k AS kb, a.c AS ca, bb.c AS cb
  FROM p a JOIN p bb ON a.b = bb.b AND a.k < bb.k),
g AS (
  SELECT ka, kb, COUNT(*) AS n,
         SUM(ca) AS sx, SUM(cb) AS sy,
         SUM(ca * ca) AS sxx, SUM(cb * cb) AS syy,
         SUM(ca * cb) AS sxy
  FROM j GROUP BY ka, kb)
SELECT ka, kb, n,
       ((CAST(CAST(sxy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
         - (CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)))
        / sqrt((CAST(CAST(sxx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)))
               * (CAST(CAST(syy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)))))
         AS corr
FROM g
"""

# Z-normalized subsequence search: identical window framing, z-norm
# and distance expression order; the query pattern z-normalizes to
# the same literals on both sides.
def _motif_oracle() -> str:
    m = 8
    pattern = [1.0, 2.0, 4.0, 8.0, 8.0, 4.0, 2.0, 1.0]
    mu = sum(pattern) / m
    sd = (sum((x - mu) ** 2 for x in pattern) / m) ** 0.5
    # string-routed literals: DuckDB types a bare decimal literal as
    # DECIMAL and the DECIMAL→DOUBLE hop is not exact (measured 1 ULP
    # on the z-normalized pattern); VARCHAR→DOUBLE parse is correctly
    # rounded (same lesson as the decimal casts in the verify skill)
    zq = ", ".join(f"CAST('{(x - mu) / sd!r}' AS DOUBLE)"
                   for x in pattern)
    # list_reduce (sequential left fold) — NOT list_sum, whose
    # accumulation order differs from Spark's aggregate() by 1 ULP
    red = "list_reduce({0}, (a, b) -> a + b)"
    return f"""
WITH e AS (
  SELECT event_type, epoch_ms(ts) AS ts_ms, event_id,
         CAST(value AS DOUBLE) AS value
  FROM events),
w AS (
  SELECT event_type, ts_ms,
         list(value) OVER (PARTITION BY event_type
                           ORDER BY ts_ms, event_id
                           ROWS BETWEEN CURRENT ROW AND {m - 1} FOLLOWING)
           AS win
  FROM e),
f AS (SELECT * FROM w WHERE len(win) = {m}),
z AS (
  SELECT event_type, ts_ms, win,
         {red.format('win')} / {float(m)} AS mu
  FROM f),
z2 AS (
  SELECT event_type, ts_ms, win, mu,
         sqrt({red.format('list_transform(win, x -> (x - mu) * (x - mu))')}
              / {float(m)}) AS sd
  FROM z
  WHERE sqrt({red.format('list_transform(win, x -> (x - mu) * (x - mu))')}
             / {float(m)}) > 0),
d AS (
  SELECT event_type, ts_ms AS win_start,
         sqrt({red.format("list_transform(list_zip(list_transform(win, x -> (x - mu) / sd), [" + zq + "]), p -> (p[1] - p[2]) * (p[1] - p[2]))")}) AS dist
  FROM z2)
SELECT event_type, win_start, dist, rn FROM (
  SELECT event_type, win_start, dist,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY dist, win_start) AS rn
  FROM d) WHERE rn <= 3
"""

SQL["events_motif_search"] = _motif_oracle()

# TWAP: exact cents×ms integer-decimal weighted sums; same string-
# routed casts and op order as the rest of the exact-moments family.
SQL["events_twap"] = """
WITH e AS (
  SELECT event_id, event_type, epoch_ms(ts) AS ts_ms, value
  FROM events),
r AS (
  SELECT event_type,
         CAST(round(value * 100.0) AS DECIMAL(10,0)) AS c,
         CAST(lead(ts_ms) OVER (PARTITION BY event_type
                                ORDER BY ts_ms, event_id) - ts_ms
              AS DECIMAL(12,0)) AS dur
  FROM e),
g AS (
  SELECT event_type, COUNT(*) AS n_intervals,
         SUM(c * dur) AS swv, SUM(dur) AS st
  FROM r WHERE dur IS NOT NULL GROUP BY event_type)
SELECT event_type, n_intervals, CAST(st AS BIGINT) AS span_ms,
       (CAST(CAST(swv AS VARCHAR) AS DOUBLE)
        / CAST(CAST(st AS VARCHAR) AS DOUBLE)) / 100.0 AS twap_value
FROM g
"""

# Z-score QC: identical exact-decimal moment sums (cents, cents²) and
# the identical fixed sequence of double ops, so means/stds/flags match
# bit-for-bit. s1/s2 cast to double via VARCHAR (correctly rounded on
# both engines at ANY magnitude; direct int128→double differs by 1 ULP
# past 2^53 — ADVICE r5), mirroring the Spark side's _dstr.
SQL["events_zscore_outliers"] = """
WITH r AS (
  SELECT event_type,
         CAST(round(value * 100.0) AS DECIMAL(10,0)) AS c
  FROM events),
g AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(c) AS s1, SUM(c * c) AS s2
  FROM r GROUP BY event_type),
st AS (
  SELECT event_type, n,
         CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         sqrt((CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
               - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                 * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)))
              / CAST(n AS DOUBLE)) AS s
  FROM g)
SELECT r.event_type,
       MIN(st.n) AS n_events,
       MIN(st.m) / 100.0 AS mean_value,
       MIN(st.s) / 100.0 AS std_value,
       COUNT(*) FILTER (WHERE abs((CAST(c AS DOUBLE) - st.m) / st.s) > 3.0)
         AS n_outliers,
       MAX(abs((CAST(c AS DOUBLE) - st.m) / st.s)) AS max_abs_z
FROM r JOIN st USING (event_type)
GROUP BY r.event_type
"""

# Closed-form EWMA, alpha = 0.5: identical scaled-cumsum formulation
# with the running sum in EXACT integer decimals (2-dp values × 2^rn)
# — order-independent, so it cannot depend on either engine's window
# sum fold order; with decay a power of two every remaining double op
# is a single correctly-rounded step, so values match bit-for-bit.
SQL["events_ewma_smooth"] = """
WITH e AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value FROM events),
r AS (
  SELECT event_id, user_id, ts_ms, value,
         CAST(round(value * 100.0) AS DECIMAL(6,0)) AS c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts_ms, event_id) AS rn
  FROM e),
s AS (
  SELECT event_id, user_id, ts_ms, value, rn,
         first_value(c) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS c1,
         SUM(c * (CAST(pow(2.0, rn // 2) AS DECIMAL(19,0))
                  * CAST(pow(2.0, rn - rn // 2) AS DECIMAL(19,0))))
           OVER (PARTITION BY user_id ORDER BY rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
  FROM r)
SELECT event_id, user_id, ts_ms, value,
       (0.5 * pow(0.5, rn)
        * (CAST(CAST(cs AS VARCHAR) AS DOUBLE)
           - CAST(c1 AS DOUBLE) * 2.0)
        + pow(0.5, rn - 1) * CAST(c1 AS DOUBLE)) / 100.0 AS ewma
FROM s
"""

# Rank-based median/MAD: the lower median is the value at
# row_number (n+1)//2 in value order — no interpolation, so every
# double is data-picked or one IEEE subtract/multiply away.
SQL["events_mad_outliers"] = """
WITH v AS (SELECT event_type, value,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value) AS rn
           FROM events),
med AS (SELECT event_type, value AS med FROM v WHERE rn = (n + 1) // 2),
d AS (SELECT v.event_type, v.value, med.med,
             abs(v.value - med.med) AS dev
      FROM v JOIN med USING (event_type)),
d2 AS (SELECT d.*, COUNT(*) OVER (PARTITION BY event_type) AS n,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn
       FROM d),
mad AS (SELECT event_type, dev AS mad FROM d2 WHERE rn = (n + 1) // 2)
SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       MAX(d.med) AS med, MAX(mad.mad) AS mad,
       CAST(COUNT(*) FILTER (WHERE d.dev > 3.0 * mad.mad) AS BIGINT)
         AS n_outliers
FROM d JOIN mad USING (event_type)
GROUP BY d.event_type
"""

# VARIANT round-trip: the oracle computes straight from the typed
# columns — matching means build→parse_json→variant_get lost nothing,
# doubles included.
SQL["events_variant_extract"] = f"""
SELECT event_type, COUNT(*) AS n_events,
       {_dsum('value')} AS sum_value,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       COUNT(DISTINCT user_id) AS n_sources
FROM events GROUP BY event_type
"""

# VWAP per (event_type, hour): weights via JSON payload extraction
# (the VARIANT path engine-side), decimal-summed weighted values,
# exact bigint denominator.
SQL["events_vwap"] = """
WITH e AS (
  SELECT event_type, (epoch_ms(ts) // 3600000) * 3600000 AS hour_start_ms,
         value, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type, hour_start_ms,
       COUNT(*) AS n_events,
       CAST(SUM(k) AS BIGINT) AS sum_qty,
       CASE WHEN SUM(k) > 0 THEN
         CAST(SUM(CAST(value * k AS DECIMAL(27,6))) AS DOUBLE)
           / CAST(SUM(k) AS DOUBLE) END AS vwap
FROM e GROUP BY event_type, hour_start_ms
"""

# Running-peak drawdown per series: cumulative max over the
# deterministic (ts_ms, event_id) order — no accumulation, bit-exact
# with zero decimal machinery.
SQL["events_drawdown"] = """
WITH e AS (
  SELECT event_type, epoch_ms(ts) AS ts_ms, event_id, value FROM events),
d AS (
  SELECT event_type, value,
         MAX(value) OVER (PARTITION BY event_type
                          ORDER BY ts_ms, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS peak
  FROM e)
SELECT event_type, COUNT(*) AS n_events,
       MAX(value) AS peak_value,
       MAX(peak - value) AS max_drawdown
FROM d GROUP BY event_type
"""

# Growth accounting: active / new / cumulative users per day — the
# running count-distinct re-expressed exactly via first-seen days.
SQL["events_user_growth"] = """
WITH e AS (
  SELECT user_id, (epoch_ms(ts) // 86400000) * 86400000
           AS day_start_ms
  FROM events),
active AS (
  SELECT day_start_ms, COUNT(DISTINCT user_id) AS n_active
  FROM e GROUP BY day_start_ms),
first AS (
  SELECT user_id, MIN(day_start_ms) AS day_start_ms
  FROM e GROUP BY user_id),
new AS (
  SELECT day_start_ms, COUNT(*) AS n_new FROM first
  GROUP BY day_start_ms)
SELECT a.day_start_ms, a.n_active,
       COALESCE(n.n_new, 0) AS n_new,
       CAST(SUM(COALESCE(n.n_new, 0)) OVER (
              ORDER BY a.day_start_ms
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_users
FROM active a LEFT JOIN new n USING (day_start_ms)
"""

# Cohort retention: day = epoch_ms // 86400000 (the
# events_user_growth grain — `//`/div agree on positive millis);
# exact BIGINT counts, one int/int double division.
SQL["events_cohort_retention"] = """
WITH ud AS (
  SELECT DISTINCT user_id AS u, epoch_ms(ts) // 86400000 AS d
  FROM events),
first AS (SELECT u, MIN(d) AS cohort FROM ud GROUP BY u),
sizes AS (SELECT cohort, COUNT(*) AS cohort_users
          FROM first GROUP BY cohort),
act AS (
  SELECT f.cohort, ud.d - f.cohort AS day_offset,
         COUNT(*) AS active_users
  FROM ud JOIN first f USING (u)
  GROUP BY f.cohort, ud.d - f.cohort)
SELECT CAST(a.cohort * 86400000 AS BIGINT) AS cohort_day_ms,
       CAST(a.day_offset AS BIGINT) AS day_offset,
       CAST(s.cohort_users AS BIGINT) AS cohort_users,
       CAST(a.active_users AS BIGINT) AS active_users,
       CAST(a.active_users AS DOUBLE) / CAST(s.cohort_users AS DOUBLE)
         AS retention
FROM act a JOIN sizes s USING (cohort)
"""

# Markov transitions: lag over (epoch_ms(ts), event_id) — the unique
# id totalizes the order, so counts are engine-independent; p is one
# exact-int double division.
SQL["events_markov_transitions"] = """
WITH p AS (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_ms(ts), event_id)
           AS prev_type
  FROM events),
c AS (SELECT prev_type, event_type, COUNT(*) AS n
      FROM p WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type),
t AS (SELECT prev_type, SUM(n) AS n_from FROM c GROUP BY prev_type)
SELECT c.prev_type, c.event_type,
       CAST(c.n AS BIGINT) AS n_transitions,
       CAST(c.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS p
FROM c JOIN t USING (prev_type)
"""

# CUSUM change-point: the argmax of |n*prefix_i - i*total| is exact
# decimal arithmetic (values quantized DECIMAL(27,6) — single
# rounding both engines; factors 27,6 x 10,0 keep the product <= 38
# digits, DuckDB's hard cap); magnitude = one string-routed
# exact/exact division. Ties -> smallest i.
SQL["events_cusum_changepoint"] = """
WITH d AS (
  SELECT event_type AS k,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY epoch_ms(ts), event_id) AS i,
         CAST(value AS DECIMAL(27,6)) AS v
  FROM events),
c AS (
  SELECT k, i,
         CAST(SUM(v) OVER (PARTITION BY k ORDER BY i) AS DECIMAL(27,6))
           AS prefix,
         CAST(SUM(v) OVER (PARTITION BY k) AS DECIMAL(27,6)) AS total,
         COUNT(*) OVER (PARTITION BY k) AS n
  FROM d),
s AS (
  SELECT k, n, i,
         ABS(CAST(n AS DECIMAL(10,0)) * prefix
             - CAST(i AS DECIMAL(10,0)) * total) AS dd
  FROM c),
m AS (
  SELECT k, n, dd, MIN(i) AS change_idx
  FROM (SELECT k, n, i, dd, MAX(dd) OVER (PARTITION BY k) AS dmax
        FROM s)
  WHERE dd = dmax GROUP BY k, n, dd)
SELECT k AS event_type, CAST(n AS BIGINT) AS n,
       CAST(change_idx AS BIGINT) AS change_idx,
       CAST(CAST(dd AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
         AS cusum_mag
FROM m
"""

# Bucket-grain CUSUM (r12): the streamable form of
# events_cusum_changepoint — identical decimal algebra evaluated only
# at hourly bucket END boundaries, change point reported as the START
# ms of the argmax bucket (ties -> earliest bucket). Bucketing is
# exact integer FLOOR division: DuckDB's `//` TRUNCATES toward zero
# (verified, duckdb 1.0.0) exactly like Spark's `div`, so BOTH sides
# apply the negative-remainder correction — a bare `//` here would
# silently diverge from the engine on pre-epoch timestamps.
SQL["events_cusum_bucketed"] = """
WITH d AS (
  SELECT event_type AS k,
         (epoch_ms(ts) // 3600000
          - CASE WHEN epoch_ms(ts) % 3600000 < 0 THEN 1 ELSE 0 END)
         * 3600000 AS b,
         CAST(value AS DECIMAL(27,6)) AS v
  FROM events),
g AS (
  SELECT k, b, COUNT(v) AS n_b, CAST(SUM(v) AS DECIMAL(27,6)) AS s_b
  FROM d GROUP BY k, b),
c AS (
  SELECT k, b, cum_n,
         CAST(SUM(s_b) OVER (PARTITION BY k ORDER BY b)
              AS DECIMAL(27,6)) AS prefix,
         CAST(SUM(s_b) OVER (PARTITION BY k) AS DECIMAL(27,6)) AS total,
         SUM(n_b) OVER (PARTITION BY k) AS n
  FROM (SELECT *, SUM(n_b) OVER (PARTITION BY k ORDER BY b) AS cum_n
        FROM g)),
s AS (
  SELECT k, n, b, cum_n,
         ABS(CAST(n AS DECIMAL(10,0)) * prefix
             - CAST(cum_n AS DECIMAL(10,0)) * total) AS dd
  FROM c),
m AS (
  SELECT k, n, dd AS dmax, MIN(b) AS change_b
  FROM (SELECT k, n, b, dd, MAX(dd) OVER (PARTITION BY k) AS dm FROM s)
  WHERE dd = dm GROUP BY k, n, dd)
SELECT m.k AS event_type, CAST(m.n AS BIGINT) AS n,
       CAST(m.change_b AS BIGINT) AS change_bucket_ms,
       CAST(s.cum_n AS BIGINT) AS change_cum_idx,
       CAST(CAST(m.dmax AS VARCHAR) AS DOUBLE) / CAST(m.n AS DOUBLE)
         AS cusum_mag
FROM m JOIN s ON m.k = s.k AND m.change_b = s.b
"""

# RFM segmentation (r12): quintile scores over total orders
# (metric, user_id); NTILE's equal-bucket-remainder-first rule is
# identical cross-engine; monetary ranks and sums on the exact
# decimal, string-routed to double at the end.
SQL["events_rfm_segments"] = """
WITH pu AS (
  SELECT user_id,
         MAX(epoch_ms(ts) // 86400000) AS last_day,
         COUNT(*) AS frequency,
         SUM(CAST(value AS DECIMAL(27,6))) AS monetary_d
  FROM events GROUP BY user_id),
mx AS (SELECT MAX(last_day) AS corpus_day FROM pu),
u AS (SELECT pu.*, (corpus_day - last_day) AS recency_days FROM pu, mx),
s AS (
  SELECT user_id, monetary_d,
         NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
         NTILE(5) OVER (ORDER BY frequency ASC, user_id) AS f_score,
         NTILE(5) OVER (ORDER BY monetary_d ASC, user_id) AS m_score
  FROM u)
SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(CAST(SUM(monetary_d) AS VARCHAR) AS DOUBLE) AS sum_monetary
FROM s GROUP BY 1
"""

# Session path mining: ms-floored timestamps on both engines (floor of
# the difference ≠ difference of floors, so BOTH floor per-row first),
# (ts_ms, event_id) total order everywhere, concat_ws skips NULLs on
# both engines, and the top-20 is ordered by the unique (count, path).
SQL["events_session_funnel_paths"] = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         epoch_us(ts) // 1000 AS ts_ms
  FROM events
), marked AS (
  SELECT user_id, event_type, ts_ms, event_id,
         CASE WHEN lag(ts_ms) OVER w IS NULL THEN 1
              WHEN ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1
              ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
), sess AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
                             ORDER BY ts_ms, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM marked
), rn AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, sess
                               ORDER BY ts_ms, event_id) AS rn
  FROM sess
), paths AS (
  SELECT user_id, sess,
         concat_ws('>',
                   MAX(CASE WHEN rn = 1 THEN event_type END),
                   MAX(CASE WHEN rn = 2 THEN event_type END),
                   MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
  FROM rn WHERE rn <= 3 GROUP BY user_id, sess
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
"""

# User-grain co-occurrence lift: exact counts over DISTINCT
# (user, type); lift as (n_both·n_users)/(n_a·n_b) — the identical
# two-products-one-division tree (no intermediate support rounding).
SQL["events_type_cooccurrence_lift"] = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
), tot AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_users FROM ut
), per_type AS (
  SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type
), pr AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b,
         COUNT(*) AS n_both
  FROM ut x JOIN ut y ON x.user_id = y.user_id
                     AND x.event_type < y.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b,
       CAST(n_both AS BIGINT) AS n_both,
       CAST(a.n AS BIGINT) AS n_a,
       CAST(b.n AS BIGINT) AS n_b,
       CAST(n_both AS DOUBLE) / n_users AS support,
       CAST(n_both AS DOUBLE) * n_users
       / (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)) AS lift
FROM pr
JOIN per_type a ON a.event_type = type_a
JOIN per_type b ON b.event_type = type_b
CROSS JOIN tot
"""

# Rolling 7-day distinct active users: DISTINCT is not frameable in
# either engine's window frames, so both sides run the grid-explode
# form — distinct (user, day), explode the ≤7 contributed days,
# re-distinct, count. Integer day arithmetic (// on positives ≡ div).
SQL["events_rolling_active_users"] = """
WITH e AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day_num FROM events
), ud AS (
  SELECT DISTINCT user_id, day_num FROM e
), contrib AS (
  SELECT DISTINCT user_id, day_num + d AS day_num
  FROM ud, unnest(range(0, 7)) AS t(d)
), rolling AS (
  SELECT day_num, COUNT(*) AS n_active_users
  FROM contrib GROUP BY day_num
), per_day AS (
  SELECT day_num, COUNT(*) AS n_events_day FROM e GROUP BY day_num
)
SELECT CAST(p.day_num AS BIGINT) AS day_num,
       CAST(r.n_active_users AS BIGINT) AS n_active_users,
       CAST(p.n_events_day AS BIGINT) AS n_events_day
FROM per_day p JOIN rolling r ON p.day_num = r.day_num
"""

# Conversion latency quantiles: exact BIGINT ms latencies, exact
# lower-quantile elements at rank ceil(qn) over a (latency, user)
# total order, exact-decimal mean through the VARCHAR hop.
SQL["events_conversion_latency"] = """
WITH fv AS (
  SELECT user_id, MIN(epoch_ms(ts)) AS v_ts
  FROM events WHERE event_type = 'view' GROUP BY user_id
), conv AS (
  SELECT e.user_id,
         MIN(epoch_ms(e.ts)) - MIN(fv.v_ts) AS lat
  FROM events e JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= fv.v_ts
  GROUP BY e.user_id
), r AS (
  SELECT user_id, lat,
         row_number() OVER (ORDER BY lat, user_id) AS rk,
         COUNT(*) OVER () AS n
  FROM conv
)
SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
       CAST(MAX(CASE WHEN rk = (n + 1) // 2 THEN lat END) AS BIGINT)
         AS median_latency_ms,
       CAST(MAX(CASE WHEN rk = (9 * n + 9) // 10 THEN lat END)
            AS BIGINT) AS p90_latency_ms,
       CAST(CAST(SUM(CAST(lat AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
         / CAST(MAX(n) AS DOUBLE) AS mean_latency_ms
FROM r
HAVING COUNT(*) > 0
"""

# Mann-Whitney U on the value-grain histogram: exact DECIMAL(38,0)
# integer arithmetic for 2U / m·n / the tie term, string-routed
# double hops, one fixed IEEE z tree (sqrt is correctly rounded on
# both engines), mirrored positivity guard.
SQL["events_mannwhitney_value_test"] = """
WITH h AS (
  SELECT value,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_b
  FROM events
  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
  GROUP BY value
), g AS (
  SELECT n_a, n_b,
         COALESCE(SUM(n_b) OVER (ORDER BY value
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_b
  FROM h
), a AS (
  SELECT SUM(n_a) AS m, SUM(n_b) AS n,
         SUM(CAST(n_a AS DECIMAL(38,0))
             * (2 * CAST(cum_b AS DECIMAL(38,0))
                + CAST(n_b AS DECIMAL(38,0)))) AS u2,
         SUM(CAST(n_a + n_b AS DECIMAL(38,0))
             * CAST(n_a + n_b AS DECIMAL(38,0))
             * CAST(n_a + n_b AS DECIMAL(38,0))
             - CAST(n_a + n_b AS DECIMAL(38,0))) AS ties
  FROM g
), b AS (
  SELECT m, n, u2, ties,
         CAST(m AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) AS mn,
         CAST(m + n AS DECIMAL(38,0))
           * CAST(m + n - 1 AS DECIMAL(38,0)) AS nn1
  FROM a
)
SELECT CAST(m AS BIGINT) AS n_click,
       CAST(n AS BIGINT) AS n_view,
       CAST(CAST(u2 AS VARCHAR) AS DOUBLE) AS u2_statistic,
       CASE WHEN m > 0 AND n > 0
             AND CAST(CAST(mn AS VARCHAR) AS DOUBLE) / 12.0
                 * (CAST(m + n + 1 AS DOUBLE)
                    - CAST(CAST(ties AS VARCHAR) AS DOUBLE)
                      / CAST(CAST(nn1 AS VARCHAR) AS DOUBLE)) > 0
       THEN
         (CAST(CAST(u2 AS VARCHAR) AS DOUBLE)
          - CAST(CAST(mn AS VARCHAR) AS DOUBLE))
         / (2.0 * sqrt(CAST(CAST(mn AS VARCHAR) AS DOUBLE) / 12.0
                       * (CAST(m + n + 1 AS DOUBLE)
                          - CAST(CAST(ties AS VARCHAR) AS DOUBLE)
                            / CAST(CAST(nn1 AS VARCHAR) AS DOUBLE))))
       END AS z_score
FROM b
"""

# Growth accounting: distinct (user, day), per-user lag window,
# day-grain conditional counts, day-shifted self-join for the churn
# identity; pure integer arithmetic, every count CAST to BIGINT.
SQL["events_user_growth_accounting"] = """
WITH ud AS (
  SELECT DISTINCT user_id AS u, epoch_ms(ts) // 86400000 AS d
  FROM events
), lagged AS (
  SELECT u, d, lag(d) OVER (PARTITION BY u ORDER BY d) AS prev_d
  FROM ud
), per_day AS (
  SELECT d,
         COUNT(*) AS n_active,
         SUM(CASE WHEN prev_d IS NULL THEN 1 ELSE 0 END) AS n_new,
         SUM(CASE WHEN prev_d = d - 1 THEN 1 ELSE 0 END)
           AS n_retained,
         SUM(CASE WHEN prev_d < d - 1 THEN 1 ELSE 0 END)
           AS n_resurrected
  FROM lagged GROUP BY d
)
SELECT CAST(p.d AS BIGINT) AS day_num,
       CAST(p.n_active AS BIGINT) AS n_active,
       CAST(p.n_new AS BIGINT) AS n_new,
       CAST(p.n_retained AS BIGINT) AS n_retained,
       CAST(p.n_resurrected AS BIGINT) AS n_resurrected,
       CAST(COALESCE(q.n_active, 0) - p.n_retained AS BIGINT)
         AS n_churned_from_prev
FROM per_day p
LEFT JOIN per_day q ON q.d = p.d - 1
"""


# Hour-of-day seasonality: exact bucket counts, chi-square against
# uniform via the 24*sum(o^2)/n - n identity (empty cells absorbed),
# peak tie broken to the smallest hour.
SQL["events_hourly_seasonality"] = """
WITH e AS (
  SELECT event_type, (epoch_ms(ts) // 3600000) % 24 AS hour
  FROM events
), h AS (
  SELECT event_type, hour, COUNT(*) AS n_h FROM e GROUP BY 1, 2
), a AS (
  SELECT event_type, SUM(n_h) AS n,
         SUM(CAST(n_h AS DECIMAL(19,0))
             * CAST(n_h AS DECIMAL(19,0))) AS ssq,
         MAX(n_h) AS pc
  FROM h GROUP BY event_type
), pk AS (
  SELECT h.event_type, MIN(h.hour) AS peak_hour
  FROM h JOIN a ON h.event_type = a.event_type AND h.n_h = a.pc
  GROUP BY h.event_type
)
SELECT a.event_type,
       CAST(n AS BIGINT) AS n_events,
       CAST(peak_hour AS BIGINT) AS peak_hour,
       CAST(pc AS DOUBLE) / CAST(n AS DOUBLE) AS peak_share,
       24.0 * CAST(CAST(ssq AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
         - CAST(n AS DOUBLE) AS chi2_uniform
FROM a JOIN pk USING (event_type)
"""


# Kruskal-Wallis H over the (g, x, c) value histogram: doubled
# average ranks exact, per-group rank sums exact decimal, the
# (N+1)(12S-3) identity keeps summed terms in (0,1] through
# DECIMAL(27,12) (the HHI share-space device), Mann-Whitney's exact
# tie term, mirrored op order and guards.
SQL["events_kruskal_value_test"] = """
WITH b AS (
  SELECT event_type AS g, value AS x FROM events
  WHERE value IS NOT NULL
), st AS (
  SELECT g, x, COUNT(*) AS c FROM b GROUP BY g, x
), hist AS (
  SELECT x, SUM(c) AS n_v FROM st GROUP BY x
), r2map AS (
  SELECT x,
         CAST(2 * COALESCE(SUM(n_v) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + n_v + 1 AS DECIMAL(18,0)) AS r2
  FROM hist
), ties AS (
  SELECT SUM(CAST(n_v AS DECIMAL(12,0)) * CAST(n_v AS DECIMAL(12,0))
             * CAST(n_v AS DECIMAL(12,0))
             - CAST(n_v AS DECIMAL(12,0))) AS tie_term,
         SUM(n_v) AS n_total
  FROM hist
), per_g AS (
  SELECT g, SUM(c) AS n_g,
         SUM(CAST(c AS DECIMAL(13,0)) * r2) AS r2g
  FROM st JOIN r2map USING (x) GROUP BY g
), t AS (
  SELECT per_g.g, per_g.n_g, per_g.r2g, ties.tie_term, ties.n_total
  FROM per_g CROSS JOIN ties
), s2 AS (
  SELECT n_total, tie_term, COUNT(*) AS k_groups,
         SUM(CAST(
           CAST(n_g AS DOUBLE) / CAST(n_total AS DOUBLE)
           * ((CAST(CAST(r2g AS VARCHAR) AS DOUBLE)
               / (2.0 * CAST(n_g AS DOUBLE)))
              / (CAST(n_total AS DOUBLE) + 1.0))
           * ((CAST(CAST(r2g AS VARCHAR) AS DOUBLE)
               / (2.0 * CAST(n_g AS DOUBLE)))
              / (CAST(n_total AS DOUBLE) + 1.0))
           AS DECIMAL(27,12))) AS s_sum
  FROM t GROUP BY n_total, tie_term
), f AS (
  SELECT n_total, tie_term, k_groups,
         (CAST(n_total AS DOUBLE) + 1.0)
           * (12.0 * CAST(CAST(s_sum AS VARCHAR) AS DOUBLE) - 3.0)
           AS h,
         1.0 - CAST(CAST(tie_term AS VARCHAR) AS DOUBLE)
             / CAST(CAST(CAST(n_total AS DECIMAL(12,0))
                          * CAST(n_total AS DECIMAL(12,0))
                          * CAST(n_total AS DECIMAL(12,0))
                          - CAST(n_total AS DECIMAL(36,0))
                          AS VARCHAR) AS DOUBLE) AS c_corr
  FROM s2
)
SELECT CAST(n_total AS BIGINT) AS n_total,
       CAST(k_groups AS BIGINT) AS k_groups,
       CASE WHEN n_total > 0 AND k_groups > 1 THEN h END
         AS h_statistic,
       CASE WHEN n_total > 0 AND k_groups > 1 AND c_corr > 0
            THEN h / c_corr END AS h_tie_corrected
FROM f
"""


# Two-proportion z-test: user-grain incidence from one distinct
# aggregate, exact counts, pooled-variance fixed IEEE tree.
SQL["events_purchase_rate_ztest"] = """
WITH pu AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS hc,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS hp
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY user_id
), u AS (
  SELECT DISTINCT user_id FROM events
), j AS (
  SELECT COALESCE(hc, 0) AS hc, COALESCE(hp, 0) AS hp
  FROM u LEFT JOIN pu USING (user_id)
), a AS (
  SELECT SUM(hc) AS n1, SUM(hc * hp) AS x1,
         SUM(1 - hc) AS n2, SUM((1 - hc) * hp) AS x2
  FROM j
), f AS (
  SELECT n1, n2,
         CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
         CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
         (CAST(x1 AS DOUBLE) + CAST(x2 AS DOUBLE))
           / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) AS pp
  FROM a
)
SELECT CAST(n1 AS BIGINT) AS n_clickers,
       CAST(n2 AS BIGINT) AS n_nonclickers,
       CASE WHEN n1 > 0 THEN p1 END AS rate_clickers,
       CASE WHEN n2 > 0 THEN p2 END AS rate_nonclickers,
       CASE WHEN n1 > 0 AND n2 > 0 AND pp > 0 AND pp < 1
            THEN (p1 - p2)
                 / sqrt(pp * (1.0 - pp)
                        * (1.0 / CAST(n1 AS DOUBLE)
                           + 1.0 / CAST(n2 AS DOUBLE))) END AS z_score
FROM f
"""
