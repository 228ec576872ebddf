"""Custom stateful streaming operators as ``applyInPandasWithState``
(SURVEY.md §2.10: the engine's arbitrary-stateful surface): per-key
gap fill, EWMA, drawdown, TWAP, motif alerts, session paths and
conversion latency. Each keeps a few scalars (or a bounded window) of
state per key in the state store, partitioned by the grouping key.

The per-key functions are built as CLOSURES (``_make_*``) so
cloudpickle serializes them by value: Spark's Python workers don't
have this package on their import path when the driver runs from
another cwd, and a module-level function would pickle by reference and
fail with ModuleNotFoundError on the worker.

NOTE on eviction: this build of Spark (4.1.2 local) deadlocks any
``applyInPandasWithState`` query using ``ProcessingTimeTimeout`` (the
timeout-processing pass hangs the state commit; reproduced with a
trivial no-op function — upstream bug, not these operators), so no
operator here evicts idle keys on a processing-time timer; their
state stays bounded by distinct keys. On a cluster build where the
timeout path works, an operator that needs idle-key eviction switches
``timeoutConf`` to it and drops state via ``state.remove()`` on
``hasTimedOut``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

GAPFILL_STATE_SCHEMA = T.StructType([
    T.StructField("last_bucket", T.LongType()),
    T.StructField("last_value", T.DoubleType()),
])

GAPFILL_OUTPUT_SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("bucket_start_ms", T.LongType()),
    T.StructField("value_locf", T.DoubleType()),
    T.StructField("is_gap", T.BooleanType()),
])


def _make_gap_fill(step_ms: int, mode: str):
    """Per-key streaming gap fill (a closure, see the module docstring).

    State per key: (last emitted bucket, its value). Each batch emits
    the dense grid from the bucket after the state up to the batch's
    newest observation. ``mode``:

    - ``locf``: gaps carry the stored value forward.
    - ``interpolate``: gaps get the linear blend between the stored
      observation and the one CLOSING the gap. Emission is already
      deferred until a later observation arrives, so — unlike the
      batch operator, where trailing gaps need an LOCF fallback —
      streaming interpolation is causally sound by construction: a
      gap row is only ever emitted when both endpoints are known.

    Observations at-or-before the already-emitted grid head are
    DROPPED (the append-mode analog of a watermark: emitted grid rows
    are immutable). Gaps after the newest observation stay unemitted
    until a later observation closes them — idle-key fill-to-now needs
    the timer path, which this Spark build's deadlock rules out (the
    module's NOTE on eviction).
    """

    def gap_fill(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
                 ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        k = key[0]
        last_b, last_v = state.get if state.exists else (None, None)
        obs: dict[int, float] = {}
        best_ts: dict[int, int] = {}
        for pdf in pdfs:
            for _, row in pdf.iterrows():
                ts = int(row["ts_ms"])
                b = (ts // step_ms) * step_ms
                if b not in best_ts or ts >= best_ts[b]:
                    best_ts[b] = ts
                    obs[b] = float(row["v"])
        out = []
        for b in sorted(obs):
            if last_b is not None and b <= last_b:
                continue  # late data older than the emitted grid head
            if last_b is not None:
                g = last_b + step_ms
                while g < b:
                    if mode == "interpolate":
                        frac = float(g - last_b) / float(b - last_b)
                        fill = last_v + (obs[b] - last_v) * frac
                    else:
                        fill = last_v
                    out.append((k, g, fill, True))
                    g += step_ms
            out.append((k, b, obs[b], False))
            last_b, last_v = b, obs[b]
        if out:
            state.update((last_b, last_v))
            yield _pd.DataFrame(
                out, columns=["k", "bucket_start_ms", "value_locf", "is_gap"])

    return gap_fill


def streaming_gap_fill(stream: DataFrame, key_col: str, ts_ms_col: str,
                       value_col: str, step_ms: int,
                       mode: str = "locf") -> DataFrame:
    """Streaming twin of ``operators/timeseries.gap_fill_locf`` /
    ``gap_fill_interpolate``: a live dense per-key grid, gaps filled as
    observations arrive (``mode`` = ``locf`` or ``interpolate``).

    The batch operators regularize history; this emits the same rows
    incrementally (append-mode change stream of grid buckets), so a
    downstream bar consumer never sees holes. State is two scalars per
    key — far below the state-store's per-key overhead floor.
    """
    if mode not in ("locf", "interpolate"):
        raise ValueError(f"unknown gap-fill mode: {mode}")
    keyed = stream.select(
        F.col(key_col).cast("string").alias("k"),
        F.col(ts_ms_col).cast("long").alias("ts_ms"),
        F.col(value_col).cast("double").alias("v"))
    return (
        keyed.groupBy("k")
        .applyInPandasWithState(
            _make_gap_fill(int(step_ms), mode),
            outputStructType=GAPFILL_OUTPUT_SCHEMA,
            stateStructType=GAPFILL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


def streaming_gap_fill_locf(stream: DataFrame, key_col: str,
                            ts_ms_col: str, value_col: str,
                            step_ms: int) -> DataFrame:
    """LOCF-mode alias of :func:`streaming_gap_fill`."""
    return streaming_gap_fill(stream, key_col, ts_ms_col, value_col,
                              step_ms, mode="locf")


EWMA_STATE_SCHEMA = T.StructType([
    T.StructField("last_ts", T.LongType()),
    T.StructField("last_y", T.DoubleType()),
])

EWMA_OUTPUT_SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("ts_ms", T.LongType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("ewma", T.DoubleType()),
])


def _make_ewma(alpha: float):
    """Per-key streaming EWMA (a closure, see the module docstring).

    The EXACT recursion y_t = alpha*x_t + (1-alpha)*y_{t-1} with two
    scalars of state per key — the unbounded-series path the batch
    closed form (operators/timeseries.ewma) points to: no scale
    factors, no series-length limit, numerically the textbook fold.
    In-batch rows apply in (ts, arrival) order; rows at-or-before the
    last consumed timestamp are DROPPED (emitted smoothed values are
    immutable, the append-mode analog of a watermark).
    """

    def smooth(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
               ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        k = key[0]
        last_ts, last_y = state.get if state.exists else (None, None)
        out = []
        rows = []
        for pdf in pdfs:
            for _, row in pdf.iterrows():
                rows.append((int(row["ts_ms"]), float(row["v"])))
        # stable sort on ts ONLY: a bare tuple sort would tiebreak
        # on the VALUE, consuming the wrong row for same-ts ticks —
        # the contract is (ts, arrival) order (review catch)
        rows.sort(key=lambda r: r[0])
        for ts, v in rows:
            if last_ts is not None and ts <= last_ts:
                continue
            last_y = v if last_y is None else (
                alpha * v + (1.0 - alpha) * last_y)
            last_ts = ts
            out.append((k, ts, v, last_y))
        if out:
            state.update((last_ts, last_y))
            yield _pd.DataFrame(
                out, columns=["k", "ts_ms", "value", "ewma"])

    return smooth


def streaming_ewma(stream: DataFrame, key_col: str, ts_ms_col: str,
                   value_col: str, alpha: float = 0.5) -> DataFrame:
    """Streaming twin of ``operators/timeseries.ewma``: the exact
    sequential recursion over the live stream, two scalars of state
    per key, no series-length bound — use this where the batch closed
    form's scale factors would overflow. Batch↔streaming equivalence
    is tested row-exact for in-order arrival."""
    keyed = stream.select(
        F.col(key_col).cast("string").alias("k"),
        F.col(ts_ms_col).cast("long").alias("ts_ms"),
        F.col(value_col).cast("double").alias("v"))
    return (
        keyed.groupBy("k")
        .applyInPandasWithState(
            _make_ewma(float(alpha)),
            outputStructType=EWMA_OUTPUT_SCHEMA,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


DRAWDOWN_STATE_SCHEMA = T.StructType([
    T.StructField("last_ts", T.LongType()),
    T.StructField("peak", T.DoubleType()),
])

DRAWDOWN_OUTPUT_SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("ts_ms", T.LongType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("peak", T.DoubleType()),
    T.StructField("dd", T.DoubleType()),
])


def _make_drawdown():
    """Per-key streaming running-peak drawdown (a closure, see
    the module docstring). State is TWO scalars: the last consumed
    timestamp and the running peak. max() and subtraction are exact,
    so the streamed (peak, dd) rows are BIT-IDENTICAL to the batch
    cumulative-max window (events_drawdown) for in-order arrival —
    no decimal machinery needed, unlike the summing twins. Same
    contract as the EWMA twin: in-batch rows apply in (ts, arrival)
    order; rows at-or-before the last consumed timestamp drop
    (emitted rows are immutable)."""

    def track(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
              ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        k = key[0]
        last_ts, peak = state.get if state.exists else (None, None)
        rows = []
        for pdf in pdfs:
            for _, row in pdf.iterrows():
                rows.append((int(row["ts_ms"]), float(row["v"])))
        rows.sort(key=lambda r: r[0])   # stable: (ts, arrival) order
        out = []
        for ts, v in rows:
            if last_ts is not None and ts <= last_ts:
                continue
            peak = v if peak is None else max(peak, v)
            last_ts = ts
            out.append((k, ts, v, peak, peak - v))
        if out:
            state.update((last_ts, peak))
            yield _pd.DataFrame(
                out, columns=["k", "ts_ms", "value", "peak", "dd"])

    return track


def streaming_drawdown(stream: DataFrame, key_col: str, ts_ms_col: str,
                       value_col: str) -> DataFrame:
    """Streaming twin of ``events_drawdown``: per-key running peak
    and drawdown over the live stream, two scalars of state, emitted
    per row in append mode. Batch↔streaming bit-equality is tested
    across micro-batch splits (max/subtract are exact ops)."""
    keyed = stream.select(
        F.col(key_col).cast("string").alias("k"),
        F.col(ts_ms_col).cast("long").alias("ts_ms"),
        F.col(value_col).cast("double").alias("v"))
    return (
        keyed.groupBy("k")
        .applyInPandasWithState(
            _make_drawdown(),
            outputStructType=DRAWDOWN_OUTPUT_SCHEMA,
            stateStructType=DRAWDOWN_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


TWAP_STATE_SCHEMA = T.StructType([
    T.StructField("last_ts", T.LongType()),
    T.StructField("last_v", T.DoubleType()),
    T.StructField("open_b", T.LongType()),
    T.StructField("open_num", T.DoubleType()),
    T.StructField("open_den", T.LongType()),
])

TWAP_OUTPUT_SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("bucket_start_ms", T.LongType()),
    T.StructField("twap", T.DoubleType()),
    T.StructField("covered_ms", T.LongType()),
])


def _make_twap(bucket_ms: int):
    """Per-key streaming TWAP (a closure, see the module docstring).

    Each observation HOLDS until the next one (the batch events_twap
    convention); segments split at bucket boundaries and accumulate
    value×duration per bucket. A bucket emits exactly once, when an
    observation at-or-past its end closes it — so emitted bars are
    final (append-mode semantics) and cross-batch gaps are handled:
    a long silent stretch emits every spanned bucket at the held
    value the moment the closing observation arrives. State per key
    is five scalars: the held observation + the open bucket's
    partial accumulator. Late rows at-or-before the consumed head
    are dropped.
    """

    def twap_fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
                ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        k = key[0]
        if state.exists:
            last_ts, last_v, open_b, open_num, open_den = state.get
        else:
            last_ts = last_v = open_b = None
            open_num = 0.0
            open_den = 0
        rows = []
        for pdf in pdfs:
            for _, r in pdf.iterrows():
                rows.append((int(r["ts_ms"]), float(r["v"])))
        # stable sort on ts ONLY: a bare tuple sort would tiebreak
        # on the VALUE, consuming the wrong row for same-ts ticks —
        # the contract is (ts, arrival) order (review catch)
        rows.sort(key=lambda r: r[0])
        out = []
        for ts, v in rows:
            if last_ts is not None and ts <= last_ts:
                continue  # emitted bars are immutable
            if last_ts is None:
                open_b = (ts // bucket_ms) * bucket_ms
            else:
                # the held value covers [last_ts, ts): walk buckets
                seg_start = last_ts
                while seg_start < ts:
                    b = (seg_start // bucket_ms) * bucket_ms
                    seg_end = min(ts, b + bucket_ms)
                    if open_b is None or b != open_b:
                        open_b, open_num, open_den = b, 0.0, 0
                    open_num += last_v * (seg_end - seg_start)
                    open_den += seg_end - seg_start
                    if seg_end == b + bucket_ms:
                        out.append((k, open_b, open_num / open_den,
                                    open_den))
                        open_b, open_num, open_den = (b + bucket_ms,
                                                      0.0, 0)
                    seg_start = seg_end
            last_ts, last_v = ts, v
        state.update((last_ts, last_v, open_b, open_num, open_den))
        if out:
            yield _pd.DataFrame(
                out, columns=["k", "bucket_start_ms", "twap",
                              "covered_ms"])

    return twap_fn


def streaming_twap(stream: DataFrame, key_col: str, ts_ms_col: str,
                   value_col: str, bucket_ms: int) -> DataFrame:
    """Streaming twin of the batch TWAP (events_twap): per-key
    bucketed time-weighted averages emitted as bars close — each
    exactly once, final, with gaps across micro-batches filled at
    the held value when the closing observation arrives."""
    keyed = stream.select(
        F.col(key_col).cast("string").alias("k"),
        F.col(ts_ms_col).cast("long").alias("ts_ms"),
        F.col(value_col).cast("double").alias("v"))
    return (
        keyed.groupBy("k")
        .applyInPandasWithState(
            _make_twap(int(bucket_ms)),
            outputStructType=TWAP_OUTPUT_SCHEMA,
            stateStructType=TWAP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


MOTIF_STATE_SCHEMA = T.StructType([
    T.StructField("ts_tail", T.ArrayType(T.LongType())),
    T.StructField("v_tail", T.ArrayType(T.DoubleType())),
])

MOTIF_OUTPUT_SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("win_start_ms", T.LongType()),
    T.StructField("dist", T.DoubleType()),
])


def _make_motif_alerts(pattern: list, threshold: float):
    """Per-key streaming motif detector (a closure, see
    the module docstring). State: the last m-1 (ts, value) pairs —
    bounded regardless of stream length. Each arriving tick completes
    the window ending at it; windows z-normalize and score against
    the z-normalized pattern exactly like the batch operator
    (batch↔streaming agreement tested), and only windows with
    dist <= threshold emit — the alert stream. Zero-variance windows
    never alert. Late rows at-or-before the consumed head drop."""
    from ..operators.timeseries import znorm_pattern
    m = len(pattern)
    zq = znorm_pattern(pattern)   # shared: raises on constant patterns

    def detect(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
               ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        k = key[0]
        ts_tail, v_tail = state.get if state.exists else ([], [])
        tail = list(zip(ts_tail, v_tail))
        rows = []
        for pdf in pdfs:
            for _, r in pdf.iterrows():
                rows.append((int(r["ts_ms"]), float(r["v"])))
        rows.sort(key=lambda r: r[0])
        last_ts = tail[-1][0] if tail else None
        out = []
        for ts, v in rows:
            if last_ts is not None and ts <= last_ts:
                continue
            tail.append((ts, v))
            last_ts = ts
            if len(tail) >= m:
                win = tail[-m:]
                vs = [x for _, x in win]
                mu = sum(vs) / m
                var = sum((x - mu) ** 2 for x in vs) / m
                if var > 0:
                    sd = var ** 0.5
                    d2 = 0.0
                    for x, q in zip(vs, zq):
                        z = (x - mu) / sd
                        d2 += (z - q) * (z - q)
                    dist = d2 ** 0.5
                    if dist <= threshold:
                        out.append((k, win[0][0], dist))
            tail = tail[-(m - 1):]
        state.update(([t for t, _ in tail], [x for _, x in tail]))
        if out:
            yield _pd.DataFrame(
                out, columns=["k", "win_start_ms", "dist"])

    return detect


def streaming_motif_alerts(stream: DataFrame, key_col: str,
                           ts_ms_col: str, value_col: str,
                           pattern: list, threshold: float) -> DataFrame:
    """Streaming twin of ``subsequence_search``, thresholded: emit an
    alert whenever a key's last len(pattern) ticks move like the
    query pattern (z-normalized distance <= threshold) — including
    windows that SPAN micro-batches (the state carries the m-1 tail).
    The continuous form of "find where the series moved like this"."""
    keyed = stream.select(
        F.col(key_col).cast("string").alias("k"),
        F.col(ts_ms_col).cast("long").alias("ts_ms"),
        F.col(value_col).cast("double").alias("v"))
    return (
        keyed.groupBy("k")
        .applyInPandasWithState(
            _make_motif_alerts([float(x) for x in pattern],
                               float(threshold)),
            outputStructType=MOTIF_OUTPUT_SCHEMA,
            stateStructType=MOTIF_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


SESSION_PATH_STATE_SCHEMA = T.StructType([
    T.StructField("last_ts", T.LongType()),
    T.StructField("n_rows", T.LongType()),
    T.StructField("t1", T.StringType()),
    T.StructField("t2", T.StringType()),
    T.StructField("t3", T.StringType()),
])

SESSION_PATH_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("session_last_ts", T.LongType()),
])


def _make_session_paths(gap_ms: int):
    """Per-user streaming session-path miner (a closure, see
    the module docstring). State is the OPEN session only: its last
    event timestamp, its row count, and its first three event types.
    A session CLOSES two ways, each emitting its opening path exactly
    once:

    - data-driven: a new event for the user arrives more than
      ``gap_ms`` after the open session's last event (the batch
      query's strict-``>`` gap rule verbatim) — the old session's
      path emits and the event starts a fresh session;
    - watermark-driven: the event-time timeout fires once the
      watermark passes last_ts + gap_ms with no bridging event — the
      open session can never be extended (any extender would be a
      late event beyond the gap), so its path emits and state clears.

    Same arrival contract as the EWMA/drawdown twins: in-batch rows
    apply in (ts, event_id) order; cross-batch arrival must be
    in-order for bit-equality with the batch sessionization (the
    prefix-completeness test drives a time-ordered split). Paths are
    '>'-joined first-three types — identical to the batch
    concat_ws('>') including the <3-event truncation."""

    def mine(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
             ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        user = key[0]
        out = []

        def emit(last_ts, n_rows, t1, t2, t3):
            path = ">".join([t for t in (t1, t2, t3) if t is not None])
            out.append((user, path, int(last_ts)))

        if state.hasTimedOut:
            if state.exists:
                emit(*state.get)
                state.remove()
            if out:
                yield _pd.DataFrame(
                    out, columns=["user_id", "path", "session_last_ts"])
            return

        cur = list(state.get) if state.exists else None
        rows = []
        for pdf in pdfs:
            for _, row in pdf.iterrows():
                rows.append((int(row["ts_ms"]), str(row["event_id"]),
                             str(row["event_type"])))
        rows.sort(key=lambda r: (r[0], r[1]))
        for ts, _eid, etype in rows:
            if cur is None:
                cur = [ts, 1, etype, None, None]
            elif ts - cur[0] > gap_ms:
                emit(*cur)
                cur = [ts, 1, etype, None, None]
            else:
                cur[0] = max(cur[0], ts)
                cur[1] += 1
                if cur[1] == 2:
                    cur[3] = etype
                elif cur[1] == 3:
                    cur[4] = etype
        if cur is not None:
            close_at = int(cur[0]) + gap_ms
            if close_at < state.getCurrentWatermarkMs():
                # the watermark has ALREADY passed the open session's
                # close (this user's events lag the global max event
                # time, so a big micro-batch can advance the watermark
                # past them in one step — load/batching dependent).
                # Spark rejects a timeout below the watermark
                # (INVALID_TIMEOUT_TIMESTAMP, seen live under a loaded
                # host); the timeout would have fired immediately
                # anyway, so close the session NOW — same rows, same
                # "watermark passed last_ts + gap" rule, just without
                # the illegal deferred timer.
                emit(*cur)
                if state.exists:
                    state.remove()
            else:
                state.update(tuple(cur))
                # fire once the watermark passes the open session's
                # close
                state.setTimeoutTimestamp(close_at)
        if out:
            yield _pd.DataFrame(
                out, columns=["user_id", "path", "session_last_ts"])

    return mine


def streaming_session_paths(stream: DataFrame,
                            gap_ms: int = 1_800_000,
                            watermark: str = "0 seconds",
                            user_col: str = "user_id",
                            ts_ms_col: str = "ts_ms",
                            id_col: str = "event_id",
                            type_col: str = "event_type") -> DataFrame:
    """Streaming twin of the batch session path mining
    (plans/queries.py::events_session_funnel_paths, r13 verdict #7):
    per-user opening-path state via applyInPandasWithState with an
    EVENT-TIME timeout — a session's 3-step path emits exactly once,
    when the session closes (bridged by a later event past the gap,
    or the watermark passing last_ts + gap). The top-20 readout then
    runs over the emitted closed-session rows at read time — on
    closed sessions it matches the batch query's per-session paths
    (prefix-completeness, tested). State is ONE open session per
    active user (5 scalars) — bounded by live users inside the
    watermark horizon, never by stream length."""
    keyed = (stream.select(
        F.col(user_col).cast("string").alias("user_id"),
        F.col(ts_ms_col).cast("long").alias("ts_ms"),
        F.col(id_col).cast("string").alias("event_id"),
        F.col(type_col).cast("string").alias("event_type"),
        F.timestamp_millis(F.col(ts_ms_col).cast("long")).alias("ts"))
        .withWatermark("ts", watermark))
    return (
        keyed.groupBy("user_id")
        .applyInPandasWithState(
            _make_session_paths(int(gap_ms)),
            outputStructType=SESSION_PATH_OUTPUT_SCHEMA,
            stateStructType=SESSION_PATH_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


CONVERSION_STATE_SCHEMA = T.StructType([
    T.StructField("v_ts", T.LongType()),      # first view ts (or None)
    T.StructField("converted", T.BooleanType()),
    # latest purchase ts seen BEFORE any view (r15 ADVICE tie fix):
    # under (ts, event_id)-ordered delivery every pre-view purchase
    # has ts <= the eventual v_ts, so the only one that can still
    # qualify (batch filter: p_ts >= v_ts) is a ts == v_ts tie — the
    # max is a sufficient statistic for it.
    T.StructField("pend_p", T.LongType()),
])

CONVERSION_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.StringType()),
    T.StructField("v_ts", T.LongType()),
    T.StructField("p_ts", T.LongType()),
    T.StructField("latency_ms", T.LongType()),
])


def _make_conversion_tracker():
    """Per-user streaming conversion tracker (a closure, see
    the module docstring). State is THREE scalars: the user's first
    'view' timestamp, a converted flag, and the latest purchase ts
    seen before any view (pend_p). When the first 'purchase'
    at-or-after the first view arrives, emit (user, v_ts, p_ts,
    latency) exactly once and freeze the state — the batch
    events_conversion_latency definition verbatim (first view, first
    qualifying purchase), INCLUDING same-timestamp ties (r15 ADVICE):
    a purchase sharing ts_ms with the user's first view but sorting
    before it — by event_id in the same batch, or landing in an
    earlier micro-batch under a prefix split — is stashed in pend_p;
    when the view then sets v_ts, pend_p == v_ts converts with
    latency 0, exactly the batch filter ts >= v_ts. (Under ordered
    delivery every pre-view purchase has ts <= the eventual v_ts, so
    the tie is the only late-qualifying case and the max pre-view
    purchase ts is a sufficient statistic for it.) In-batch rows
    apply in (ts, event_id) order (the EWMA/drawdown arrival
    contract); a purchase strictly before the first view never
    converts (no view to anchor the funnel)."""

    def track(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
              ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        user = key[0]
        v_ts, converted, pend_p = (
            state.get if state.exists else (None, False, None))
        rows = []
        for pdf in pdfs:
            for _, row in pdf.iterrows():
                rows.append((int(row["ts_ms"]), str(row["event_id"]),
                             str(row["event_type"])))
        rows.sort(key=lambda r: (r[0], r[1]))
        out = []
        for ts, _eid, etype in rows:
            if converted:
                break
            if etype == "view" and v_ts is None:
                v_ts = ts
                if pend_p is not None and pend_p == v_ts:
                    converted = True
                    out.append((user, v_ts, pend_p, 0))
            elif etype == "purchase":
                if v_ts is not None and ts >= v_ts:
                    converted = True
                    out.append((user, v_ts, ts, ts - v_ts))
                elif v_ts is None:
                    pend_p = ts if pend_p is None else max(pend_p, ts)
        state.update((v_ts, converted, pend_p))
        if out:
            yield _pd.DataFrame(
                out, columns=["user_id", "v_ts", "p_ts", "latency_ms"])

    return track


def streaming_conversion_latency(stream: DataFrame,
                                 user_col: str = "user_id",
                                 ts_ms_col: str = "ts_ms",
                                 id_col: str = "event_id",
                                 type_col: str = "event_type"
                                 ) -> DataFrame:
    """Streaming twin of the batch conversion-latency base: emit one
    (user, first-view ts, first-qualifying-purchase ts, latency) row
    per CONVERTING user, the moment the purchase arrives — the
    continuous funnel-latency feed whose quantile readout at read
    time matches the batch events_conversion_latency query over the
    same converted set (prefix-completeness tested, including the
    same-timestamp view/purchase tie — see _make_conversion_tracker).
    State is three scalars per user — bounded by distinct users,
    never stream length."""
    keyed = stream.select(
        F.col(user_col).cast("string").alias("user_id"),
        F.col(ts_ms_col).cast("long").alias("ts_ms"),
        F.col(id_col).cast("string").alias("event_id"),
        F.col(type_col).cast("string").alias("event_type"))
    return (
        keyed.groupBy("user_id")
        .applyInPandasWithState(
            _make_conversion_tracker(),
            outputStructType=CONVERSION_OUTPUT_SCHEMA,
            stateStructType=CONVERSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )
