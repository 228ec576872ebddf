"""Output checks, run outside the timed ops.

The checks compare what the program produced against what the
generator says a correct program must produce. They are pure Python
over plain rows, so the tests can feed them planted defects without a
Spark session; the workloads collect the program's outputs into the
same row shapes.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from market_data_ingestor_go_spark.operators.config_transform import (
    interpret_flat_record, parse_client_config)

TTL_MS = 24 * 3_600_000


@dataclass(frozen=True)
class BurstSummary:
    """Order-insensitive digest of the history rows one burst landed."""

    rows: int
    ts_sum: int
    unknown: int
    names: int


def expected_summary(valid: list, exchange_of: dict[str, str]) -> BurstSummary:
    return BurstSummary(
        rows=len(valid),
        ts_sum=sum(ts for _, ts, _ in valid),
        unknown=sum(1 for name, _, _ in valid if name not in exchange_of),
        names=len({name for name, _, _ in valid}))


def summarize_rows(rows) -> BurstSummary:
    """The digest of (name, timestamp, exchange) history rows — the same
    aggregate the workload computes in Spark per epoch."""
    rows = list(rows)
    return BurstSummary(
        rows=len(rows),
        ts_sum=sum(r[1] for r in rows),
        unknown=sum(1 for r in rows if r[2] == "unknown"),
        names=len({r[0] for r in rows}))


def check_history(expected: list[BurstSummary],
                  observed: list[BurstSummary]) -> list[bool]:
    """Per-op verdicts: burst i must have landed as epoch i, whole. If
    the epoch count differs from the burst count, no op can be
    attributed, so every op fails."""
    if len(expected) != len(observed):
        return [False] * len(expected)
    return [e == o for e, o in zip(expected, observed)]


class LatestModel:
    """The generator's own latest-per-symbol state: timestamp-max over
    valid frames, TTL applied at read time, exchange from the symbol
    dimension with ``unknown`` for misses."""

    def __init__(self, exchange_of: dict[str, str]):
        self.exchange_of = exchange_of
        self.best: dict[str, tuple[int, dict]] = {}

    def add(self, valid: list) -> None:
        for name, ts, payload in valid:
            cur = self.best.get(name)
            if cur is None or ts > cur[0]:
                self.best[name] = (ts, payload)

    def rows(self, now_ms: int) -> dict[str, tuple[int, str, dict]]:
        horizon = now_ms - TTL_MS
        return {name: (ts, self.exchange_of.get(name, "unknown"), payload)
                for name, (ts, payload) in self.best.items() if ts >= horizon}


def check_latest(model: LatestModel, observed_rows, now_ms: int) -> list[str]:
    """Compare the latest table's (name, timestamp, exchange, data) rows
    with the model; returns human-readable mismatches (empty = pass)."""
    want = model.rows(now_ms)
    got = {}
    errors = []
    for name, ts, exchange, data in observed_rows:
        if name in got:
            errors.append(f"latest: duplicate row for {name!r}")
        got[name] = (ts, exchange, json.loads(data) if data else None)
    for name in sorted(set(want) | set(got)):
        if want.get(name) != got.get(name):
            errors.append(f"latest: {name!r} want {want.get(name)!r} "
                          f"got {got.get(name)!r}")
    return errors


def served_fields(payload: dict) -> dict:
    """The flat record's ``fields`` map: the inner ``data.data`` object
    as MAP<STRING, DOUBLE> (values are floats on the wire already)."""
    return {k: float(v) for k, v in (payload.get("data") or {}).items()}


def expected_frames(latest_rows: dict[str, tuple[int, str, dict]],
                    config_text: str | None) -> dict[str, dict]:
    """{symbol: frame} a client with ``config_text`` must receive per
    tick, via the reference interpreter of the transform semantics."""
    cfg = parse_client_config(json.loads(config_text)) if config_text else {}
    out = {}
    for name, (ts, exchange, payload) in latest_rows.items():
        fields = served_fields(payload)
        if name in cfg:
            fields = interpret_flat_record(cfg[name], fields)
        out[name] = {"symbol": name, "timestamp": ts, "exchange": exchange,
                     "fields": fields}
    return out


def check_frames(expected: dict[str, dict], frames: list[str]) -> list[str]:
    """One tick's frames for one client against ``expected``."""
    errors = []
    got: dict[str, dict] = {}
    for text in frames:
        frame = json.loads(text)
        sym = frame.get("symbol")
        if sym in got:
            errors.append(f"serve: {sym!r} sent twice in one tick")
        got[sym] = frame
    for sym in sorted(set(expected) | set(got)):
        if expected.get(sym) != got.get(sym):
            errors.append(f"serve: {sym!r} want {expected.get(sym)!r} "
                          f"got {got.get(sym)!r}")
    return errors


def check_gates(chunks: list[list[tuple]], n_fresh_chunks: int, lm_audited: list[int],
                dups: dict[int, int], accepted: list[int]) -> list[str]:
    """The document gates against the stream fed (``gen.doc_chunks``):
    the LM audit holds one row per doc fed; the dedup audit holds
    exactly the replayed docs, each a duplicate of its fresh original;
    every fresh doc was accepted."""
    errors = []
    fed = sorted(i for c in chunks for i, _ in c)
    if sorted(lm_audited) != fed:
        errors.append(f"lm gate: {len(lm_audited)} audit rows for {len(fed)} docs fed")
    fresh = [i for c in chunks[:n_fresh_chunks] for i, _ in c]
    want = {i + len(fresh): i for i in fresh}
    if dups != want:
        wrong = sorted(set(dups.items()) ^ set(want.items()))[:3]
        errors.append(f"dedup gate: {len(dups)} rejected, want {len(want)}; e.g. {wrong}")
    if sorted(accepted) != fresh:
        errors.append(f"dedup gate: {len(accepted)} accepted, want {len(fresh)}")
    return errors
