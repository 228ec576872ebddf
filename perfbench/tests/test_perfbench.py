"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import batch_gate  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ANCHOR = 1_800_000_000_000


def _history_rows(uni, valid):
    ex = uni.exchange_of
    return [(n, ts, ex.get(n, "unknown")) for n, ts, _ in valid]


def test_same_seed_same_bytes():
    a, b = gen.universe(7), gen.universe(7)
    assert a == b
    for i in (0, 1, 37):
        assert (gen.make_burst(7, i, ANCHOR, a).data
                == gen.make_burst(7, i, ANCHOR, b).data)
    assert gen.client_configs(7, a) == gen.client_configs(7, b)
    ids = list(gen.client_configs(7, a))
    assert gen.api_keys(7, ids) == gen.api_keys(7, ids)
    for make in (gen.documents, gen.events, gen.embeddings):
        assert make(7) == make(7)
        assert make(7) != make(8)
    assert gen.doc_chunks(7, 2, 10) == gen.doc_chunks(7, 2, 10)


def test_other_seed_other_bytes():
    a, b = gen.universe(7), gen.universe(8)
    assert a.known != b.known
    assert gen.make_burst(7, 0, ANCHOR, a).data != gen.make_burst(8, 0, ANCHOR, b).data
    assert gen.make_burst(7, 0, ANCHOR, a).data != gen.make_burst(7, 1, ANCHOR, a).data


def test_burst_mix_and_unique_timestamps():
    uni = gen.universe(3)
    seen = set()
    frames = 0
    for i in range(3):
        burst = gen.make_burst(3, i, ANCHOR, uni)
        lines = burst.data.decode().splitlines()
        assert len(lines) == gen.BURST_FRAMES
        frames += len(lines)
        for name, ts, _ in burst.valid:
            assert (name, ts) not in seen
            seen.add((name, ts))
    # ~90% known x ~95% recent-or-stale x ~99% well-formed survive
    assert 0.85 < len(seen) / frames < 0.95
    stale = [ts for _, ts in seen if ts < ANCHOR - checks.TTL_MS]
    assert 0.01 < len(stale) / len(seen) < 0.04


def test_tail_percentile_rule():
    # MIN_TIMED_OPS is the fewest ops with TAIL_BEYOND beyond the tail
    assert stats.beyond(stats.TAIL_P, stats.MIN_TIMED_OPS) >= stats.TAIL_BEYOND
    assert stats.beyond(stats.TAIL_P, stats.MIN_TIMED_OPS - 1) < stats.TAIL_BEYOND
    # and no higher whole percentile has TAIL_BEYOND beyond it at that count
    assert stats.beyond(stats.TAIL_P + 1, stats.MIN_TIMED_OPS) < stats.TAIL_BEYOND
    values = [float(v) for v in range(1, 21)]
    assert stats.percentile(values, 50) == 10.0  # nearest rank: 10 beyond it
    assert stats.percentile(list(reversed(values)), 75) == 15.0


def test_history_check_passes_and_catches_a_dropped_frame():
    uni = gen.universe(5)
    bursts = [gen.make_burst(5, i, ANCHOR, uni) for i in range(2)]
    expected = [checks.expected_summary(b.valid, uni.exchange_of) for b in bursts]
    observed = [checks.summarize_rows(_history_rows(uni, b.valid)) for b in bursts]
    assert checks.check_history(expected, observed) == [True, True]
    dropped = checks.summarize_rows(_history_rows(uni, bursts[1].valid[:-1]))
    assert checks.check_history(expected, [observed[0], dropped]) == [True, False]
    # a missing epoch cannot be attributed: every op fails
    assert checks.check_history(expected, observed[:1]) == [False, False]


def _latest_rows(model, now):
    return [(n, ts, ex, json.dumps(p)) for n, (ts, ex, p) in model.rows(now).items()]


def test_latest_check_applies_ttl_and_catches_a_lost_max():
    uni = gen.universe(6)
    burst = gen.make_burst(6, 0, ANCHOR, uni)
    model = checks.LatestModel(uni.exchange_of)
    model.add(burst.valid)
    rows = _latest_rows(model, ANCHOR)
    assert checks.check_latest(model, rows, ANCHOR) == []
    assert any(ex == "unknown" for _, _, ex, _ in rows)
    assert all(ts >= ANCHOR - checks.TTL_MS for _, ts, _, _ in rows)
    # drop the frame that is some symbol's maximum: the check must notice
    name, ts, _ = max(burst.valid, key=lambda f: f[1])
    lossy = checks.LatestModel(uni.exchange_of)
    lossy.add([f for f in burst.valid if f[1] != ts])
    assert checks.check_latest(model, _latest_rows(lossy, ANCHOR), ANCHOR)


def test_frames_check_catches_an_altered_field():
    uni = gen.universe(9)
    model = checks.LatestModel(uni.exchange_of)
    model.add(gen.make_burst(9, 0, ANCHOR, uni).valid)
    latest = model.rows(ANCHOR)
    for cid, cfg in gen.client_configs(9, uni).items():
        want = checks.expected_frames(latest, cfg)
        frames = [json.dumps(f) for f in want.values()]
        assert checks.check_frames(want, frames) == []
        bad = json.loads(frames[0])
        key = sorted(bad["fields"])[0]
        bad["fields"][key] += 0.5
        assert checks.check_frames(want, [json.dumps(bad)] + frames[1:])
        assert checks.check_frames(want, frames[1:])  # a frame missing


def test_configs_take_both_transform_paths():
    from market_data_ingestor_go_spark.streaming.serve import JOIN_CONFIG_THRESHOLD

    uni = gen.universe(4)
    cfgs = gen.client_configs(4, uni)
    sizes = sorted(len(json.loads(c)["symbols"]) if c else 0 for c in cfgs.values())
    assert sizes[0] == 0  # passthrough client
    assert 0 < sizes[1] <= sizes[2] <= JOIN_CONFIG_THRESHOLD < sizes[3]


def test_query_digest_is_order_insensitive_and_catches_an_altered_value():
    cols = ["b", "a"]
    rows = [(1.5, "x"), (2.0, "y"), (None, "z")]
    want = batch_gate.digest(cols, rows)
    assert batch_gate.digest(["a", "b"], [(a, b) for b, a in reversed(rows)]) == want
    assert batch_gate.digest(cols, [(1.5, "x"), (2.0000001, "y"), (None, "z")]) != want
    assert batch_gate.digest(cols, rows[:2])[0] == 2


def test_gate_check_catches_a_lost_audit_row_and_a_missed_duplicate():
    chunks = gen.doc_chunks(3, 2, 5)
    fed = [i for c in chunks for i, _ in c]
    fresh = [i for c in chunks[:2] for i, _ in c]
    dups = {i + 10: i for i in fresh}
    assert checks.check_gates(chunks, 2, fed, dups, fresh) == []
    assert checks.check_gates(chunks, 2, fed[1:], dups, fresh)
    missed = dict(list(dups.items())[1:])
    assert checks.check_gates(chunks, 2, fed, missed, fresh + [10])
    # the replay really repeats the fresh texts under new ids
    texts = {i: t for c in chunks for i, t in c}
    assert all(texts[new] == texts[old] for new, old in dups.items())
