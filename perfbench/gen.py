"""Deterministic input generators for the benchmark workloads.

Every input is a pure function of ``seed`` (plus ``anchor_ms``, the
run's wall-clock start, for wire timestamps: the ingest pipeline's 24 h
TTL reads the wall clock, so "recent" and "stale" must be relative to
it). The program under test only ever sees these generated inputs.

Wire frames follow the FIXTURES.md §1 mix: ~90% known symbols, ~5%
unknown, ~3% empty name, ~2% null name; ~95% recent timestamps, ~2%
zero, ~1% negative, ~2% older than 24 h; ~1% malformed JSON; payloads
that occasionally omit or add keys. (name, timestamp) is unique across
a whole run, so the latest-per-symbol state has exactly one right
answer.
"""

from __future__ import annotations

import hashlib
import json
import random
import string
from dataclasses import dataclass, field

EXCHANGES = ("nse", "mcx", "cepe", "gift", "comex", "other", "forex",
             "crypto", "usstock")
N_SYMBOLS = 490
N_UNKNOWN = 20
BURST_FRAMES = 10_000
PAYLOAD_KEYS = ("bid", "ask", "ltp", "volume", "open", "high", "low", "close")
HOUR_MS = 3_600_000
# Each burst owns a disjoint block of timestamp slots, so no two frames
# of a run share a (name, timestamp): SLOT_MS ms per frame, recent
# frames start RECENT_BASE_MS before the anchor, stale ones STALE_MS.
SLOT_MS = 4
RECENT_BASE_MS = 6 * HOUR_MS
STALE_MS = 25 * HOUR_MS
MAX_BURSTS = (RECENT_BASE_MS - HOUR_MS) // (BURST_FRAMES * SLOT_MS)


def _rng(seed: int, *tags) -> random.Random:
    return random.Random(":".join(str(t) for t in (seed,) + tags))


@dataclass
class Universe:
    """The symbol dimension, the unknown symbols, and a pool of
    (payload, payload JSON) the frames draw from."""

    known: list[tuple[str, str]]
    unknown: list[str]
    payloads: list[tuple[dict, str]]

    @property
    def exchange_of(self) -> dict[str, str]:
        return dict(self.known)


def universe(seed: int, n_payloads: int = 1024) -> Universe:
    rng = _rng(seed, "symbols")
    names: set[str] = set()
    ordered: list[str] = []
    while len(ordered) < N_SYMBOLS + N_UNKNOWN:
        s = "".join(rng.choice(string.ascii_uppercase)
                    for _ in range(rng.randint(3, 7)))
        if s not in names:
            names.add(s)
            ordered.append(s)
    known = [(s, EXCHANGES[i % len(EXCHANGES)])
             for i, s in enumerate(ordered[:N_SYMBOLS])]
    rng = _rng(seed, "payloads")
    payloads = []
    for _ in range(n_payloads):
        p = _payload(rng)
        payloads.append((p, json.dumps(p, separators=(",", ":"))))
    return Universe(known, ordered[N_SYMBOLS:], payloads)


@dataclass
class Burst:
    """One burst: the wire bytes plus what a correct pipeline must do
    with them (valid frames, in order)."""

    index: int
    data: bytes
    # (name, timestamp, payload) of every frame that must land in history
    valid: list = field(default_factory=list)


def _payload(rng: random.Random) -> dict:
    base = round(rng.uniform(1.0, 5000.0), 2)
    fields = {k: round(base * rng.uniform(0.98, 1.02), 2) for k in PAYLOAD_KEYS}
    fields["volume"] = float(rng.randint(1, 100_000))
    r = rng.random()
    if r < 0.10:  # schema-on-read: some frames omit keys ...
        for k in rng.sample(PAYLOAD_KEYS, 2):
            fields.pop(k, None)
    elif r < 0.15:  # ... and some carry extra ones
        fields["oi"] = float(rng.randint(1, 10_000))
    return {"data": fields}


def make_burst(seed: int, index: int, anchor_ms: int, uni: Universe,
               n_frames: int = BURST_FRAMES) -> Burst:
    """Burst ``index`` of a run: ``n_frames`` newline-delimited JSON
    wire frames. Independent of how many bursts ran before it."""
    if not 0 <= index < MAX_BURSTS:
        raise ValueError(f"burst index {index} outside [0, {MAX_BURSTS})")
    r = _rng(seed, "burst", index).random
    known = [(s, json.dumps(s)) for s, _ in uni.known]
    unknown = [(s, json.dumps(s)) for s in uni.unknown]
    pool = uni.payloads
    recent0 = anchor_ms - RECENT_BASE_MS + index * n_frames * SLOT_MS
    stale0 = anchor_ms - STALE_MS - index * n_frames * SLOT_MS
    used: set[int] = set()
    lines: list[str] = []
    valid: list = []
    for j in range(n_frames):
        x = r()
        if x < 0.90:
            name, name_json = known[int(r() * len(known))]
        elif x < 0.95:
            name, name_json = unknown[int(r() * len(unknown))]
        elif x < 0.98:
            name, name_json = "", '""'
        else:
            name, name_json = None, "null"
        x = r()
        if x < 0.95:
            # in-order slot offsets 0-1; ~10% arrive late, reusing an
            # earlier frame's slot at offsets 2-3 (redrawn on collision)
            while True:
                if j and r() < 0.10:
                    slot = j - 1 - int(r() * j)
                    ts = recent0 + slot * SLOT_MS + 2 + int(r() * 2)
                else:
                    ts = recent0 + j * SLOT_MS + int(r() * 2)
                if ts not in used:
                    break
            used.add(ts)
        elif x < 0.97:
            ts = 0
        elif x < 0.98:
            ts = -1 - int(r() * 10**9)
        else:
            ts = stale0 - j * SLOT_MS
        payload, payload_json = pool[int(r() * len(pool))]
        text = (f'{{"name":{name_json},"timestamp":{ts},"exchange":null,'
                f'"data":{payload_json}}}')
        if r() < 0.01:  # malformed JSON: a truncated frame
            lines.append(text[: 5 + int(r() * (len(text) - 10))])
            continue
        lines.append(text)
        if name and ts > 0:
            valid.append((name, ts, payload))
    return Burst(index, ("\n".join(lines) + "\n").encode(), valid)


# -- serve: clients, keys and configs ----------------------------------

N_CLIENTS = 4
BIG_CONFIG_SYMBOLS = 200


def client_configs(seed: int, uni: Universe) -> dict:
    """{client_id: config JSON text or None}: a passthrough client, a
    small compiled-map config, a rename + override config, and a
    200-symbol config wide enough for the join path."""
    rng = _rng(seed, "configs")
    names = [s for s, _ in uni.known]
    small = rng.sample(names, 3)
    ren = rng.sample(names, 2)
    big = rng.sample(names, BIG_CONFIG_SYMBOLS)
    ids = [f"client-{i}-{rng.randrange(16**6):06x}" for i in range(N_CLIENTS)]
    cfg_small = {"symbols": {
        small[0]: {"value_rules": {"bid": {"op": "add", "value": 1.5},
                                   "ask": {"op": "multiply", "value": 2.0}}},
        small[1]: {"value_rules": {"ltp": {"op": "divide", "value": 0.0}},
                   "remove_fields": ["volume"]},
        small[2]: {"value_rules": {"close": {"op": "subtract", "value": 0.25}}},
    }}
    cfg_rename = {"symbols": {
        ren[0]: {"rename_fields": {"bid": "best_bid", "ask": "ltp"},
                 "override_fields": {"ask": 5.0}},
        ren[1]: {"rename_fields": {"volume": "qty"},
                 "remove_fields": ["open"],
                 "override_fields": {"open": 1.0}},
    }}
    cfg_big = {"symbols": {
        s: {"value_rules": {"ltp": {"op": "multiply",
                                    "value": float(1 + i % 7)}},
            "rename_fields": {"high": "hi"}}
        for i, s in enumerate(big)}}
    return {ids[0]: None,
            ids[1]: json.dumps(cfg_small, sort_keys=True),
            ids[2]: json.dumps(cfg_rename, sort_keys=True),
            ids[3]: json.dumps(cfg_big, sort_keys=True)}


def api_keys(seed: int, client_ids: list[str]) -> dict[str, str]:
    """{client_id: plaintext API key}."""
    rng = _rng(seed, "keys")
    return {cid: f"key-{rng.randrange(16**16):016x}" for cid in client_ids}


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


# -- batch tables and the document stream -----------------------------

DOC_WORDS = (
    "a agg b batch big column customer data dup fast filter group hash "
    "join key line merge order part query row scan slow small sort spark "
    "stream table the value window shard token index vector drift epoch "
    "cache flush tick frame").split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
N_DOCS = 250
N_SOURCES = 20
N_EVENTS = 10_000
N_USERS = 150
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
N_VECS = 300
VEC_DIM = 64
N_LABELS = 10


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(10, 99)))


def _near_copy(rng: random.Random, text: str) -> str:
    """``text`` with one or two words replaced."""
    words = text.split()
    for _ in range(rng.randint(1, 2)):
        words[rng.randrange(len(words))] = rng.choice(DOC_WORDS)
    return " ".join(words)


def documents(seed: int, n: int = N_DOCS) -> list[tuple]:
    """(doc_id, text, lang, source, n_chars) rows in the layout of the
    ``documents`` table. About one doc in eight is a near copy of an
    earlier one, so the dedup and contamination queries find pairs."""
    rng = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i >= 8 and rng.random() < 0.125:
            texts.append(_near_copy(rng, texts[rng.randrange(i)]))
        else:
            texts.append(_text(rng))
    return [(i, t, rng.choice(LANGS), f"src{i % N_SOURCES}", len(t))
            for i, t in enumerate(texts)]


def events(seed: int, n: int = N_EVENTS) -> list[tuple]:
    """(event_id, ts_us, user_id, event_type, value, props) rows in the
    layout of the ``events`` table, over 30 days from 2024-01-01."""
    rng = _rng(seed, "events")
    start_us = 1_704_067_200_000_000
    span_us = 30 * 24 * 3600 * 1_000_000
    return [(i, start_us + rng.randrange(span_us), rng.randrange(N_USERS),
             rng.choice(EVENT_TYPES), rng.randrange(1, 50_000) / 100,
             json.dumps({"k": rng.randrange(100)}))
            for i in range(n)]


def embeddings(seed: int, n: int = N_VECS) -> list[tuple]:
    """(vec_id, embedding, label) rows in the layout of the
    ``embeddings`` table: a shared per-label direction plus noise, so
    vectors of one label sit closer together than the rest."""
    rng = _rng(seed, "embeddings")
    centers = [[rng.gauss(0, 1) for _ in range(VEC_DIM)] for _ in range(N_LABELS)]
    rows = []
    for i in range(n):
        label = rng.randrange(N_LABELS)
        vec = [0.4 * c + rng.gauss(0, 1) for c in centers[label]]
        norm = sum(x * x for x in vec) ** 0.5
        rows.append((i, [x / norm for x in vec], label))
    return rows


def doc_chunks(seed: int, n_chunks: int, chunk: int) -> list[list[tuple]]:
    """The gate stream: ``n_chunks`` chunks of fresh (doc_id, text)
    rows, then the same texts again, chunk by chunk, under new ids. The
    fresh texts are random, so none is a near duplicate of another;
    each replayed text duplicates exactly one fresh doc."""
    rng = _rng(seed, "doc-stream")
    fresh = [[(k * chunk + j, _text(rng)) for j in range(chunk)]
             for k in range(n_chunks)]
    offset = n_chunks * chunk
    replay = [[(offset + i, t) for i, t in c] for c in fresh]
    return fresh + replay
