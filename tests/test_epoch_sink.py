"""Tests of streaming/epoch_sink.py that need no Spark session.

Every streaming gate, maintainer and index writes through
``streaming/epoch_sink.py`` (the foreachBatch skeleton and the
dynamic-partition insert); the ingest pipeline keeps its own dual
sink. The layout guard below keeps any other streaming module from
attaching a foreachBatch sink or setting the partition-overwrite mode,
so the write contract cannot drift into a new copy.
"""

from __future__ import annotations

import pathlib
import sys
import threading
from dataclasses import dataclass

from market_data_ingestor_go_spark.streaming.epoch_sink import (
    EpochCounter, EpochSink)

STREAMING = (pathlib.Path(__file__).resolve().parents[1]
             / "market_data_ingestor_go_spark" / "streaming")
ALLOWED = {"epoch_sink.py", "pipeline.py"}


def test_write_contract_lives_in_epoch_sink():
    offenders = sorted(
        f"{p.name}: {needle}"
        for p in STREAMING.glob("*.py") if p.name not in ALLOWED
        for needle in (".foreachBatch(", "partitionOverwriteMode")
        if needle in p.read_text())
    assert not offenders, offenders
    assert all((STREAMING / name).exists() for name in ALLOWED)


@dataclass
class _Unit(EpochSink):
    METRICS_PREFIX = "unit"
    rows = EpochCounter()
    epochs = EpochCounter()

    def _process(self, batch, epoch_id):
        return {"rows": batch}


def test_epoch_counter_replay_and_concurrent_reads():
    """Replays replace the newest epoch's counts, and a counter
    reader racing the foreachBatch thread never sees a count above
    the epochs written so far, nor one that goes backwards."""
    sink = _Unit()
    sink._gate_batch(5, -1)       # bootstrap epoch: counted, not an epoch
    sink._gate_batch(2, 0)
    sink._gate_batch(3, 0)        # replay of epoch 0 replaces 2 by 3
    assert (sink.rows, sink.epochs) == (8, 1)
    assert sink.metrics() == {"unit_rows": 8, "unit_epochs": 1}

    n_epochs, seen, errors = 3000, [], []
    done = threading.Event()

    def writer():
        for e in range(1, n_epochs + 1):
            sink._gate_batch(1, e)
            sink._gate_batch(1, e)  # every epoch replayed once
        done.set()

    def reader():
        last = 0
        while not done.is_set():
            v = sink.rows
            if v < last or v > 8 + n_epochs:
                errors.append((last, v))
            last = v
        seen.append(last)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer)] + [
            threading.Thread(target=reader) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert not errors, errors[:5]
    assert sink.rows == 8 + n_epochs and sink.epochs == 1 + n_epochs
