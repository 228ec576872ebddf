#!/usr/bin/env python
"""Pigeonhole Hamming join vs brute-force pair scan (r12): put an
empirical curve under the perceptual dedup family's candidate-join
claim.

The claim (operators/dedup.py::hamming_pairs): splitting a 64-bit
fingerprint into 4 blocks turns near-dup search from an O(n²)
bit_count cross-join into an equi-join on (block_idx, block_value) —
candidates ≈ n·4/2^16-bucket collisions + true near-dups, so work
grows ~linearly while the brute-force scan grows quadratically.

Measured here per corpus size n (deterministic synthetic dHashes —
xxhash64-derived 64-bit values arranged in 10-row variant GROUPS:
rows sharing id div 10 differ by 0-2 planted low bits, so every row
has ~9 true near-dup partners; built with pure Column expressions):

- pigeonhole: hamming_pairs (the production path);
- brute: the exact all-pairs bit_count(xor) scan;
- candidate ratio: pigeonhole candidate pairs / n(n-1)/2;
- an exactAll equality check, so the speed comparison is between
  IDENTICAL answers.

Output: one JSON line per (n, engine) — paste into SCALING.md.
Run: python examples/perceptual_crossover.py [sizes...]
"""

import json
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F  # noqa: E402

from market_data_ingestor_go_spark.operators.dedup import (  # noqa: E402
    hamming_pairs)
from market_data_ingestor_go_spark.session import get_spark  # noqa: E402


def synthetic_sigs(spark, n: int):
    """(id, sig): xxhash64 base signatures; every 10th row is a
    near-variant of the previous row (2 low bits flipped) so both
    engines have true positives to find."""
    base = spark.range(n).select(
        F.col("id"),
        F.xxhash64(F.col("id") - (F.col("id") % 10)).alias("sig0"))
    flip = F.when(F.col("id") % 10 == 0, F.lit(0)).otherwise(
        (F.col("id") % 4).cast("bigint"))  # 0..3 → hamming 0-2 bits
    return base.select(
        "id", F.col("sig0").bitwiseXOR(flip).alias("sig"))


def brute_pairs(sig, max_hamming=3):
    a = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sa"))
    b = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sb"))
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (a.join(b, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def main():
    sizes = [int(s) for s in sys.argv[1:]] or [1000, 2000, 4000, 8000]
    spark = get_spark("perceptual-crossover", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    # warm BOTH engines once at tiny size so neither measured run
    # pays one-time codegen/plan-setup cost (r12 review catch: the
    # first draft claimed this warm-up but never ran it, charging
    # codegen to whichever engine ran first)
    warm = synthetic_sigs(spark, 200).localCheckpoint(eager=True)
    hamming_pairs(warm, "id", "sig", 3, 4).count()
    brute_pairs(warm).count()
    for n in sizes:
        sig = synthetic_sigs(spark, n).localCheckpoint(eager=True)
        results = {}
        for name, fn in (("pigeonhole",
                          lambda: hamming_pairs(sig, "id", "sig", 3, 4)),
                         ("brute", lambda: brute_pairs(sig))):
            t0 = time.perf_counter()
            df = fn().localCheckpoint(eager=True)
            dt = time.perf_counter() - t0
            results[name] = df
            print(json.dumps({"n": n, "engine": name,
                              "sec": round(dt, 3),
                              "pairs": df.count()}), flush=True)
        diff = (results["pigeonhole"].exceptAll(results["brute"]).count()
                + results["brute"].exceptAll(results["pigeonhole"]).count())
        assert diff == 0, f"engines disagree at n={n}"
    spark.stop()


if __name__ == "__main__":
    main()
