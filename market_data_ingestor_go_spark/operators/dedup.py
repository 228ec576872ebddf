"""Deduplication operators for document corpora (SURVEY.md §2.11).

Extension operators (driver mandate; the reference — a market-data
ingestor — has no document processing). Five dedup strategies, ordered
by cost/recall:

- exact_dedup_groups    : hash-groupBy on raw text — one shuffle.
- fingerprint_dedup     : md5 of normalized text — catches
                          case/whitespace variants, same cost.
- ngram_jaccard_pairs   : exact all-pairs n-gram Jaccard — the ground
                          truth, O(n²); for oracles and small blocks only.
- minhash_near_dup_pairs: MinHash + LSH banding — the 100 TB path;
                          O(n·perms) + a bucket equi-join, candidates
                          verified with exact Jaccard so precision is 1.
- simhash_pairs         : 64-bit SimHash + block probing on Hamming
                          distance — cheapest near-dup signal.

Scale notes (100 TB posture):
- MinHash signatures are computed with partial aggregation (min per
  seed) — only one 128-value row per doc crosses the shuffle.
- LSH banding turns all-pairs into an equi-join on (band, band_hash):
  shuffle is proportional to docs×bands, and AQE's skew-join splitting
  handles degenerate buckets (e.g. boilerplate-heavy corpora).
- Verification joins shingle arrays back only for candidate pairs.
- No Python UDFs anywhere — xxhash64/murmur are JVM built-ins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, shingles
from .cache import pin
from .partitioning import spread


def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Deterministic exact dedup: per distinct text, keep min id and
    count copies. One hash-shuffle on the text (map-side combined)."""
    return (
        df.groupBy(text_col)
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
        .select("keeper_id", "n_copies")
    )


def fingerprint_dedup_groups(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """Dedup on the md5 fingerprint of normalized text.

    Shuffles the 32-byte fingerprint instead of the document body —
    at 100 TB this is the difference between shuffling the corpus and
    shuffling ~3 GB of digests."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
        .select("fp", "keeper_id", "n_copies")
    )


def shingle_df(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               n: int = 3) -> DataFrame:
    """(id, sh ARRAY<STRING>) with at least one full shingle per doc.

    Tokenizes in a separate projection so the regex split runs once per
    ROW — inlining it into the transform lambda would re-split the full
    text once per shingle (O(tokens²) per doc; measured 4× slower).
    """
    # Spread the RAW (id, text) rows first, then tokenize: this way
    # the split and the shingle transform both run post-shuffle in
    # parallel (single-file fixtures arrive as one split; a real
    # table's scan is parallel already and spread() no-ops). The
    # partition count derives from input bytes — a fixed full-core
    # fan-out over-shards small corpora (operators/partitioning.py).
    # Filtering on TOKEN count (≥ n tokens ⟺ ≥ 1 shingle) rather
    # than size(sh) keeps the pushed-down scan-stage predicate to one
    # cheap split per row — a size(sh)>0 filter would inline the whole
    # O(tokens²) shingle expression into it (measured: a 7 s
    # single-task stage on 5k docs).
    base = spread(df.select(F.col(id_col).alias("id"),
                            F.col(text_col).alias("t")))
    toks = base.select(
        "id", F.split(F.trim(F.col("t")), r"\s+").alias("w"))
    toks = toks.filter(F.size("w") >= n)
    grams = F.expr(
        f"array_distinct(transform(sequence(0, size(w) - {n}),"
        f" i -> concat_ws(' ', {', '.join(f'w[i + {k}]' for k in range(n))})))")
    return toks.select("id", grams.alias("sh"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.6) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold → (doc_a, doc_b, jacc).

    O(n²) by construction — this is the correctness oracle / small-block
    engine. The scalable equivalent is ``minhash_near_dup_pairs``.
    Jaccard is |∩| / |∪| over distinct shingle sets (integer counts, so
    the DOUBLE ratio is bit-deterministic across engines).
    """
    s = shingle_df(df, text_col, id_col, n)
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    a = s.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_a")) \
         .repartition(n_parts)  # parallelize the nested-loop pair join
    b = s.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b"))
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.select(
            "doc_a", "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jacc"))
        .filter(F.col("jacc") >= F.lit(threshold))
    )


def minhash_signatures(sh_df: DataFrame, num_perms: int = 128) -> DataFrame:
    """(id, mh ARRAY<BIGINT>[num_perms]) MinHash signature per doc.

    Permutation j is the universal-hash family
    ``perm_j(s) = (a_j·h(s) + b_j) mod p`` over a single 31-bit base
    hash (p = 2³¹-1, Mersenne prime; a_j/b_j derived deterministically
    from sha256, no runtime RNG) — each shingle string is hashed ONCE,
    the permutations are long multiply-add-mods that stay inside a
    64-bit long under ANSI mode. The per-doc minimum is a declarative
    agg → partial (map-side) combine, so only one signature row per doc
    per partition reaches the shuffle.
    """
    import hashlib

    p = (1 << 31) - 1

    def _const(j: int, which: str, lo: int) -> int:
        digest = hashlib.sha256(f"minhash:{which}:{j}".encode()).digest()
        return lo + int.from_bytes(digest[:8], "big") % (p - lo)

    hashed = sh_df.select(
        "id", F.explode("sh").alias("shingle")
    ).select(
        "id",
        F.pmod(F.xxhash64("shingle"), F.lit(p)).alias("h"),
    )
    mins = [
        F.min(F.pmod(F.lit(_const(j, "a", 1)) * F.col("h") + F.lit(_const(j, "b", 0)),
                     F.lit(p))).alias(f"mh_{j}")
        for j in range(num_perms)
    ]
    sig = hashed.groupBy("id").agg(*mins)
    return sig.select(
        "id", F.array(*[f"mh_{j}" for j in range(num_perms)]).alias("mh"))


def banded_signatures(sig: DataFrame, num_bands: int,
                      rows_per_band: int) -> DataFrame:
    """(id, band, bh): LSH band hashes from a MinHash signature table —
    the equi-join key space for candidate generation (self-join,
    cross-corpus join, or a streaming batch probing a static side)."""
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.col("mh")[b * rows_per_band + r]
                              for r in range(rows_per_band)]).alias("bh"))
        for b in range(num_bands)])
    return (sig.select("id", F.explode(bands).alias("bb"))
            .select("id", "bb.band", "bb.bh"))


def lsh_candidate_pairs(sig_df: DataFrame, num_bands: int = 32,
                        rows_per_band: int = 4,
                        max_bucket_size: int | None = None,
                        cap_observation=None) -> DataFrame:
    """LSH banding: docs sharing any band hash become candidate pairs.

    Shuffle key is (band, band_hash) — an equi-join, never a cross
    product. Distinct() collapses pairs that collide in several bands.

    ``max_bucket_size`` is the degenerate-corpus escape hatch
    (SCALING.md): a bucket of B members yields B²/2 candidate pairs,
    so 10⁶ identical boilerplate docs in one bucket is a quadratic
    blowup no equi-join structure can save. Capping keeps the
    deterministic first ``max_bucket_size`` members per (band, hash)
    bucket (ordered by id — the same ids survive in every band, so
    capped candidates stay consistent across bands); members beyond
    the cap simply don't generate pairs through that bucket. Pass a
    ``pyspark.sql.Observation`` as ``cap_observation`` to get
    ``dropped_members`` / ``bucket_members`` counts after the action.
    """
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col("mh")[b * rows_per_band + r]
                         for r in range(rows_per_band)]).alias("bh"))
        for b in range(num_bands)
    ])
    bucketed = sig_df.select("id", F.explode(bands).alias("bb")) \
                     .select("id", "bb.band", "bb.bh")
    if max_bucket_size is not None:
        from pyspark.sql.window import Window
        w = Window.partitionBy("band", "bh").orderBy("id")
        capped = bucketed.withColumn("_bn", F.row_number().over(w))
        if cap_observation is not None:
            capped = capped.observe(
                cap_observation,
                F.sum(F.when(F.col("_bn") > max_bucket_size, 1)
                      .otherwise(0)).alias("dropped_members"),
                F.count(F.lit(1)).alias("bucket_members"))
        bucketed = capped.filter(F.col("_bn") <= max_bucket_size).drop("_bn")
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )


def minhash_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", n: int = 3,
                           threshold: float = 0.6, num_perms: int = 128,
                           num_bands: int = 32,
                           max_bucket_size: int | None = None,
                           cap_observation=None) -> DataFrame:
    """MinHash→LSH→verify near-dup pairs ≥ threshold (same output
    contract as ``ngram_jaccard_pairs``: doc_a, doc_b, jacc).

    Candidates from banding are verified with exact Jaccard, so
    precision is exact; recall at threshold 0.6 with 32×4 bands is
    1 - (1 - 0.6⁴)³² ≈ 0.99, and ≈ 1.0 for the ≥0.9 true-dup band.
    ``max_bucket_size`` bounds candidates per LSH bucket for
    boilerplate-heavy corpora (see ``lsh_candidate_pairs``).
    """
    rows_per_band = num_perms // num_bands
    # shingles feed the signature pipeline once and the verification
    # join twice; signatures feed both sides of the banding self-join.
    # Persist both (tiny vs the corpus: one row per doc) — the same
    # materialize-the-signature-table choice you'd make at 100 TB.
    # pin() registers the handles so long-lived callers can
    # release_pinned() after the consuming action.
    s = pin(shingle_df(df, text_col, id_col, n))
    sig = pin(minhash_signatures(s, num_perms))
    cand = lsh_candidate_pairs(sig, num_bands, rows_per_band,
                               max_bucket_size=max_bucket_size,
                               cap_observation=cap_observation)
    a = s.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = s.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(a, "doc_a").join(b, "doc_b")
        .select("doc_a", "doc_b",
                (inter.cast("double") / union.cast("double")).alias("jacc"))
        .filter(F.col("jacc") >= F.lit(threshold))
    )


def cross_corpus_near_dup(df_a: DataFrame, df_b: DataFrame,
                          text_col: str = "text", id_col: str = "doc_id",
                          n: int = 3, threshold: float = 0.6,
                          num_perms: int = 128,
                          num_bands: int = 32) -> DataFrame:
    """Near-dup pairs ACROSS two corpora — the train/test CONTAMINATION
    check: a held-out document whose near-duplicate leaked into the
    training corpus invalidates the eval. Same MinHash+banding+verify
    machinery as ``minhash_near_dup_pairs``, but the banded equi-join
    runs between the two corpora (every A-side doc against B-side
    bucket mates; no a<b filter — the id spaces are independent).

    Output: (a_id, b_id, jacc) with exact-Jaccard-verified precision.
    Scale posture identical to the self-join path: signatures
    partial-aggregate per corpus, candidates come from the (band,
    hash) equi-join, verification touches candidates only.
    """
    rows_per_band = num_perms // num_bands
    sa = pin(shingle_df(df_a, text_col, id_col, n))
    sb = pin(shingle_df(df_b, text_col, id_col, n))
    sig_a = minhash_signatures(sa, num_perms)
    sig_b = minhash_signatures(sb, num_perms)

    def banded(sig):
        return banded_signatures(sig, num_bands, rows_per_band)

    cand = (
        banded(sig_a).alias("a")
        .join(banded(sig_b).alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.bh") == F.col("b.bh")))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct())
    va = sa.select(F.col("id").alias("a_id"), F.col("sh").alias("sh_a"))
    vb = sb.select(F.col("id").alias("b_id"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(va, "a_id").join(vb, "b_id")
        .select("a_id", "b_id",
                (inter.cast("double") / union.cast("double")).alias("jacc"))
        .filter(F.col("jacc") >= F.lit(threshold)))


def neardup_clusters(pairs: DataFrame, id_a: str = "doc_a",
                     id_b: str = "doc_b", max_iters: int = 25) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id).

    The step every dedup pipeline needs AFTER pair generation: near-dup
    similarity is not transitive, so pairs (a,b) and (b,c) must merge
    into one keep-group before choosing canonical keepers. cluster_id
    is the minimum doc id reachable through the pair graph — a
    deterministic labeling (the DuckDB oracle computes the same
    fixpoint with a recursive CTE; a Python union-find checks it in
    ``test_neardup_clusters_match_union_find``).

    Shape: min-label propagation with POINTER JUMPING — per round each
    node takes the min over {its label, its neighbors' labels, its
    label's label}. The neighbor step moves information one hop; the
    pointer-jump step halves chain depth, so rounds are O(log
    diameter) instead of O(diameter) — the standard large-scale CC
    recipe. The jump is FUSED into the neighbor join by adding each
    node's (id → label) pointer to the edge list, so a round is ONE
    equi-join + partial-min aggregate + the label attach (shuffle
    linear in edges + nodes, no driver-side graph state, no second
    self-join). Labels persist between rounds and the convergence
    check is one scalar count per round.

    Iterative lineage MUST be truncated each round: a persisted
    DataFrame still carries its full logical plan, and a loop that
    references the previous round's frame twice doubles the plan tree
    per round — exponential analysis cost (observed: OOM stringifying
    the plan by round ~10). ``localCheckpoint`` truncates; on a
    fault-tolerant cluster swap in reliable ``checkpoint``.
    """
    # checkpoint the pair source BEFORE mirroring: the union
    # references ``pairs`` twice, so without this the (potentially
    # O(n²)) pair subtree executes twice inside sym's
    # materialization (same fix as neardup_pagerank)
    pairs = pairs.localCheckpoint(eager=True)
    sym = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")) \
        .unionByName(pairs.select(F.col(id_b).alias("src"),
                                  F.col(id_a).alias("dst")))
    sym = sym.localCheckpoint(eager=True)
    labels = (sym.select(F.col("src").alias("id")).distinct()
              .withColumn("lbl", F.col("id")).localCheckpoint(eager=True))
    for _ in range(max_iters):
        # FUSED round: a separate pointer-jump self-join after the
        # neighbor step would cost two more stages + a broadcast build
        # per round — pure fixed latency on a latency-bound loop.
        # Folding each node's pointer (id → lbl) into the edge list
        # makes one join+agg compute min(neighbor labels, label's
        # label) together: lbl_i ← min(lbl_i, min_{j∈N(i)} lbl_j,
        # lbl_{lbl_i}). The jump reads the round-START labels — still
        # monotone toward, and terminating at, exactly the same
        # fixpoint (at convergence no neighbor offers a smaller label,
        # which alone forces the component-min labeling), with the
        # same O(log) chain-halving. Every node has a pointer edge, so
        # nbr_min covers every id and the attach join is INNER (no
        # null branch).
        ptr_edges = labels.select(F.col("id").alias("src"),
                                  F.col("lbl").alias("dst"))
        nbr_min = (
            sym.unionByName(ptr_edges)
            .join(labels, F.col("dst") == labels.id)
            .groupBy("src").agg(F.min("lbl").alias("nl")))
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.src)
            .select(labels.id.alias("id"),
                    F.col("lbl").alias("prev"),
                    F.least(F.col("lbl"), F.col("nl")).alias("lbl"))
            # LAZY checkpoint: the logical plan is truncated
            # immediately (the exponential-lineage guard), but
            # materialization rides the convergence count below — ONE
            # job per round instead of two (measured ~5% per CC query;
            # labels identical)
            .localCheckpoint(eager=False))
        # convergence: the round's start label rode along, so this is a
        # filter-count that BOTH materializes the lazy checkpoint and
        # returns the metric — no extra join against the previous
        # round, no separate checkpoint job
        changed = new_labels.filter(F.col("lbl") != F.col("prev")).count()
        labels = new_labels.select("id", "lbl")
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("lbl").alias("cluster_id"))


def neardup_cluster_keepers(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3,
                            threshold: float = 0.6) -> DataFrame:
    """End-to-end near-dup dedup: MinHash pairs → components → one row
    per cluster with the canonical keeper (min id) and member count."""
    pairs = minhash_near_dup_pairs(df, text_col, id_col, n, threshold)
    clusters = neardup_clusters(pairs)
    return (clusters.groupBy("cluster_id")
            .agg(F.count("*").alias("n_members"))
            .select(F.col("cluster_id").alias("keeper_id"), "n_members"))


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 64) -> DataFrame:
    """(id, simhash BIGINT): sign-aggregated 64-bit token-hash sketch.

    Per token, bit j contributes +1 if set in xxhash64(token) else -1;
    the sketch sets bit j iff the sum is positive. All JVM bit math,
    partial-aggregated — one shuffle of 64 small ints per doc.
    """
    # Spread the RAW docs round-robin before exploding: the 64-column
    # bit aggregation partial-combines map-side, so the groupBy only
    # shuffles one 64-int row per doc per partition — repartitioning
    # the exploded token rows by id (the r1 layout) paid a full
    # token-row shuffle the aggregate never needed. Partition count is
    # input-size-derived: at 32 fixed partitions the wide agg paid 2.4×
    # its 4-8-partition cost in task overhead (partitioning.py).
    base = spread(df.select(F.col(id_col).alias("id"),
                            F.col(text_col).alias("t")))
    toks = base.select(
        "id", F.explode(F.split(F.trim(F.col("t")), r"\s+")).alias("tok"))
    h = F.xxhash64(F.col("tok"))

    def mask(j: int) -> int:
        # bit 63 is the sign bit of a JVM long — 1<<63 overflows, so
        # use its signed two's-complement value
        return (1 << j) if j < 63 else -(1 << 63)

    # Branch-free per-bit tally: sum((h>>j)&1) counts set bits, and
    # "±1 sum > 0" ⟺ "2·ones > n" — identical signatures (verified
    # bit-for-bit vs the CASE WHEN ±1 form), but the shift-and
    # expression compiles ~3× faster in whole-stage codegen (the 64
    # CASE branches dominated cold-start at 6.9 s vs 2.5 s).
    sums = [
        F.sum(F.shiftright(h, j).bitwiseAND(F.lit(1))).alias(f"o_{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *sums)
    sig = None
    for j in range(bits):
        bit = F.when(F.col(f"o_{j}") * 2 > F.col("n"), F.lit(mask(j))) \
            .otherwise(F.lit(0))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return agg.select("id", sig.alias("simhash"))


def hamming_pairs(sig: DataFrame, id_col: str = "id",
                  sig_col: str = "sig", max_hamming: int = 3,
                  num_blocks: int = 4) -> DataFrame:
    """Pairs of rows whose 64-bit signatures differ in ≤ ``max_hamming``
    bits → (id_a, id_b, hamming).

    Pigeonhole blocking: split 64 bits into ``num_blocks`` blocks; any
    pair within Hamming ≤ num_blocks-1 shares at least one intact block,
    so candidates come from an equi-join on (block_idx, block_value) —
    never an all-pairs scan. The same machinery serves every 64-bit
    perceptual signature: SimHash over token streams (``simhash_pairs``)
    and dHash over decoded images
    (``operators/multimodal.py::image_neardup_pairs``).
    """
    if max_hamming > num_blocks - 1:
        raise ValueError(
            f"pigeonhole completeness needs max_hamming <= num_blocks-1 "
            f"(got {max_hamming} > {num_blocks - 1})")
    sig = pin(sig.select(F.col(id_col).alias("id"),
                         F.col(sig_col).alias("sig")))
    width = 64 // num_blocks
    mask = (1 << width) - 1
    blocks = F.array(*[
        F.struct(F.lit(i).alias("blk"),
                 F.shiftright(F.col("sig"), i * width).bitwiseAND(F.lit(mask)).alias("bv"))
        for i in range(num_blocks)
    ])
    bucketed = sig.select("id", "sig", F.explode(blocks).alias("b")) \
                  .select("id", "sig", "b.blk", "b.bv")
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cand = (
        a.join(b, (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.bv") == F.col("b.bv"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= F.lit(max_hamming))
    )


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  num_blocks: int = 4) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming — the
    pigeonhole block equi-join (see ``hamming_pairs``) over the
    sign-aggregated token sketch."""
    sig = simhash(df, text_col, id_col)
    pairs = hamming_pairs(sig, "id", "simhash", max_hamming, num_blocks)
    return pairs.select(F.col("id_a").alias("doc_a"),
                        F.col("id_b").alias("doc_b"), "hamming")


def passage_df(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", width: int = 8) -> DataFrame:
    """Explode documents into consecutive non-overlapping ``width``-word
    passages: (id, pidx, passage, digest).

    The sub-document unit of exact substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): web
    corpora repeat boilerplate spans INSIDE otherwise-unique pages, so
    document-level dedup misses them entirely. Chunking is pure Column
    algebra — sequence() of chunk starts + slice/concat_ws — and the
    digest (md5, 16 bytes) is what downstream joins group on, so
    shuffle width never depends on passage text length.
    """
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    starts = F.sequence(F.lit(0), F.greatest(
        F.size(w) - 1, F.lit(0)), F.lit(width))
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            (i / width).cast("int").alias("pidx"),
            F.concat_ws(" ", F.slice(w, i + 1, width)).alias("passage")))
    return (df.select(F.col(id_col).alias("id"),
                      F.explode(chunks).alias("p"))
            # empty/whitespace-only docs would otherwise all share one
            # '' passage and flag each other 100% boilerplate
            .filter(F.col("p.passage") != "")
            .select("id", "p.pidx", "p.passage",
                    F.md5(F.col("p.passage")).alias("digest")))


def passage_dedup_stats(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        width: int = 8) -> DataFrame:
    """Per-document repeated-passage profile + scrubbed length: for
    each doc, how many of its ``width``-word passages occur more than
    once ACROSS THE CORPUS, and how long the text is after dropping
    the repeated ones (order preserved).

    Scale shape: two keyed shuffles total, plan-pinned — the global
    occurrence count is a WINDOW count over the 16-byte digest (one
    exchange of the passage table; a groupBy-digest + join-back would
    shuffle it twice), then a per-doc aggregate (second exchange)
    rebuilds the scrubbed text from a sorted struct array. Nothing is
    O(n²) and raw text crosses the wire only keyed by its own doc.
    """
    from pyspark.sql.window import Window
    p = passage_df(df, text_col, id_col, width)
    n_occ = F.count("*").over(Window.partitionBy("digest"))
    flagged = p.select("id", "pidx", "passage",
                       (n_occ > 1).alias("is_dup"))
    kept = F.filter(F.array_sort(F.collect_list(
        F.struct("pidx", "passage", "is_dup"))), lambda s: ~s["is_dup"])
    return (flagged.groupBy(F.col("id").alias(id_col))
            .agg(F.count("*").alias("n_passages"),
                 F.sum(F.col("is_dup").cast("int")).alias("n_dup"),
                 (F.sum(F.col("is_dup").cast("int"))
                  / F.count("*")).alias("dup_ratio"),
                 F.length(F.concat_ws(" ", F.transform(
                     kept, lambda s: s["passage"])))
                 .alias("scrubbed_n_chars")))


def sparse_cosine_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        threshold: float = 0.5,
                        df_cap: int = 200) -> DataFrame:
    """All doc pairs with cosine ≥ ``threshold`` over sparse
    TERM-FREQUENCY vectors — the inverted-index similarity join
    (the classic sparse-text-similarity shape: postings shuffle by
    term, pairs materialize ONLY where documents share a term),
    complementing the dense-embedding cosine (similarity.py) and the
    MinHash/SimHash hash families.

    Candidate bounding: terms with document frequency > ``df_cap``
    are pruned BEFORE pairing (a term appearing in d docs emits
    O(d²) pair fragments — ultra-common terms are both the
    quadratic blowup AND near-zero-signal stopwords; the standard
    prefix-filtering family starts with exactly this cut). The
    cosine is therefore defined over the pruned vocabulary — the
    oracle applies the identical cut.

    Exactness: tf, norms and dot products are exact BIGINT sums
    (tf ≤ tokens/doc, so Σtf² and na·nb stay far below 2^53 —
    integer→double casts are exact), then ONE correctly-rounded
    sqrt+division — bit-identical cross-engine, no tolerance.

    100 TB: shuffle = postings (rows × avg terms/doc), join fans out
    per term bounded by df_cap²; norms ride the same tf table
    (pinned). At larger scale add prefix filtering (sort terms by
    rarity, index only the first |v|−⌈τ·|v|⌉+1) — the df cut is the
    load-bearing part and is implemented.
    """
    base = spread(df.select(F.col(id_col).alias("id"),
                            F.col(text_col).alias("t")))
    toks = base.select(
        "id", F.explode(F.split(F.trim(F.col("t")), r"\s+")).alias("term"))
    tf = pin(toks.groupBy("id", "term")
             .agg(F.count("*").cast("bigint").alias("tf")))
    rare = tf.groupBy("term").agg(F.count("*").alias("df")) \
        .filter(F.col("df") <= df_cap).select("term")
    kept = pin(tf.join(rare, "term"))
    norms = kept.groupBy("id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("nrm"))
    a = kept.select(F.col("term").alias("term"),
                    F.col("id").alias("a_id"), F.col("tf").alias("tfa"))
    b = kept.select(F.col("term").alias("term"),
                    F.col("id").alias("b_id"), F.col("tf").alias("tfb"))
    dots = (a.join(b, "term").filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(F.sum(F.col("tfa") * F.col("tfb")).cast("bigint")
                 .alias("dot")))
    na = norms.select(F.col("id").alias("a_id"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("id").alias("b_id"), F.col("nrm").alias("nb"))
    # norms cast to double BEFORE multiplying: a bigint*bigint product
    # wraps silently under non-ANSI sessions for pathological inputs
    # (one doc repeating a rare term millions of times), turning the
    # cosine into NaN and silently dropping the pair (review catch
    # r6). double*double cannot wrap, stays exact under 2^53, and the
    # oracle runs the identical op order.
    cos = (F.col("dot").cast("double")
           / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")))
    return (dots.join(na, "a_id").join(nb, "b_id")
            .select("a_id", "b_id", cos.alias("cos"))
            .filter(F.col("cos") >= F.lit(threshold)))


def ngram_containment_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3,
                            threshold: float = 0.8) -> DataFrame:
    """Ordered pairs (a_id, b_id, containment) with
    |shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ threshold — the
    ASYMMETRIC near-dup measure (quote / subset detection): a short
    document wholly contained in a longer one scores 1.0 here while
    the length gap crushes its Jaccard below any dedup threshold.
    Exactly the check quote-removal and boilerplate forensics need.

    Engine shape: the INVERTED-INDEX (postings) join, not all-pairs —
    shingle_df already emits DISTINCT shingles per doc, so
    |A ∩ B| is exactly the pair's row count in the postings
    self-join, and pairs sharing no shingle (which cannot pass any
    τ > 0) never materialize at all. Work is Σ_shingle df² instead
    of n²·|sh| array intersections (measured 8x at sf0.1); integer
    counts ⇒ the DOUBLE ratio is bit-deterministic. A
    boilerplate-hot shingle re-introduces a quadratic bucket — at
    scale, cap/skew-split it like the LSH bucket cap, or route
    candidates through MinHash-LSH and keep this as the verify step.
    """
    s = pin(shingle_df(df, text_col, id_col, n))
    sizes = s.select(F.col("id").alias("a_id"),
                     F.size("sh").alias("n_sh"))
    posts = s.select("id", F.explode("sh").alias("g"))
    a = posts.select(F.col("id").alias("a_id"), "g")
    b = posts.select(F.col("id").alias("b_id"), "g")
    inter = (a.join(b, "g").filter(F.col("a_id") != F.col("b_id"))
             .groupBy("a_id", "b_id")
             .agg(F.count("*").alias("n_inter")))
    cont = F.col("n_inter").cast("double") / F.col("n_sh").cast("double")
    return (inter.join(sizes, "a_id")
            .select("a_id", "b_id", cont.alias("containment"))
            .filter(F.col("containment") >= F.lit(threshold)))


def snapshot_diff(old: DataFrame, new: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  group_col: str = "source") -> DataFrame:
    """Corpus SNAPSHOT DIFF → (source, status, n_docs, token_delta) —
    the between-crawls accounting pass an incremental training-data
    pipeline runs before reprocessing: which documents were ADDED,
    REMOVED, CHANGED (same id, different content fingerprint), or
    UNCHANGED per source, and how the token budget moved. Content
    identity is the repo's normalized md5 fingerprint
    (functions/text.py::fingerprint — case/whitespace variants do not
    read as changes); token_delta = Σ (new_tokens − old_tokens) with
    a missing side contributing 0, so the deltas SUM to the corpus
    token movement exactly (BIGINT arithmetic, no floats anywhere).
    NULL-text docs are excluded on both sides (no fingerprint/token
    count exists for them).

    Shapes (100 TB posture): one narrow projection per snapshot
    (doc_id, group, fingerprint, token count — no text past the
    scan), ONE full-outer equi-join co-partitioned on doc_id (the
    only corpus exchange; at scale both snapshots bucket by doc_id at
    write time and this join is shuffle-free), then a group-count-
    sized aggregate."""
    from ..functions.text import token_count

    def prep(df, tag):
        return (df.filter(F.col(text_col).isNotNull())
                .select(F.col(id_col).alias("doc_id"),
                        F.col(group_col).alias(f"grp_{tag}"),
                        fingerprint(text_col).alias(f"fp_{tag}"),
                        token_count(text_col).alias(f"ntok_{tag}")))

    j = prep(old, "o").join(prep(new, "n"), "doc_id", "full_outer")
    status = (F.when(F.col("fp_o").isNull(), F.lit("added"))
              .when(F.col("fp_n").isNull(), F.lit("removed"))
              .when(F.col("fp_o") != F.col("fp_n"), F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    delta = (F.coalesce(F.col("ntok_n"), F.lit(0))
             - F.coalesce(F.col("ntok_o"), F.lit(0)))
    return (j.select(F.coalesce("grp_n", "grp_o").alias("source"),
                     status.alias("status"), delta.alias("d"))
            .groupBy("source", "status")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("d").cast("bigint").alias("token_delta")))


def apply_crawl_delta(base: DataFrame, delta: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      group_col: str = "source") -> DataFrame:
    """APPLY an incremental crawl onto the corpus → the merged
    corpus (doc_id, source, op, text) — the upsert step that acts on
    what ``snapshot_diff`` reports and ``snapshot_change_profile``
    sizes (the doc-level analog of the postings index's
    ``latest_epoch_postings``): delta rows take precedence over base
    rows of the same id, and a delta row with NULL ``text_col`` is a
    TOMBSTONE — the doc leaves the corpus (the one place NULL text is
    an instruction, not content; base-side NULL text is carried as
    ordinary content). ``op`` labels every surviving row:

    - ``carried``   — no delta row: the base row passes unchanged.
    - ``refreshed`` — delta re-landed CONTENT-identical text (the
      repo's normalized fingerprint — case/whitespace variants do
      not read as updates); the delta's exact text/group win.
    - ``updated``   — delta changed the content.
    - ``added``     — delta id absent from the base.

    Tombstoned docs are excluded (the diff accounting, not this
    rewrite, is the audit for them). All classification is
    fingerprint/flag algebra on BIGINT ids and md5 strings ⇒
    bit-exact cross-engine.

    Shapes (100 TB posture): ONE full-outer equi-join co-partitioned
    on doc_id (shuffle-free over doc_id-bucketed snapshots, exactly
    the snapshot_diff join) carrying only (id, group, text,
    fingerprint); output is corpus-sized BY DESIGN — this is the
    corpus rewrite, and nothing else corpus-sized moves."""

    def prep(df, tag):
        return df.select(F.col(id_col).alias("doc_id"),
                         F.col(group_col).alias(f"grp_{tag}"),
                         F.col(text_col).alias(f"txt_{tag}"),
                         fingerprint(text_col).alias(f"fp_{tag}"),
                         F.lit(True).alias(f"in_{tag}"))

    j = prep(base, "b").join(prep(delta, "d"), "doc_id", "full_outer")
    op = (F.when(F.col("in_d").isNull(), F.lit("carried"))
          .when(F.col("txt_d").isNull(), F.lit("deleted"))
          .when(F.col("in_b").isNull(), F.lit("added"))
          .when(F.col("fp_b") == F.col("fp_d"), F.lit("refreshed"))
          .otherwise(F.lit("updated")))
    return (j.withColumn("op", op)
            .filter(F.col("op") != "deleted")
            .select("doc_id",
                    F.when(F.col("op") == "carried", F.col("grp_b"))
                    .otherwise(F.col("grp_d")).alias("source"),
                    "op",
                    F.when(F.col("op") == "carried", F.col("txt_b"))
                    .otherwise(F.col("txt_d")).alias("text")))


def snapshot_change_profile(old: DataFrame, new: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """HOW MUCH changed: for docs whose content differs between two
    snapshots (same id, different normalized fingerprint — the
    ``snapshot_diff`` 'changed' class), the distinct-token-set
    Jaccard between versions → (doc_id, n_old, n_new, n_common,
    jacc). jacc ≈ 1 is a touch-up (timestamp, byline); jacc ≈ 0 is a
    rewrite under a reused id — the signal that decides whether an
    incremental pipeline re-embeds/re-scores a doc or just re-lands
    its metadata. Exact: integer set sizes (both engines dedup), one
    IEEE division (bit-identical); union by |A|+|B|−|A∩B| (never the
    engine-specific element order of a list union — the
    jaccard_ranks device).

    Shapes (100 TB posture): one narrow projection per snapshot
    (id, fingerprint, distinct-token array), ONE inner equi-join
    co-partitioned on doc_id (shuffle-free over doc_id-bucketed
    snapshots, like snapshot_diff), fingerprint inequality filters
    to the changed class before any set arithmetic."""
    from ..functions.text import tokens as _tok

    def prep(df, tag):
        return (df.filter(F.col(text_col).isNotNull())
                .select(F.col(id_col).alias("doc_id"),
                        fingerprint(text_col).alias(f"fp_{tag}"),
                        F.array_distinct(_tok(text_col))
                        .alias(f"ts_{tag}")))

    j = (prep(old, "o").join(prep(new, "n"), "doc_id")
         .filter(F.col("fp_o") != F.col("fp_n")))
    inter = F.size(F.array_intersect(F.col("ts_o"), F.col("ts_n")))
    n_old = F.size("ts_o")
    n_new = F.size("ts_n")
    return j.select(
        "doc_id",
        n_old.cast("bigint").alias("n_old"),
        n_new.cast("bigint").alias("n_new"),
        inter.cast("bigint").alias("n_common"),
        (inter.cast("double")
         / (n_old + n_new - inter).cast("double")).alias("jacc"))


def cross_corpus_span_extents(train: DataFrame, ref: DataFrame,
                              w: int = 8, text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """SPAN-LEVEL eval-leak localization → (doc_id, n_spans,
    leaked_tokens, max_span_tokens): which maximal token spans of each
    TRAIN document occur verbatim (as ≥w-token windows) anywhere in
    the REFERENCE corpus — the Lee et al. 2022 exact-substring
    machinery pointed ACROSS corpora (decontamination's "cut the
    leaked passage" step, localizing what ``ngram_novelty`` only
    scores and ``contamination_check`` only pairs). Overlapping
    w-token windows of train docs are marked when their text is a
    reference window; a doc's overlapping/contiguous marked windows
    merge into maximal spans via gaps-and-islands (break when the
    next window starts past the previous span's end). All integers ⇒
    bit-exact cross-engine.

    Shapes (100 TB posture): the train windows never shuffle — the
    reference window set (eval corpora are bounded) BROADCASTS and
    marking is a map-side join; the island merge is a per-doc window
    (partitioned by doc_id, never global). At 100 TB swap the window
    STRING key for xxhash64(window) on both sides — identical plan,
    8-byte probe keys; the string key here keeps the DuckDB oracle
    hash-exact (the dup_span_extents convention)."""
    spans = leak_span_table(train, ref, w, text_col, id_col)
    return spans.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint")
        .alias("leaked_tokens"),
        F.max(F.col("e") - F.col("s") + 1).cast("bigint")
        .alias("max_span_tokens"))


def _span_windows(df: DataFrame, w: int, text_col: str,
                  id_col: str) -> DataFrame:
    """(doc_id, pos, win): every overlapping w-token window of every
    doc with ≥ w tokens — the probe unit of the cross-corpus span
    machinery."""
    toks = df.select(F.col(id_col).alias("doc_id"),
                     F.split(F.trim(F.col(text_col)), r"\s+")
                     .alias("w"))
    return (toks.filter(F.size("w") >= w)
            .select("doc_id", F.posexplode(F.expr(
                f"transform(sequence(0, size(w) - {w}),"
                f" i -> concat_ws(' ', slice(w, i + 1, {w})))"
            )).alias("pos", "win")))


def reference_windows(ref: DataFrame, w: int = 8,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """The distinct reference window-string set the span machinery
    probes against — build it ONCE (eval corpora are bounded) and
    pass it to ``leak_span_table``/``scrub_leaked_spans`` via
    ``ref_windows`` to amortize it across calls (the streaming
    ScrubGate persists it at construction, the reference_shingles
    pattern)."""
    return _span_windows(ref, w, text_col, id_col) \
        .select("win").distinct()


def leak_span_table(train: DataFrame, ref: DataFrame | None,
                    w: int = 8, text_col: str = "text",
                    id_col: str = "doc_id", *,
                    ref_windows: DataFrame | None = None) -> DataFrame:
    """The maximal-leaked-span TABLE → (doc_id, s, e): inclusive
    0-based token extents of every maximal train-doc span whose
    ≥w-token windows all occur verbatim in the reference corpus —
    the shared core of ``cross_corpus_span_extents`` (the monitor
    readout) and ``scrub_leaked_spans`` (the transform). Overlapping
    w-token train windows are marked when their text is a reference
    window; a doc's overlapping/contiguous marked windows merge into
    maximal spans via gaps-and-islands (break when the next marked
    window starts past the previous span's end). All integers ⇒
    bit-exact cross-engine.

    Pass either ``ref`` (the reference corpus, windows derived here)
    or a precomputed ``ref_windows`` set (``reference_windows``
    output — MUST have been built with the same w/tokenization; a
    persistent caller like the streaming gate builds it once).

    Shapes: the train windows never shuffle — the reference window
    set broadcasts and marking is a map-side join; the island merge
    is a per-doc window (see cross_corpus_span_extents' posture
    notes, which apply verbatim — this is the same plan up to the
    final readout)."""
    if ref_windows is None:
        ref_windows = reference_windows(ref, w, text_col, id_col)
    ref_wins = F.broadcast(ref_windows)
    marked = (_span_windows(train, w, text_col, id_col)
              .join(ref_wins, "win").select("doc_id", "pos"))
    return _mark_to_spans(marked, w)


def _mark_to_spans(marked: DataFrame, w: int) -> DataFrame:
    """Gaps-and-islands merge of marked (doc_id, pos) windows into
    maximal inclusive token extents (doc_id, s, e) — break when the
    next marked window starts past the previous span's end. Per-doc
    window, never global."""
    from pyspark.sql.window import Window
    ww = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(ww)
    brk = F.when(prev.isNull() | (F.col("pos") > prev + w), 1) \
        .otherwise(0)
    isl = (marked.withColumn("brk", brk)
           .withColumn("grp", F.sum("brk").over(ww)))
    return isl.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(w - 1)).alias("e")).drop("grp")


def scrub_leaked_spans(train: DataFrame, ref: DataFrame | None,
                       w: int = 8, text_col: str = "text",
                       id_col: str = "doc_id", *,
                       ref_windows: DataFrame | None = None) -> DataFrame:
    """ACT on span-level eval-leak localization: rewrite each train
    doc with its maximal leaked spans removed → (doc_id, status,
    n_spans, tokens_removed, n_tokens_kept, text) — the cut-the-
    passage decontamination TRANSFORM (Lee et al. 2022's remediation
    step) that ``cross_corpus_span_extents`` only monitors. Every
    train doc passes through exactly once:

    - ``clean``    — no leaked span (including docs shorter than w
      tokens and NULL-text docs): ``text`` is the ORIGINAL value
      verbatim (no whitespace normalization on untouched docs).
    - ``scrubbed`` — ≥1 leaked span, ≥1 surviving token: ``text`` is
      the token-exact reconstruction of the survivors — tokens whose
      0-based position falls inside no (s, e) extent, in original
      order, joined by single spaces (scrubbed docs ARE whitespace-
      normalized: token identity is the unit the span arithmetic
      works in, so inter-token whitespace cannot survive a cut).
    - ``dropped``  — every token sits in a leaked span: ``text`` is
      NULL (the doc leaves the corpus; the row IS the audit record).

    tokens_removed + n_tokens_kept = the doc's token count (identity
    tested); adjacent/overlapping windows were already merged into
    maximal spans upstream, so a mid-doc cut removes one contiguous
    block per span. All arithmetic is integer span/position algebra
    ⇒ bit-exact cross-engine.

    Shapes (100 TB posture): ``leak_span_table``'s posture carries
    over (reference windows broadcast, marking map-side, island
    merge per-doc); the only additions are one spans-per-doc partial
    aggregate (leaked-doc-sized, tiny) and ONE left equi-join back
    to the train corpus on doc_id — token filtering and
    reconstruction are per-row array expressions, no extra exchange.
    """
    return scrub_spans(train,
                       leak_span_table(train, ref, w, text_col, id_col,
                                       ref_windows=ref_windows),
                       text_col, id_col)


def scrub_spans(docs: DataFrame, span_table: DataFrame,
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Apply ANY maximal-extent (doc_id, s, e) span table as a cut
    over ``docs`` → (doc_id, status, n_spans, tokens_removed,
    n_tokens_kept, text) — the reconstruction half shared by
    ``scrub_leaked_spans`` (cross-corpus extents) and
    ``scrub_duplicate_spans`` (within-corpus keep-first extents).
    Semantics and posture are the callers' docstrings; extents must
    already be maximal/merged (``_mark_to_spans`` output)."""
    spans = (span_table
             .groupBy("doc_id")
             .agg(F.collect_list(F.struct("s", "e")).alias("spans"),
                  F.count("*").alias("n_spans"),
                  F.sum(F.col("e") - F.col("s") + 1)
                  .alias("tokens_removed")))
    base = docs.select(F.col(id_col).alias("doc_id"),
                        F.col(text_col).alias("orig"),
                        F.when(F.col(text_col).isNotNull(),
                               F.split(F.trim(F.col(text_col)), r"\s+"))
                        .alias("w0"))
    j = base.join(spans, "doc_id", "left")
    # survivors: tokens whose position is inside no leaked extent.
    # Guarded by the spans-NULL branch below, so the NULL-propagating
    # exists() never decides a clean doc's fate.
    kept = F.expr(
        "transform(filter(transform(w0, (t, i) -> struct(t AS t, i AS i)),"
        " x -> NOT exists(spans, sp -> x.i >= sp.s AND x.i <= sp.e)),"
        " x -> x.t)")
    n_kept = (F.when(F.col("spans").isNull(),
                     F.coalesce(F.size("w0"), F.lit(0)))
              .otherwise(F.size(kept)))
    status = (F.when(F.col("spans").isNull(), F.lit("clean"))
              .when(F.size(kept) > 0, F.lit("scrubbed"))
              .otherwise(F.lit("dropped")))
    text = (F.when(F.col("spans").isNull(), F.col("orig"))
            .when(F.size(kept) > 0, F.concat_ws(" ", kept))
            .otherwise(F.lit(None).cast("string")))
    return j.select(
        "doc_id", status.alias("status"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint")
        .alias("n_spans"),
        F.coalesce(F.col("tokens_removed"), F.lit(0)).cast("bigint")
        .alias("tokens_removed"),
        n_kept.cast("bigint").alias("n_tokens_kept"),
        text.alias("text"))


def winnowing_fingerprints(docs: DataFrame, k: int = 8, w: int = 4,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — MOSS) → (doc_id, pos, fp): the guaranteed-coverage SUBSET
    of the Rabin-Karp window hashes — per window of ``w`` consecutive
    k-gram hashes keep the minimum (ties rightmost), dedup. Any
    shared token run of ≥ k + w − 1 tokens is always detected via a
    shared fp, while only ~2/(w+1) of window hashes are stored — the
    fingerprint index shrinks ~(w+1)/2× against the full rolling-hash
    table with NO detection gap above
    the guarantee length. All integers (md5-prefix token hashes,
    mod-reduced Rabin-Karp, encoded argmin) ⇒ bit-exact cross-engine.

    Shapes (100 TB posture): selection is per-row array expressions —
    the corpus never shuffles to be fingerprinted; the output is the
    ~2/(w+1)-sized posting table downstream joins consume."""
    from ..functions.text import (ROLL_MOD, rolling_window_hashes,
                                  token_hash_array, winnow_selected)

    base = (docs.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("doc_id"),
                    token_hash_array(text_col).alias("hs")))
    sel = (base.withColumn("wh", rolling_window_hashes("hs", k))
           .select("doc_id",
                   F.explode(winnow_selected("wh", w)).alias("v")))
    # integer `div`, not `/`: float division round-trips through
    # double, which is inexact for encoded values >= 2^53 (docs with
    # ~4.2M+ windows) and the truncating cast would then be off by one
    return sel.select(
        "doc_id",
        F.expr(f"v div {ROLL_MOD}").cast("bigint").alias("pos"),
        (F.col("v") % F.lit(ROLL_MOD)).cast("bigint").alias("fp"))


def winnowing_neardup_pairs(docs: DataFrame, k: int = 8, w: int = 4,
                            min_shared: int = 2,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Near-dup candidate pairs over the WINNOWED fingerprint index →
    (doc_a, doc_b, n_shared): docs sharing ≥ min_shared selected
    fingerprint VALUES — the MOSS detector, and the scale upgrade of
    ``rolling_fingerprint_neardup`` (same inverted-index equi-join,
    ~(w+1)/2× fewer postings, detection guaranteed for shared runs
    ≥ k + w − 1 tokens). Distinct fp per doc so n_shared counts
    distinct shared fingerprints, not repeats.

    Shapes: one explode + ONE equi-join on the 31-bit fp — postings
    are the winnowed subset, so the join's build side is ~(w+1)/2×
    smaller than the full rolling-hash join at identical plan shape.
    """
    fps = (winnowing_fingerprints(docs, k, w, text_col, id_col)
           .select("doc_id", "fp").distinct())
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    return (a.join(b, "fp")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").cast("bigint").alias("n_shared"))
            .filter(F.col("n_shared") >= F.lit(min_shared)))


def duplicate_span_table(docs: DataFrame, w: int = 8,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """WITHIN-corpus duplicated-span extents under the KEEP-FIRST
    rule → (doc_id, s, e): for every w-token window string occurring
    more than once in the corpus, the occurrence with the smallest
    (doc_id, pos) is the keeper; every OTHER occurrence is marked and
    a doc's marked windows merge into maximal extents — the span
    table ``scrub_duplicate_spans`` cuts (Lee et al. 2022's exact-
    substring deduplication pointed WITHIN the corpus, where
    ``dup_span_extents`` only measures). First-occurrence identity is
    the encoded BIGINT ``doc_id · 2³¹ + pos`` (one MIN per window —
    portable; struct mins order differently across engines). All
    integers ⇒ bit-exact cross-engine.

    Shapes (100 TB posture): unlike the cross-corpus path there is no
    bounded side to broadcast — the window table IS corpus-sized and
    the first-occurrence rule is one hash partial-agg + join-back on
    the window key (the Spark-idiomatic stand-in for Lee et al.'s
    suffix array; at 100 TB swap the window STRING key for
    xxhash64(win) on both sides — identical plan, 8-byte keys; the
    string key keeps the oracle hash-exact). The island merge stays
    per-doc."""
    enc = (F.col("doc_id") * F.lit(1 << 31) + F.col("pos")) \
        .cast("bigint")
    wins = (_span_windows(docs, w, text_col, id_col)
            .withColumn("enc", enc))
    first = (wins.groupBy("win")
             .agg(F.min("enc").alias("first_enc"),
                  F.count("*").alias("n_occ"))
             .filter(F.col("n_occ") > 1))
    marked = (wins.join(first, "win")
              .filter(F.col("enc") != F.col("first_enc"))
              .select("doc_id", "pos"))
    return _mark_to_spans(marked, w)


def scrub_duplicate_spans(docs: DataFrame, w: int = 8,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Exact-substring SELF-deduplication (Lee et al. 2022, the
    within-corpus transform): rewrite each doc with every duplicated
    maximal span removed EXCEPT its first occurrence → (doc_id,
    status, n_spans, tokens_removed, n_tokens_kept, text). The
    keep-first rule makes the cut deterministic and content-
    preserving: every duplicated w-token window's text survives in
    exactly the doc holding its smallest (doc_id, pos) occurrence;
    boilerplate repeated across thousands of pages survives once.
    Output semantics (clean verbatim / scrubbed reconstruction /
    dropped NULL, removed + kept = token count) are ``scrub_spans``'s.

    Shapes: ``duplicate_span_table``'s one window-key exchange is the
    whole cost; the reconstruction join and array expressions add no
    corpus exchange beyond the one doc_id join-back."""
    return scrub_spans(docs, duplicate_span_table(docs, w, text_col,
                                                  id_col),
                       text_col, id_col)


def sorted_neighborhood_pairs(df: DataFrame, key_col: str, id_col: str,
                              window: int = 5,
                              chunk_expr=None) -> DataFrame:
    """Sorted-Neighborhood Method blocking (Hernández & Stolfo 1995;
    the third entity-resolution candidate-bounding strategy next to
    key blocking — fuzzy_name_block_join — and LSH banding): sort
    rows by ``key_col``, number them, and emit every pair whose rank
    distance is ≤ ``window``. Catches near-duplicates that share no
    block key but sort adjacently (typos past a block boundary, id
    runs), with candidate count ≤ window·n — LINEAR, never O(n²).
    → (a_id, a_key, a_rank, b_id, b_key, b_rank) with
    a_rank < b_rank ≤ a_rank + window; the caller applies the verify
    predicate (edit distance, exact compare, …).

    Ranks are the CHUNKED global row_number (r15 — the weighted-
    sampler carry composition, no single-task corpus sort):
    ``chunk_expr`` must be PREFIX-MONOTONE along the (key, id) order
    — non-decreasing with the key, equal keys share a chunk — e.g. a
    fixed-length key prefix; default first character. Per-chunk
    row_number windows sort in parallel, the |chunks|-row carry
    ledger (exclusive prefix of chunk counts) broadcasts back, and
    rank = carry + intra-chunk row_number — identical to the global
    window by counting associativity (pinned by
    tests/test_operators.py::test_sorted_neighborhood_rank_equals_global).
    Candidates come from ``window`` integer equi-joins (offset
    explode + rank join) — shuffle keys are 8-byte ranks, no theta
    join anywhere.

    Determinism contract: (key, id) is a total order and ranks are
    exact BIGINTs ⇒ the pair set is bit-stable and SQL-expressible
    (oracle: row_number + rank-offset join)."""
    if chunk_expr is None:
        chunk_expr = F.substring(F.col(key_col), 1, 1)
    from pyspark.sql.window import Window as W
    # chunk_expr is evaluated against the CALLER's columns (it usually
    # references key_col), so it must ride the same select that
    # renames them.
    base = (df.select(F.col(id_col).alias("snm_id"),
                      F.col(key_col).alias("snm_key"),
                      chunk_expr.alias("chunk"))
            .filter(F.col("snm_key").isNotNull()))
    w_carry = (W.orderBy("chunk")
               .rowsBetween(W.unboundedPreceding, -1))
    ledger = (base.groupBy("chunk").agg(F.count("*").alias("cn"))
              .withColumn("carry",
                          F.coalesce(F.sum("cn").over(w_carry), F.lit(0)))
              .select("chunk", "carry"))
    w_ord = W.partitionBy("chunk").orderBy("snm_key", "snm_id")
    ranked = (base.join(F.broadcast(ledger), "chunk")
              .withColumn("rank",
                          F.col("carry") + F.row_number().over(w_ord))
              .select("snm_id", "snm_key", "rank"))
    a = ranked.select(F.col("snm_id").alias("a_id"),
                      F.col("snm_key").alias("a_key"),
                      F.col("rank").alias("a_rank"))
    b = (ranked
         .withColumn("k", F.explode(F.expr(
             f"sequence(1, {int(window)})")))
         .select(F.col("snm_id").alias("b_id"),
                 F.col("snm_key").alias("b_key"),
                 F.col("rank").alias("b_rank"),
                 (F.col("rank") - F.col("k")).alias("probe")))
    return a.join(b, a["a_rank"] == b["probe"]).drop("probe")
