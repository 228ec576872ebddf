"""Similarity search over embedding columns (SURVEY.md §2.11).

Extension operators (driver mandate). The embedding column is
``ARRAY<FLOAT>``; all math casts to DOUBLE first so results are
engine-exact (float→double widening is lossless, and the sequential
left-fold of ``aggregate`` matches the oracle's vector kernels).

Three tiers:
- cosine_pairs / knn_bruteforce : exact, O(n²) — the correctness
  baseline and the per-bucket kernel.
- random_hyperplane_ann          : LSH-bucketed ANN — sign-bit
  signatures from deterministic pseudo-random hyperplanes turn top-k
  into an equi-join on the bucket id. The 100 TB path: shuffle is
  docs×1, buckets are balanced by construction (each bit ~50/50).
- ivf_ann                        : IVF-style — assign vectors to the
  nearest of k sampled centroids (broadcast), search within the cell.

Each operator has one product path. Pair verification, cell
assignment, PQ encoding, semdedup scoring and the covariance sums run
as fold-order-preserving numpy kernels (mapInPandas/mapInArrow),
bit-identical to the ``aggregate(zip_with(...))`` column expressions;
the column-expression references those equalities are pinned against
live in tests/test_operators.py.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cache import pin
from .partitioning import spread


def as_double(vec: Column | str) -> Column:
    col = F.col(vec) if isinstance(vec, str) else vec
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (left-to-right, bit-deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """dot(a,b)/sqrt(dot(a,a)*dot(b,b)) — association chosen to match
    the oracle expression exactly (sqrt of the product, not product of
    sqrts)."""
    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_pairs(df: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 threshold: float = 0.4) -> DataFrame:
    """All pairs (a_id < b_id) with cosine ≥ threshold — exact O(n²).

    The self-dot of each vector is computed once per row *before* the
    pair join (O(n) higher-order-fn evals instead of O(n²)·2) — the
    per-pair work is a single dot product plus scalar math, and the
    value is bit-identical to inlining dot(a,a)/dot(b,b) per pair.
    """
    base = df.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v"))
    base = pin(base.withColumn("sd", dot(F.col("v"), F.col("v"))))
    # small corpora arrive as one parquet split → spread the probe side
    # so the pair join parallelizes across all cores
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    a = base.select(F.col("id").alias("a_id"), F.col("v").alias("va"),
                    F.col("sd").alias("sda")).repartition(n_parts)
    b = base.select(F.col("id").alias("b_id"), F.col("v").alias("vb"),
                    F.col("sd").alias("sdb"))
    pairs = a.join(b, F.col("a_id") < F.col("b_id"))
    cos = dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("sda") * F.col("sdb"))
    return (
        pairs.select("a_id", "b_id", cos.alias("cos"))
        .filter(F.col("cos") >= F.lit(threshold))
    )


def cosine_pairs_blocked(df: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         threshold: float = 0.4,
                         n_blocks: int = 32) -> DataFrame:
    """Exact O(n²) cosine pair join, block-partitioned — the SCALE
    path for exact all-pairs similarity (r8), bit-identical to
    ``cosine_pairs``.

    Shape: rows hash into ``n_blocks`` blocks; the (B·(B+1)/2)
    unordered block pairs enumerate driver-side (model-sized); each
    side replicates to its block-pair groups (shuffle = n·~B/2 rows,
    the classic all-pairs replication bound) and one applyInPandas
    task scores each block pair with a numpy kernel. Work per task is
    bounded by the block size, parallelism is the block-pair count —
    no single giant partition, unlike a theta-join whose probe side
    must fit one task's stream.

    The kernel is Arrow-batched and FOLD-ORDER-PRESERVING: the
    pair-cosine matrix accumulates sequentially across dimensions
    (acc += outer(x_i, y_i)) so every pair's dot is the exact left
    fold ((0.0+x₁y₁)+x₂y₂)+… the engine's ``dot`` computes, and
    cosine divides by sqrt(sa·sb) in the same association — each
    emitted cos is BIT-IDENTICAL to cosine_pairs' (pinned by
    test_cosine_pairs_blocked_bit_identical). IEEE multiply is
    commutative, so emitting pairs as (min_id, max_id) preserves
    exactness regardless of which side held which row. ~25 µs/pair
    interpreted HOF becomes ~vectorized-flops/pair (measured ~4×
    end-to-end on the sf0.1 exact-dedup query; the ratio grows with
    block size as Arrow/group overhead amortizes).
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    base = (df.select(F.col(id_col).alias("id"),
                      as_double(vec_col).alias("v"))
            .withColumn("blk", F.pmod(F.xxhash64(F.col("id")),
                                      F.lit(n_blocks)).cast("int")))
    meta = [(i * n_blocks + j, i, j)
            for i in range(n_blocks) for j in range(i, n_blocks)]
    pairs_meta = spark.createDataFrame(meta, "pid INT, ba INT, bb INT")
    a_side = (base.join(F.broadcast(pairs_meta),
                        base.blk == pairs_meta.ba)
              .select("pid", F.lit(0).alias("side"), "id", "v"))
    b_side = (base.join(F.broadcast(pairs_meta.filter(
                        F.col("ba") != F.col("bb"))),
                        base.blk == pairs_meta.bb)
              .select("pid", F.lit(1).alias("side"), "id", "v"))
    rep = a_side.unionByName(b_side)
    thr = float(threshold)
    nb = int(n_blocks)
    id_t = base.schema["id"].dataType.simpleString()

    def _fold_cos_mat(X, Y, sx, sy):
        acc = np.zeros((X.shape[0], Y.shape[0]))
        for i in range(X.shape[1]):
            acc = acc + np.outer(X[:, i], Y[:, i])
        return acc / np.sqrt(np.outer(sx, sy))

    def _self_dots(X):
        acc = np.zeros(X.shape[0])
        for i in range(X.shape[1]):
            acc = acc + X[:, i] * X[:, i]
        return acc

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a_id": pd.Series([], dtype=object),
                              "b_id": pd.Series([], dtype=object),
                              "cos": pd.Series([], dtype="float64")})
        # block-pair identity comes from the GROUP KEY, never from
        # which sides are populated: pid = ba*nb + bb, so an empty
        # partner block can't demote a cross-block group to the
        # within-block branch (the r8 duplicate-emission bug).
        pid = int(pdf["pid"].iloc[0])
        ba, bb = pid // nb, pid % nb
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        ida = a["id"].to_numpy()
        Xa = np.stack(a["v"].to_numpy()) if len(a) else None
        if ba == bb:                      # within-block: i<j among A
            if len(a) < 2:
                return empty
            sa = _self_dots(Xa)
            cm = _fold_cos_mat(Xa, Xa, sa, sa)
            ii, jj = np.where((ida[:, None] < ida[None, :])
                              & (cm >= thr))
            ca, cb, cc = ida[ii], ida[jj], cm[ii, jj]
        else:                             # cross-block: all a×b
            if len(a) == 0 or len(b) == 0:
                return empty
            idb = b["id"].to_numpy()
            Xb = np.stack(b["v"].to_numpy())
            cm = _fold_cos_mat(Xa, Xb, _self_dots(Xa), _self_dots(Xb))
            ii, jj = np.where(cm >= thr)
            ca, cb, cc = ida[ii], idb[jj], cm[ii, jj]
        lo = np.minimum(ca, cb)
        hi = np.maximum(ca, cb)
        return pd.DataFrame({"a_id": lo, "b_id": hi, "cos": cc})

    return rep.groupBy("pid").applyInPandas(
        score, f"a_id {id_t}, b_id {id_t}, cos DOUBLE")


def _query_side(queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    q = queries.select(F.col(id_col).alias("q_id"), as_double(vec_col).alias("qv"))
    return q.withColumn("qsd", dot(F.col("qv"), F.col("qv")))


def _corpus_side(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    c = df.select(F.col(id_col).alias("n_id"), as_double(vec_col).alias("nv"))
    c = c.withColumn("nsd", dot(F.col("nv"), F.col("nv")))
    # spread single-file corpora for the scoring join (size-derived —
    # the scoring work per corpus row is a handful of dot products)
    return spread(c)


# per-pair cosine from precomputed self-dots: one dot product per pair,
# bit-identical to the inline dot(a,a)/dot(b,b) form
_PAIR_COS = lambda: dot(F.col("qv"), F.col("nv")) / F.sqrt(F.col("qsd") * F.col("nsd"))  # noqa: E731


def knn_bruteforce(df: DataFrame, queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors per query vector by cosine.

    Queries are broadcast (the small side) so the corpus never
    shuffles for the scoring pass; self-dots are computed once per row
    before the join (O(n+q) higher-order-fn evals, one per pair after).
    The only shuffle is the per-query top-k, which moves ≤ n_queries ×
    corpus-partition rows after the rank-pushdown (WindowGroupLimit
    applies rn ≤ k before the sort's exchange).
    """
    from pyspark.sql.window import Window

    q = F.broadcast(_query_side(queries, id_col, vec_col))
    c = _corpus_side(df, id_col, vec_col)
    scored = (
        q.join(c, F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", _PAIR_COS().alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.lit(k))
        .select("q_id", "n_id", "cos", "rn")
    )


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no RNG at runtime):
    component (j, d) is derived from sha256(j, d) → [-1, 1)."""
    planes = []
    for j in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.sha256(f"plane:{j}:{d}".encode()).digest()
            v = int.from_bytes(h[:8], "big") / float(1 << 64)  # [0, 1)
            row.append(2.0 * v - 1.0)
        planes.append(row)
    return planes


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id: one sign bit per hyperplane projection."""
    sig = F.lit(0).cast("long")
    for j, p in enumerate(planes):
        proj = dot(vec, F.array(*[F.lit(x) for x in p]))
        sig = sig.bitwiseOR(F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long"))
    return sig


def random_hyperplane_ann(df: DataFrame, queries: DataFrame, k: int = 5,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          dim: int = 64, n_planes: int = 6,
                          multiprobe: int = 1) -> DataFrame:
    """ANN top-k: exact scoring restricted to the query's LSH bucket(s).

    2^n_planes buckets; the corpus is signed once (narrow projection,
    no shuffle), candidates come from an equi-join on the bucket id,
    and the exact kernel ranks within bucket. ``multiprobe=m`` also
    probes every bucket within Hamming distance m of the query
    signature (flip up to m sign bits) — the standard recall lever
    that costs only extra probe keys per query (C(n_planes,1) + … +
    C(n_planes,m)), not a rebuild. Recall of a neighbor at angle θ
    (p = 1-θ/π per plane) is Σ_{i≤m} C(n,i)·p^(n-i)·(1-p)^i.
    """
    from itertools import combinations

    from pyspark.sql.window import Window

    planes = _hyperplanes(dim, n_planes)
    c = _corpus_side(df, id_col, vec_col)
    c = c.withColumn("bucket", hyperplane_signature(F.col("nv"), planes))
    q = _query_side(queries, id_col, vec_col)
    q = q.withColumn("sig", hyperplane_signature(F.col("qv"), planes))
    probe_cols = [F.col("sig")]
    for m in range(1, min(multiprobe, n_planes) + 1):
        probe_cols += [
            F.col("sig").bitwiseXOR(F.lit(sum(1 << j for j in flips)))
            for flips in combinations(range(n_planes), m)]
    q = F.broadcast(
        q.select("q_id", "qv", "qsd", F.explode(F.array(*probe_cols)).alias("bucket")))
    scored = (
        q.join(c, (F.col("q_id") != F.col("n_id")) & (q.bucket == c.bucket))
        .select("q_id", c["bucket"].alias("probe"), "n_id",
                _PAIR_COS().alias("cos"))
    )
    return _bucketed_topk(scored, k)


def _bucketed_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-bucket top-k → dedupe → global top-k.

    ``scored`` is (q_id, probe, n_id, cos) candidate rows. A true
    global top-k candidate is by definition in the top-k of every
    probe bucket that contains it, so ranking within (q_id, probe)
    first is lossless — and WindowGroupLimit prunes each map task's
    output to k rows per (query, bucket) BEFORE the exchange. At
    corpus scale that bounds the shuffle at (probes+1)·k rows per
    query instead of every candidate in every probed bucket; the
    dedupe (a neighbor can appear via several probes) and the global
    rank then run over that tiny set.
    """
    from pyspark.sql.window import Window

    wb = Window.partitionBy("q_id", "probe").orderBy(
        F.col("cos").desc(), F.col("n_id"))
    local = (
        scored.withColumn("lrn", F.row_number().over(wb))
        .filter(F.col("lrn") <= F.lit(k))
    )
    deduped = local.groupBy("q_id", "n_id").agg(F.max("cos").alias("cos"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        deduped.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.lit(k))
        .select("q_id", "n_id", "cos", "rn")
    )


def _banded_hyperplanes(dim: int, n_bands: int,
                        planes_per_band: int) -> list[list[list[float]]]:
    """Independent hyperplane sets per band (seeds disjoint from
    ``_hyperplanes`` — three colon fields vs two)."""
    out = []
    for band in range(n_bands):
        planes = []
        for j in range(planes_per_band):
            row = []
            for d in range(dim):
                h = hashlib.sha256(f"plane:{band}:{j}:{d}".encode()).digest()
                v = int.from_bytes(h[:8], "big") / float(1 << 64)
                row.append(2.0 * v - 1.0)
            planes.append(row)
        out.append(planes)
    return out


def verify_pairs_cos_arrow(joined: DataFrame,
                           threshold: float) -> DataFrame:
    """Arrow-batched exact-cosine verification of a CANDIDATE PAIR
    list (r15 optimization round, guide §4.2): one mapInPandas pass
    over (a_id, b_id, qv, nv, qsd, nsd) replaces the interpreted
    per-pair HOF cosine (``_PAIR_COS``: zip_with + left-fold
    aggregate — measured ~60% of lsh_cosine_pairs at 1.5M
    candidates) with a fold-order-preserving numpy kernel.

    Bit-identity with the expression path: the accumulator walks
    dimensions sequentially (acc = acc + x_i·y_i), so every pair's
    dot is the exact left fold ((0.0+x₁y₁)+x₂y₂)+… the engine's
    ``dot`` computes; the denominator is sqrt(qsd·nsd) in the same
    association (IEEE sqrt/÷ are correctly rounded, numpy == JVM) —
    pinned against ``cosine_pairs`` by
    test_lsh_verify_kernel_equals_expr. The threshold filter compares
    the SAME doubles, so the emitted pair set is identical too (the
    cosine_pairs_blocked / pq_encode kernel convention). The
    vectors-move-once blocked verify (pairs shuffled as metadata) was
    measured slower at fixture scale and is not kept (SCALING.md r15)."""
    import numpy as np
    import pandas as pd

    thr = float(threshold)
    id_t = joined.schema["a_id"].dataType.simpleString()
    schema = f"a_id {id_t}, b_id {id_t}, cos DOUBLE"

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["qv"].to_numpy())
            Y = np.stack(pdf["nv"].to_numpy())
            acc = np.zeros(len(pdf))
            for i in range(X.shape[1]):
                acc = acc + X[:, i] * Y[:, i]
            cos = acc / np.sqrt(pdf["qsd"].to_numpy()
                                * pdf["nsd"].to_numpy())
            m = cos >= thr
            yield pd.DataFrame({"a_id": pdf["a_id"][m],
                                "b_id": pdf["b_id"][m],
                                "cos": cos[m]})

    return joined.select("a_id", "b_id", "qv", "nv", "qsd", "nsd") \
                 .mapInPandas(score, schema)


def lsh_cosine_pairs(df: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding", threshold: float = 0.4,
                     dim: int = 64, n_bands: int = 4,
                     planes_per_band: int = 4,
                     multiprobe: int = 1) -> DataFrame:
    """Scalable near-dup pairs: banded hyperplane-LSH candidates
    verified with exact cosine ≥ threshold.

    The scale twin of ``cosine_pairs`` exactly as minhash is to exact
    Jaccard: OR-combined independent plane sets (bands, like MinHash
    banding) fix the single-signature recall cliff — a pair is a
    candidate if it collides in ANY band (optionally within Hamming 1
    of the band signature, ``multiprobe``). Verification makes
    precision exact; recall at the declared threshold is
    1-(1-P1)^n_bands with P1 = p^b + b·p^(b-1)(1-p), p = 1-θ/π. For
    cos=0.4 (p≈0.631) the 4×4-band/1-probe default gives ≈0.95 —
    asserted ≥0.9 against the exact twin in tests.

    Honest scale note: at thresholds barely above random correlation
    (the fixture's 0.4) high recall forces the candidate set toward
    all-pairs — that is information-theoretic, not a config defect.
    The operator's 100 TB value is at true near-dup thresholds
    (cos ≥ 0.8-0.9, p ≥ 0.8) where the same banding keeps recall ≈1
    while buckets thin out exponentially with planes_per_band.
    Candidate generation stays an equi-join on (band, bucket) either
    way — never a cross product.

    Verification is the pair-list Arrow kernel
    (``verify_pairs_cos_arrow``): the per-pair vector attach is a
    broadcast join, so only the JVM→Python transfer remains.
    """
    bandplanes = _banded_hyperplanes(dim, n_bands, planes_per_band)
    base = df.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v"))
    base = base.withColumn("sd", dot(F.col("v"), F.col("v")))
    base = pin(spread(base))
    # (id, band, sig) — signatures only; vectors join back per unique
    # candidate pair, so the banding shuffle moves 3 small ints per
    # doc×band, not embeddings.
    band_structs = F.array(*[
        F.struct(F.lit(i).alias("band"),
                 hyperplane_signature(F.col("v"), bandplanes[i]).alias("sig"))
        for i in range(n_bands)])
    sig_tbl = base.select("id", F.explode(band_structs).alias("bb")) \
                  .select("id", "bb.band", "bb.sig")
    # multiprobe is a real Hamming radius (flip up to m bits), matching
    # random_hyperplane_ann — not a boolean
    from itertools import combinations
    probe_cols = [F.col("sig")]
    for m in range(1, min(multiprobe, planes_per_band) + 1):
        probe_cols += [
            F.col("sig").bitwiseXOR(F.lit(sum(1 << j for j in flips)))
            for flips in combinations(range(planes_per_band), m)]
    a = sig_tbl.select(F.col("id").alias("a_id"), "band",
                       F.explode(F.array(*probe_cols)).alias("bucket"))
    b = sig_tbl.select(F.col("id").alias("b_id"), "band",
                       F.col("sig").alias("bucket"))
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    va = base.select(F.col("id").alias("a_id"), F.col("v").alias("qv"),
                     F.col("sd").alias("qsd"))
    vb = base.select(F.col("id").alias("b_id"), F.col("v").alias("nv"),
                     F.col("sd").alias("nsd"))
    joined = cand.join(va, "a_id").join(vb, "b_id")
    return verify_pairs_cos_arrow(joined, threshold)


def ivf_ann(df: DataFrame, queries: DataFrame, k: int = 5, n_cells: int = 16,
            n_probe_cells: int = 2, id_col: str = "vec_id",
            vec_col: str = "embedding",
            centroids: DataFrame | None = None) -> DataFrame:
    """IVF-style ANN: vectors are assigned to their max-cosine centroid
    (broadcast join), queries probe their ``n_probe_cells`` nearest
    cells, then the exact kernel ranks within those cells.

    ``centroids`` (schema: any id col + the vector col, same names as
    ``df``) is the k-means/trained codebook input; when omitted, a
    deterministic pseudo-random sample stands in: the ``n_cells``
    corpus rows with the smallest ``xxhash64(id)`` — a single
    map-side partial top-k (TakeOrdered), pinned once into a
    single-row codebook (ONE bounded eager job at construction; both
    the corpus assignment and the query probe reference the codebook
    row, and without the pin each replayed the sample's corpus-scan
    lineage — 4 embeddings scans observed, r9 audit). With explicit
    ``centroids`` (a driver-built table with no corpus lineage)
    nothing is pinned and the plan stays lazy end to end.
    """
    from pyspark.sql.window import Window

    c = _corpus_side(df, id_col, vec_col)
    if centroids is None:
        cent_src = (
            c.orderBy(F.xxhash64(F.col("n_id")), F.col("n_id"))
            .limit(n_cells)
            .select(F.col("n_id").alias("cent_id"), F.col("nv").alias("cv")))
    else:
        cent_src = centroids.select(
            F.col(id_col).alias("cent_id"),
            as_double(vec_col).alias("cv"))
    cents = F.broadcast(cent_src)

    # Cell assignment is a PER-ROW argmax over the broadcast codebook,
    # not a window or an aggregate: the codebook collapses to a single
    # array-of-structs row, each vector scores all cells inside one
    # higher-order expression, and array_max picks the best (ccos,
    # cent_id) struct — ties take the larger cent_id. Zero shuffle and
    # zero row blowup for the assignment (the row_number formulation
    # shuffled n_cells× the corpus, vectors included; the max_by
    # formulation paid an agg plus a join-back).
    # One row of ≤ n_cells structs; pinned ONLY on the default-sample
    # path, where its lineage contains a corpus scan that would
    # otherwise replay per consumer (docstring) — explicit centroids
    # have no corpus lineage, so their callers keep a fully lazy plan
    cent_row = cents.agg(
        F.collect_list(F.struct("cent_id", "cv")).alias("cb"))
    if centroids is None:
        cent_row = cent_row.localCheckpoint(eager=True)
    cent_row = F.broadcast(cent_row)

    def scored_cells(vec: Column) -> Column:
        return F.transform(
            F.col("cb"),
            lambda ct: F.struct(cosine(vec, ct["cv"]).alias("ccos"),
                                ct["cent_id"].alias("cent_id")))

    c_assigned = (
        c.join(cent_row, F.lit(True))
        .withColumn("cell", F.array_max(scored_cells(F.col("nv")))["cent_id"])
        .drop("cb")
    )

    # Query side probes its n_probe_cells best cells: sort the scored
    # codebook descending, slice the prefix, explode to probe rows —
    # still per-row expressions on the broadcast-small query set.
    q = _query_side(queries, id_col, vec_col)
    q_assigned = F.broadcast(
        q.join(cent_row, F.lit(True))
        .withColumn("best", F.slice(F.reverse(F.array_sort(
            scored_cells(F.col("qv")))), 1, n_probe_cells))
        .select("q_id", "qv", "qsd",
                F.explode(F.col("best")["cent_id"]).alias("cell")))
    scored = (
        q_assigned.join(c_assigned, (F.col("q_id") != F.col("n_id"))
                        & (q_assigned.cell == c_assigned.cell))
        .select("q_id", c_assigned["cell"].alias("probe"), "n_id",
                _PAIR_COS().alias("cos"))
    )
    return _bucketed_topk(scored, k)


def build_hyperplane_index(df: DataFrame, table: str, dim: int = 64,
                           n_planes: int = 6, n_buckets: int = 16,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           meta_cols: tuple[str, ...] = ()) -> None:
    """Materialize the hyperplane-LSH index as a BUCKETED table
    clustered on the LSH bucket id — the 100 TB deployment shape
    (SCALING.md: "the signatures become the materialized index
    table"). The one-time write pays the shuffle; every later probe
    join against the index is bucket-to-bucket with NO Exchange on the
    corpus side (asserted in tests), so recurring query batches scan
    only their probed buckets.
    """
    from ..sources.bucketing import write_bucketed

    planes = _hyperplanes(dim, n_planes)
    c = df.select(F.col(id_col).alias("n_id"), as_double(vec_col).alias("nv"),
                  *[F.col(m) for m in meta_cols])
    c = c.withColumn("nsd", dot(F.col("nv"), F.col("nv")))
    c = c.withColumn("bucket", hyperplane_signature(F.col("nv"), planes))
    write_bucketed(c, table, "bucket", n_buckets)


def hyperplane_ann_from_index(spark, table: str, queries: DataFrame,
                              k: int = 5, dim: int = 64, n_planes: int = 6,
                              multiprobe: int = 1, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              corpus_filter=None) -> DataFrame:
    """ANN top-k against a materialized ``build_hyperplane_index``
    table: same semantics as ``random_hyperplane_ann`` (identical
    planes, probes, ranking) but the corpus side reads pre-bucketed —
    no signature recompute, no corpus shuffle.

    ``corpus_filter`` (a Column over the index's ``meta_cols``) gives
    FILTERED vector search at index speed: the predicate applies
    inside the index scan — composing with bucket pruning, so a probe
    reads only its buckets' row groups and drops non-matching rows
    before the join — which keeps k results filled from the filtered
    subset (post-filtering an unfiltered top-k under-fills k).
    Ground truth: exact knn_bruteforce over the filtered corpus;
    recall asserted in tests."""
    from itertools import combinations

    planes = _hyperplanes(dim, n_planes)
    c = spark.table(table)
    if corpus_filter is not None:
        c = c.filter(corpus_filter)
    q = _query_side(queries, id_col, vec_col)
    q = q.withColumn("sig", hyperplane_signature(F.col("qv"), planes))
    probe_cols = [F.col("sig")]
    for m in range(1, min(multiprobe, n_planes) + 1):
        probe_cols += [
            F.col("sig").bitwiseXOR(F.lit(sum(1 << j for j in flips)))
            for flips in combinations(range(n_planes), m)]
    q = F.broadcast(
        q.select("q_id", "qv", "qsd", F.explode(F.array(*probe_cols)).alias("bucket")))
    scored = (
        q.join(c, (F.col("q_id") != F.col("n_id")) & (q.bucket == c.bucket))
        .select("q_id", c["bucket"].alias("probe"), "n_id",
                _PAIR_COS().alias("cos")))
    return _bucketed_topk(scored, k)


def _pq_lloyd_driver(vectors: list[list[float]], m: int, k: int,
                     n_iters: int) -> dict[int, list[list[float]]]:
    """Driver-side per-subspace Lloyd, bit-identical to a distributed
    Lloyd loop over the same sample (the reference in
    test_pq_driver_equals_distributed): distance scv − 2.0·⟨sv,cv⟩
    (left-fold dots), argmin ties to the SMALLER cell id (array_min
    over struct(d, cell)), DECIMAL(27,12) exact means. ``vectors``
    in (xxhash64(id), id) order; first k rows are the init."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal
    from fractions import Fraction

    X = np.array(vectors, dtype=np.float64)
    n, dim = X.shape
    sub = dim // m
    q12 = Decimal("1e-12")
    Qi = np.array(
        [[int(Decimal(repr(x)).quantize(q12, ROUND_HALF_UP)
              .scaleb(12)) for x in row] for row in vectors],
        dtype=np.int64)
    codebooks = {s: [list(v[s * sub:(s + 1) * sub]) for v in vectors[:k]]
                 for s in range(m)}
    for _ in range(n_iters):
        new_books = {s: list(codebooks[s]) for s in range(m)}
        for s in range(m):
            sv = X[:, s * sub:(s + 1) * sub]
            qi = Qi[:, s * sub:(s + 1) * sub]
            best_d = None
            best = np.zeros(n, dtype=np.int64)
            for j in range(k):
                cv = np.array(codebooks[s][j], dtype=np.float64)
                scv = float(_fold_dot_rows(cv.reshape(1, -1),
                                           cv.reshape(1, -1))[0])
                dj = scv - 2.0 * _fold_dot_rows(
                    sv, np.broadcast_to(cv, sv.shape))
                if best_d is None:
                    best_d = dj
                else:
                    lt = dj < best_d     # strict: ties keep smaller id
                    best = np.where(lt, j, best)
                    best_d = np.where(lt, dj, best_d)
            for j in range(k):
                mask = best == j
                cnt = int(mask.sum())
                if cnt == 0:
                    continue             # empty cell keeps old centroid
                sums = qi[mask].sum(axis=0)
                new_books[s][j] = [
                    float(Fraction(int(x), 10 ** 12)) / cnt for x in sums]
        codebooks = new_books
    return codebooks


def train_pq_codebooks(df: DataFrame, m: int = 8, k: int = 16,
                       n_iters: int = 3, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       max_train_rows: int = 4096) -> DataFrame:
    """Product-quantization codebooks: an independent k-means per
    subspace (the vector split into ``m`` contiguous subvectors).

    Training runs on a deterministic hash-sample: the smallest
    ``max_train_rows`` vectors by (xxhash64(id), id) — codebooks are
    model artifacts; encoding still covers every row. The sample
    collects once and the whole per-subspace Lloyd loop runs on the
    driver (``_pq_lloyd_driver``; same rationale and replication rules
    as train_kmeans_codebook): distances scv − 2.0·⟨sv,cv⟩ as
    left-fold dots, argmin ties to the smaller cell id, DECIMAL(27,12)
    exact means, the first k sample rows as the init. The codebooks
    are bit-identical to a distributed Lloyd loop over the same sample
    (per-row argmin over a broadcast codebook row, means
    partial-aggregated on (subspace, cell, dim)) — pinned by
    ``test_pq_driver_equals_distributed``, whose reference is that loop.
    ``max_train_rows=None`` (collect the whole corpus onto the driver)
    is refused before any job starts.

    Returns (subspace, cell, cv ARRAY<DOUBLE>) — the model artifact
    ``pq_ann`` consumes.
    """
    from pyspark.sql import Row

    if max_train_rows is None:
        raise ValueError("train_pq_codebooks: max_train_rows must bound "
                         "the driver-side training sample")
    rows = (df.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v"))
            .orderBy(F.xxhash64(F.col("id")), F.col("id"))
            .limit(max_train_rows).collect())
    books = _pq_lloyd_driver([list(r["v"]) for r in rows], m, k, n_iters)
    return df.sparkSession.createDataFrame(
        [Row(subspace=s, cell=c, cv=books[s][c])
         for s in range(m) for c in range(k)],
        "subspace INT, cell INT, cv ARRAY<DOUBLE>")


def _pq_cb_row(codebooks: DataFrame):
    """One broadcast row: cb[s] = array of (cell, cv, csd) per
    subspace — the lookup structure the ADC scan reads."""
    return F.broadcast(
        codebooks
        .withColumn("csd", dot(F.col("cv"), F.col("cv")))
        .groupBy("subspace")
        .agg(F.array_sort(F.collect_list(
            F.struct("cell", "cv", "csd"))).alias("cents"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(
            F.struct("subspace", "cents"))).alias("cb")))


def _pq_codebook_rows(codebooks: DataFrame):
    """(rows sorted by (subspace, cell), m, sub_dim): the codebook
    rows and the shape they imply, from ONE driver job."""
    rows = sorted(codebooks.select("subspace", "cell", "cv").collect(),
                  key=lambda r: (r["subspace"], r["cell"]))
    return rows, rows[-1]["subspace"] + 1, len(rows[0]["cv"])


def pq_encode(df: DataFrame, codebooks: DataFrame,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode the corpus against trained codebooks: (n_id, nv, codes
    ARRAY<INT>[m], nsd_hat) — the PQ INDEX content. Per subspace,
    argmin over |c|² - 2 x·c (ties → smaller cell via array_min
    struct ordering); nsd_hat keeps the reconstructed self-dot
    Σ|c_code|² for the cosine denominator. This is the artifact a
    production deployment MATERIALIZES (parquet/bucketed table) so
    serving never re-encodes — see ``pq_ann_from_index``.

    Runs as a mapInPandas fold-order-preserving numpy kernel (r8) —
    the interpreted per-row Column-expression encode costs
    m·k·(sub-dim fold + struct compare) ≈ 1 ms/row (measured: it was
    the whole gap between pq_ann and the train+serve split). The
    kernel replicates every IEEE step of that expression: distances
    accumulate as csd − 2.0·(left-fold dot), argmin scans cells in
    ascending cell order with strict ``<`` (≡ array_min over
    struct(d, cell): ties keep the smaller cell), nsd_hat is the
    sequential left fold of csd[code_s] over subspaces in cb order.
    Bit-identity against the expression form is pinned by
    ``test_pq_encode_kernel_equals_expr`` and
    ``test_kernel_equality_under_exact_ties``. Construction runs ONE
    driver job: the codebook collect also yields m and the sub-dim."""
    import numpy as np
    import pandas as pd

    c = spread(df.select(F.col(id_col).alias("n_id"),
                         as_double(vec_col).alias("nv")))

    # self-contained fold twin (see assign_cells: module-level
    # refs pickle by module path and die on bare workers)
    def _fold(A, B):
        acc = np.zeros(A.shape[0])
        for i in range(A.shape[1]):
            acc = acc + A[:, i] * B[:, i]
        return acc

    rows, m, sub_dim = _pq_codebook_rows(codebooks)
    k = len(rows) // m
    cells = np.array([r["cell"] for r in rows],
                     dtype=np.int64).reshape(m, k)
    C = np.array([list(r["cv"]) for r in rows],
                 dtype=np.float64).reshape(m, k, sub_dim)
    # csd exactly as the broadcast row computes it: left-fold
    # self-dot of each centroid
    csd = np.stack([_fold(C[s], C[s]) for s in range(m)])
    id_t = c.schema["n_id"].dataType.simpleString()
    schema = f"n_id {id_t}, nv ARRAY<DOUBLE>, codes ARRAY<INT>, " \
             f"nsd_hat DOUBLE"

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["nv"].to_numpy())
            n = len(X)
            code_idx = np.empty((n, m), dtype=np.int64)
            for s in range(m):
                Xs = np.ascontiguousarray(
                    X[:, s * sub_dim:(s + 1) * sub_dim])
                best_d = None
                best = np.zeros(n, dtype=np.int64)
                for j in range(k):      # ascending cell order
                    dj = csd[s, j] - 2.0 * _fold(
                        Xs, np.broadcast_to(C[s, j], Xs.shape))
                    if best_d is None:
                        best_d = dj
                    else:
                        lt = dj < best_d   # strict: ties keep smaller
                        best = np.where(lt, j, best)
                        best_d = np.where(lt, dj, best_d)
                code_idx[:, s] = best
            # nsd_hat: sequential left fold over subspaces
            acc = np.zeros(n)
            for s in range(m):
                acc = acc + csd[s][code_idx[:, s]]
            codes = cells[np.arange(m)[None, :], code_idx]
            yield pd.DataFrame({
                "n_id": pdf["n_id"], "nv": pdf["nv"],
                "codes": [row.astype(np.int32).tolist()
                          for row in codes],
                "nsd_hat": acc})

    return c.mapInPandas(encode, schema)


def pq_ann_from_index(enc: DataFrame, queries: DataFrame,
                      codebooks: DataFrame, k: int = 5,
                      shortlist: int = 4, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """PQ ANN SERVE against a pre-built encoded index (``pq_encode``
    output, typically a materialized table): ADC-scored shortlist +
    exact cosine re-rank, identical results to ``pq_ann`` over the
    same corpus (tested) with zero encode work per query batch —
    the FAISS deployment split (train offline, encode on ingest,
    scan at serve). Construction runs ONE driver job: the codebook
    collect that yields m and the sub-dim."""
    from pyspark.sql.window import Window

    _, m, sub_dim = _pq_codebook_rows(codebooks)
    cb_row = _pq_cb_row(codebooks)

    # query side: per-subspace IP tables q_s · c (array of k doubles)
    q = _query_side(queries, id_col, vec_col)
    qsubs = F.array(*[F.slice(F.col("qv"), s * sub_dim + 1, sub_dim)
                      for s in range(m)])
    qt = F.broadcast(
        q.join(cb_row, F.lit(True))
        .withColumn("qs", qsubs)
        .withColumn("tables", F.transform(
            F.col("cb"),
            lambda b: F.transform(
                b["cents"],
                lambda ct: dot(F.element_at(F.col("qs"),
                                            b["subspace"] + 1), ct["cv"]))))
        .select("q_id", "qv", "qsd", "tables"))

    adc = (
        qt.join(enc, F.col("q_id") != F.col("n_id"))
        .select(
            "q_id", "qv", "qsd", "n_id", "nv",
            (F.aggregate(
                F.zip_with(F.col("tables"), F.col("codes"),
                           lambda t, code: t[code]),
                F.lit(0.0), lambda acc, x: acc + x)
             / F.sqrt(F.col("qsd") * F.col("nsd_hat"))).alias("adc")))
    w = Window.partitionBy("q_id").orderBy(F.col("adc").desc(), F.col("n_id"))
    short = (adc.withColumn("srn", F.row_number().over(w))
             .filter(F.col("srn") <= F.lit(k * shortlist)))
    # exact re-rank of the shortlist
    cos = dot(F.col("qv"), F.col("nv")) / F.sqrt(
        F.col("qsd") * dot(F.col("nv"), F.col("nv")))
    w2 = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (short.select("q_id", "n_id", cos.alias("cos"))
            .withColumn("rn", F.row_number().over(w2))
            .filter(F.col("rn") <= F.lit(k))
            .select("q_id", "n_id", "cos", "rn"))


def pq_ann(df: DataFrame, queries: DataFrame, codebooks: DataFrame,
           k: int = 5, shortlist: int = 4, id_col: str = "vec_id",
           vec_col: str = "embedding") -> DataFrame:
    """PQ ANN, encode-and-scan in one call: ADC-scored shortlist +
    exact cosine re-rank.

    The corpus is ENCODED once — m small codes per vector (nearest-L2
    centroid per subspace, the m·k-lookup compressed index real vector
    systems scan). A query's approximate inner product against an
    encoded vector decomposes exactly: q·x̂ = Σ_s q_s·c_{s,code_s}, so
    scoring is m table lookups per pair instead of a d-dim dot — the
    scan IS the point of PQ (pair enumeration is a deliberate
    broadcast-nested-loop of tiny-broadcast queries × encoded corpus,
    with O(m) work per pair). The top ``k·shortlist`` ADC candidates
    per query are then re-ranked with EXACT cosine against the raw
    vectors (the standard shortlist+rerank deployment), so returned
    scores are true cosines and recall failures can only come from a
    true neighbor missing the shortlist. Serving against a
    MATERIALIZED index instead (no per-call encode): ``pq_encode`` +
    ``pq_ann_from_index``.
    """
    enc = pin(pq_encode(df, codebooks, id_col, vec_col))
    return pq_ann_from_index(enc, queries, codebooks, k, shortlist,
                             id_col, vec_col)


def _fold_dot_rows(A, B):
    """Row-wise dot of two n×d float64 matrices, vectorized across
    ROWS but sequential across DIMS — each row's result is the exact
    left fold ((0.0+x₁y₁)+x₂y₂)+…, bit-identical to the engine's
    ``dot`` (F.aggregate over zip_with)."""
    import numpy as np

    acc = np.zeros(A.shape[0])
    for i in range(A.shape[1]):
        acc = acc + A[:, i] * B[:, i]
    return acc


def _lloyd_driver(vectors: list[list[float]], k: int,
                  n_iters: int) -> list[list[float]]:
    """Driver-side Lloyd loop, bit-identical to a distributed Lloyd
    loop over the same sample (see train_kmeans_codebook docstring for
    the replication rules; reference in
    test_kmeans_driver_equals_distributed).
    ``vectors`` must already be in (xxhash64(id), id) order — the
    first k rows are the init centroids."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal
    from fractions import Fraction

    X = np.array(vectors, dtype=np.float64)
    n, d = X.shape
    codebook = [list(v) for v in vectors[:k]]
    sx = _fold_dot_rows(X, X)
    # double → DECIMAL(27,12): Spark routes through the shortest
    # 17-digit repr (BigDecimal.valueOf) then HALF_UP at scale 12;
    # stored as scaled integers so sums are exact (|x|·1e12 ≪ 2^63)
    q12 = Decimal("1e-12")
    Qi = np.array(
        [[int(Decimal(repr(x)).quantize(q12, ROUND_HALF_UP)
              .scaleb(12)) for x in row] for row in vectors],
        dtype=np.int64)
    for _ in range(n_iters):
        best_cos = None
        best = np.zeros(n, dtype=np.int64)
        for j in range(k):
            cv = np.array(codebook[j], dtype=np.float64)
            scv = float(_fold_dot_rows(cv.reshape(1, -1),
                                       cv.reshape(1, -1))[0])
            cosj = _fold_dot_rows(X, np.broadcast_to(cv, X.shape)) \
                / np.sqrt(sx * scv)
            if best_cos is None:
                best_cos = cosj
            else:
                m = cosj >= best_cos     # ties → larger cent_id, as
                best = np.where(m, j, best)  # struct array_max does
                best_cos = np.where(m, cosj, best_cos)
        new_codebook = list(codebook)    # empty cells keep old centroid
        for j in range(k):
            mask = best == j
            cnt = int(mask.sum())
            if cnt == 0:
                continue
            sums = Qi[mask].sum(axis=0)  # exact int64 sums
            new_codebook[j] = [
                float(Fraction(int(s), 10 ** 12)) / cnt for s in sums]
        codebook = new_codebook
    return codebook


def train_kmeans_codebook(df: DataFrame, k: int = 16, n_iters: int = 5,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          max_train_rows: int = 4096) -> DataFrame:
    """Lloyd's k-means codebook for ``ivf_ann(centroids=...)``.

    Each iteration assigns every training vector to its max-cosine
    centroid, then recomputes centroids as the element-wise mean of
    their members. Training runs on a deterministic hash-sample: the
    smallest ``max_train_rows`` rows by (xxhash64(id), id) — the FAISS
    deployment shape, which bounds iteration cost independent of
    corpus size. ``max_train_rows=None`` (collect the whole corpus
    onto the driver) is refused before any job starts.

    Deterministic end to end: hash-sample init (the first k sample
    rows), decimal-exact means (double avg would depend on partition
    order), ties in the argmax broken by cent_id. Empty cells keep
    their previous centroid.

    The training set is a bounded model-sized sample, so the whole
    Lloyd loop runs on the DRIVER after ONE collect (``_lloyd_driver``)
    — a distributed loop spends 2 cluster actions per iteration on a
    ≤4096-row problem (measured 7.7–12.5 s per codebook at sf0.1 vs
    ~0.5 s driver-side). The arithmetic replicates the distributed
    column-expression loop BIT-EXACTLY (codebook identity against that
    loop is pinned by ``test_kmeans_driver_equals_distributed``): left-fold
    dots vectorized across rows but sequential across dims, cosine as
    dot/sqrt(sa·sb), ties to the larger cent_id, and means as
    double→DECIMAL(27,12) HALF_UP quantization (via the 17-digit
    shortest repr, Spark's double→decimal route) summed in exact
    integers, back to double (correctly-rounded Fraction→float), then
    one IEEE division by the count.
    """
    from pyspark.sql import Row

    if max_train_rows is None:
        raise ValueError("train_kmeans_codebook: max_train_rows must "
                         "bound the driver-side training sample")
    rows = (df.select(F.col(id_col).alias("n_id"),
                      as_double(vec_col).alias("nv"))
            .orderBy(F.xxhash64(F.col("n_id")), F.col("n_id"))
            .limit(max_train_rows).collect())
    codebook = _lloyd_driver([list(r["nv"]) for r in rows], k, n_iters)
    return df.sparkSession.createDataFrame(
        [Row(**{id_col: i, vec_col: v}) for i, v in enumerate(codebook)],
        f"{id_col} INT, {vec_col} ARRAY<DOUBLE>")


def filtered_knn(df: DataFrame, queries: DataFrame, predicate,
                 k: int = 5, brute_force_threshold: int = 10_000,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 multiprobe: int = 4,
                 subset_count: int | None = None) -> tuple[DataFrame, str]:
    """Selectivity-aware filtered vector search — the planner every
    vector store runs: a selective predicate leaves a subset too
    small/fragmented for bucketed search to retain recall (measured
    on the fixture: 46-vector subset → IVF recall 0.5-0.68 at any
    cell/probe setting, because cells thin below the probe radius),
    while a permissive one leaves brute force too expensive.

    Rule: compare the filtered-subset cardinality against
    ``brute_force_threshold`` — ≤ threshold ⇒ EXACT brute force over
    the subset (recall 1.0 by construction, and O(subset×queries) is
    cheap precisely because the predicate was selective); above ⇒
    hyperplane ANN over the subset with widened ``multiprobe``
    (filtered buckets thin, so probe wider — recall measured in
    test_bucketing for the index path).

    Cardinality comes from ``subset_count`` when the caller has
    stats (a catalog estimate, a maintained per-predicate histogram
    — the production path, NO eager job); only when absent does the
    planner run one control-plane count per query batch (r5 verdict
    #3: the eager count now has an opt-out, and both routes choose
    the same strategy — tested).

    Returns (result, strategy) — strategy ∈ {"exact", "ann"} so
    callers/tests can assert the plan choice.
    """
    sub = df.filter(predicate)
    n = subset_count if subset_count is not None else sub.count()
    if n <= brute_force_threshold:
        return knn_bruteforce(sub, queries, k, id_col, vec_col), "exact"
    return random_hyperplane_ann(sub, queries, k=k, id_col=id_col,
                                 vec_col=vec_col,
                                 multiprobe=multiprobe), "ann"


def assign_cells(df: DataFrame, centroids: DataFrame,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 n_probes: int = 1) -> DataFrame:
    """(id, vector, cell[, cells]): each vector labeled with its
    max-cosine centroid — still zero-shuffle (the codebook is a
    model-sized artifact shipped to every task; ties take the larger
    cent_id). With ``n_probes`` > 1 the row also carries ``cells`` —
    its top-p cells in score order — for overlap-assignment
    consumers (semdedup boundary recall).

    Runs as a mapInPandas fold-order-preserving numpy kernel (r8) —
    the interpreted per-row Column-expression scoring costs
    k×~25 µs per vector (it was the dominant term of the bounded
    semdedup arms once pair scoring vectorized). The kernel computes
    the same left-fold cosines vectorized across the batch and
    replicates the (ccos, cent_id)-descending order with a stable
    argsort over the cent_id-ascending codebook (reversed stable ⇒
    ties to the larger cent_id, exactly as
    reverse(array_sort(struct(ccos, cent_id))) orders). Bit-identity
    of cell AND probe lists against that expression is pinned by
    ``test_assign_cells_kernel_equals_expr`` and
    ``test_kernel_equality_under_exact_ties``."""
    import numpy as np
    import pandas as pd

    c = df.select(F.col(id_col).alias("n_id"), as_double(vec_col).alias("nv"))
    cents = centroids.select(F.col(id_col).alias("cent_id"),
                             as_double(vec_col).alias("cv"))

    # local twin of _fold_dot_rows: the closure must be
    # self-contained — a module-level reference pickles by module
    # path, which the driver-contract workers cannot import
    def _fold(A, B):
        acc = np.zeros(A.shape[0])
        for i in range(A.shape[1]):
            acc = acc + A[:, i] * B[:, i]
        return acc

    crows = sorted(cents.collect(), key=lambda r: r["cent_id"])
    cent_ids = np.array([r["cent_id"] for r in crows], dtype=np.int64)
    C = np.array([list(r["cv"]) for r in crows], dtype=np.float64)
    scv = _fold(C, C)
    id_t = c.schema["n_id"].dataType.simpleString()
    cid_t = cents.schema["cent_id"].dataType.simpleString()
    schema = f"n_id {id_t}, nv ARRAY<DOUBLE>, cell {cid_t}"
    if n_probes > 1:
        schema += f", cells ARRAY<{cid_t}>"
    p = n_probes

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["nv"].to_numpy())
            sx = _fold(X, X)
            cos = np.empty((len(X), len(C)))
            for j in range(len(C)):
                cos[:, j] = _fold(
                    X, np.broadcast_to(C[j], X.shape)) \
                    / np.sqrt(sx * scv[j])
            order = np.argsort(cos, axis=1, kind="stable")[:, ::-1]
            out = {"n_id": pdf["n_id"], "nv": pdf["nv"],
                   "cell": cent_ids[order[:, 0]]}
            if p > 1:
                out["cells"] = [cent_ids[row[:p]].tolist()
                                for row in order]
            yield pd.DataFrame(out)

    return c.mapInPandas(assign, schema)


def semdedup(df: DataFrame, n_clusters: int = 16,
             threshold: float = 0.4, id_col: str = "vec_id",
             vec_col: str = "embedding",
             centroids: DataFrame | None = None,
             max_train_rows: int = 4096,
             n_probes: int = 1) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication bounded
    by k-means clustering — pairwise cosine runs only WITHIN each
    cluster, turning the O(n²) exact pair join into k independent
    O((n/k)²) joins (with balanced cells, a k× work reduction that
    compounds with per-cell parallelism at scale).

    Rule (deterministic): drop a vector iff it shares a probe cell
    with a neighbor of smaller id and cosine ≥ threshold — the greedy
    min-id keeper, matching the keeper convention of the text-dedup
    family. With the deterministic k-means trainer
    (train_kmeans_codebook: hash-sample init, decimal-exact means)
    the full output is run- and partition-stable.

    vs semantic_dedup_clusters (the exact twin): that query builds
    the GLOBAL exact pair graph then connected components — the
    correctness oracle. This is the scale path: near-dup pairs that
    straddle a cluster boundary are missed by construction (the
    paper's trade-off); recall against the global graph is measured
    in tests as a deterministic floor. ``n_probes`` > 1 softens the
    boundary: each vector joins through its top-p cells (IVF
    multiprobe applied to dedup), multiplying candidate volume by
    ≤ p² for a measured recall lift.

    Plan: assignment is zero-shuffle (broadcast codebook argmax);
    the wide exchanges are the per-cell scoring shuffle and the
    flag-back join on id. Within-cell scoring is the
    fold-order-preserving numpy kernel (r8; see cosine_pairs_blocked)
    — one applyInPandas task per cell, row-chunked so task memory is
    chunk×cell-bounded, not cell². Its cosines come from the SAME
    precomputed self-dots as ``cosine_pairs``' interpreted dot, so the
    dropped set is exactly the rule above over ``assign_cells`` cells
    and ``cosine_pairs`` pairs (``test_semdedup_kernel_equals_join``
    and ``test_kernel_equality_under_exact_ties`` build that
    reference). The dropped set is NOT broadcast-hinted — on a
    duplicate-heavy corpus it is corpus-sized, so the planner must
    stay free to pick a shuffled join (AQE broadcasts it when it
    measures small).

    Returns (id, cell, kept) for every input row.
    """
    import numpy as np
    import pandas as pd

    if centroids is None:
        centroids = train_kmeans_codebook(
            df, k=n_clusters, id_col=id_col, vec_col=vec_col,
            max_train_rows=max_train_rows)
    assigned = pin(
        assign_cells(df, centroids, id_col, vec_col, n_probes=n_probes)
        .withColumn("nsd", dot(F.col("nv"), F.col("nv"))))

    probe = (F.explode("cells").alias("pcell") if n_probes > 1
             else F.col("cell").alias("pcell"))
    thr = float(threshold)
    id_t = assigned.schema["n_id"].dataType.simpleString()

    def drop_in_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["n_id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame(
                {"n_id": pd.Series([], dtype=object)})
        X = np.stack(pdf["nv"].to_numpy())
        sd = pdf["nsd"].to_numpy()
        dropped_mask = np.zeros(len(ids), dtype=bool)
        for i0 in range(0, len(ids), 1024):
            Xa = X[i0:i0 + 1024]
            acc = np.zeros((Xa.shape[0], X.shape[0]))
            for i in range(X.shape[1]):
                acc = acc + np.outer(Xa[:, i], X[:, i])
            cm = acc / np.sqrt(np.outer(sd[i0:i0 + 1024], sd))
            hit = ((ids[i0:i0 + 1024, None] < ids[None, :])
                   & (cm >= thr))
            dropped_mask |= hit.any(axis=0)
        return pd.DataFrame({"n_id": ids[dropped_mask]})

    dropped = (
        assigned.select("n_id", "nv", "nsd", probe)
        .groupBy("pcell")
        .applyInPandas(drop_in_cell, f"n_id {id_t}")
        .distinct())
    return (
        assigned.join(dropped.withColumn("_d", F.lit(True)),
                      ["n_id"], "left")
        .select(F.col("n_id").alias(id_col), "cell",
                F.coalesce(F.col("_d"), F.lit(False)).alias("dropped"))
        .withColumn("kept", ~F.col("dropped"))
        .drop("dropped"))


def jl_signs(in_dim: int, out_dim: int, seed: str = "jl:v1") -> list[list[float]]:
    """Deterministic ±1 sign matrix for the Achlioptas (2003) sparse
    JL transform, derived from md5 so ANY engine (or the DuckDB
    oracle) reproduces it bit-for-bit: sign[j][i] = +1 iff the first
    hex nibble of md5("{seed}:{j}:{i}") is even. Returned as out_dim
    rows of in_dim floats (the per-output-dim inner-product side)."""
    import hashlib

    return [
        [1.0 if int(hashlib.md5(
            f"{seed}:{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
         else -1.0 for i in range(in_dim)]
        for j in range(out_dim)]


def jl_project(df: DataFrame, in_dim: int, out_dim: int = 16,
               id_col: str = "vec_id", vec_col: str = "embedding",
               seed: str = "jl:v1",
               keep_cols: list[str] | None = None) -> DataFrame:
    """Random-projection (JL) embedding compression: out_dim
    inner products against broadcast ±1 sign rows, scaled by
    1/sqrt(out_dim). Per the JL lemma, pairwise distances are
    preserved within (1±ε) w.h.p. — the cheap first stage before
    storing / indexing 100 TB of embeddings at 4× fewer bytes.

    Determinism: each output dim is ONE left-fold inner product
    (aggregate over zip_with — the construction proven bit-identical
    to DuckDB's list_inner_product, see verify notes), and the sign
    matrix is md5-derived Python literals — no engine RNG anywhere.

    Plan: pure per-row Column algebra over literal arrays — a narrow
    scan-speed map, no shuffle, no UDF. ``keep_cols`` pass through
    unchanged (so callers needing the original vector alongside the
    projection do it in ONE pass — a join-back would scan the table
    twice; review catch). A vector whose length differs from
    ``in_dim`` FAILS LOUD (zip_with would otherwise null-pad and the
    null would silently propagate through the fold to a 100%-NULL
    compressed index; review catch).
    """
    signs = jl_signs(in_dim, out_dim, seed)
    v = as_double(vec_col)
    scale = 1.0 / (out_dim ** 0.5)

    def ip(srow: list[float]) -> Column:
        lit = F.array(*[F.lit(s) for s in srow])
        return F.aggregate(
            F.zip_with(v, lit, lambda x, s: x * s),
            F.lit(0.0), lambda acc, x: acc + x) * F.lit(scale)

    # assert_true yields NULL when the predicate holds and raises
    # otherwise — when(assert.isNull(), ...) pins the dim check into
    # the projection expression itself
    ok = F.assert_true(
        F.size(v) == in_dim,
        F.concat(F.lit(f"jl_project: expected {in_dim}-d vector, got "),
                 F.size(v).cast("string")))
    jl = F.when(ok.isNull(), F.array(*[ip(s) for s in signs]))
    return df.select(F.col(id_col),
                     *[F.col(c) for c in (keep_cols or [])],
                     jl.alias("jl_vec"))


def dim_sums(vectors: DataFrame, group_col: str = "label",
             vec_col: str = "embedding") -> DataFrame:
    """(grp, pos, s DECIMAL, n) — per-group per-dimension EXACT
    decimal sums of the embedding column, the additive half of the
    centroid/drift monitor: DECIMAL(27,6)-cast terms (the DSIR
    decimal-sum device — a float sum would be fold-order-dependent)
    make the aggregate order-independent AND mergeable, so the SAME
    transform runs as a streaming aggregation with bounded state
    (|groups|·dims rows; streaming/sketches.py::
    streaming_centroid_sums) bit-identical to the batch sums. The
    dim-exploded aggregate is the only corpus exchange (partial
    map-side combine on (grp, pos))."""
    dims = (vectors.select(F.col(group_col).alias("grp"),
                           F.posexplode(as_double(vec_col))
                           .alias("pos", "v")))
    return (dims.groupBy("grp", "pos")
            .agg(F.sum(F.col("v").cast("decimal(27,6)")).alias("s"),
                 F.count("*").alias("n")))


def centroids_from_sums(sums: DataFrame) -> DataFrame:
    """(grp, n_vecs, centroid ARRAY<DOUBLE>) readout from a
    ``dim_sums`` table — ONE string-routed IEEE division per
    dimension, |groups|·dims rows folded to |groups| arrays
    (array_sort on the unique pos key ⇒ deterministic element
    order). Everything here is model-sized."""
    c = (F.col("s").cast("string").cast("double")
         / F.col("n").cast("double"))
    return (sums.select("grp", "pos", c.alias("c"), "n")
            .groupBy("grp")
            .agg(F.max("n").cast("bigint").alias("n_vecs"),
                 F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "c"))),
                     lambda s: s["c"]).alias("centroid")))


def centroid_table(vectors: DataFrame, group_col: str = "label",
                   vec_col: str = "embedding") -> DataFrame:
    """(grp, n_vecs, centroid ARRAY<DOUBLE>) — the per-group mean
    embedding, EXACT cross-engine (``dim_sums`` +
    ``centroids_from_sums``; contracts there)."""
    return centroids_from_sums(dim_sums(vectors, group_col, vec_col))


def centroid_outliers(vectors: DataFrame, group_col: str = "label",
                      vec_col: str = "embedding",
                      id_col: str = "vec_id", k: int = 3) -> DataFrame:
    """(grp, id, dist_sq, outlier_rank) — each group's top-k FARTHEST
    vectors from its exact centroid: the mislabel/outlier screen a
    curation pipeline runs on labeled or source-grouped embeddings
    (a vector far from its own group's center is a labeling error, a
    contamination, or genuinely novel content worth a look) — the
    per-doc readout next to the group-grain centroid drift monitor.

    Exactness: centroids are the bit-exact ``centroid_table``
    (decimal sums, string-routed division); the squared distance is
    the repo's deterministic left fold (zip_with squared deltas,
    0.0-seeded aggregate ≡ DuckDB list_reduce — the cosine device);
    rank orders by (dist_sq DESC, id) — a total order ⇒ bit-exact.

    Shapes at 100 TB: one dim-exploded corpus aggregate (the centroid
    sums), a |groups|-row centroid broadcast back onto the corpus
    scan (map-only distance), and a per-group top-k that
    WindowGroupLimit prunes map-side — nothing corpus-sized past the
    first aggregate."""
    from pyspark.sql.window import Window
    cents = centroid_table(vectors, group_col, vec_col)
    v = vectors.select(F.col(group_col).alias("grp"),
                       F.col(id_col).alias("id"),
                       as_double(vec_col).alias("x"))
    dist = F.aggregate(
        F.zip_with(F.col("x"), F.col("centroid"),
                   lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda acc, t: acc + t)
    w = Window.partitionBy("grp").orderBy(F.col("dist_sq").desc(),
                                          F.col("id"))
    return (v.join(F.broadcast(cents.select("grp", "centroid")), "grp")
            .select("grp", "id", dist.alias("dist_sq"))
            .withColumn("outlier_rank", F.row_number().over(w))
            .filter(F.col("outlier_rank") <= k)
            .select("grp", "id", "dist_sq",
                    F.col("outlier_rank").cast("bigint")
                    .alias("outlier_rank")))


def centroid_drift_from_sums(sums: DataFrame) -> DataFrame:
    """Drift readout from a ``dim_sums`` table — the
    finish-from-the-sink half shared by the batch monitor and the
    streaming twin (the ``ks_from_counts`` pattern): the decimal sums
    are plain additive state, so a complete-mode streaming sink feeds
    this readout bit-identically to the batch path (tested)."""
    cents = centroids_from_sums(sums) \
        .localCheckpoint(eager=True)  # |groups| rows, consumed twice
    a = cents.select(F.col("grp").alias("group_a"),
                     F.col("n_vecs").alias("n_a"),
                     F.col("centroid").alias("ca"))
    b = cents.select(F.col("grp").alias("group_b"),
                     F.col("n_vecs").alias("n_b"),
                     F.col("centroid").alias("cb"))
    return (a.join(b, F.col("group_a") < F.col("group_b"))
            .select("group_a", "group_b", "n_a", "n_b",
                    cosine(F.col("ca"), F.col("cb"))
                    .alias("centroid_cos")))


def embedding_centroid_drift(vectors: DataFrame,
                             group_col: str = "label",
                             vec_col: str = "embedding") -> DataFrame:
    """Pairwise centroid cosine between embedding groups →
    (group_a, group_b, n_a, n_b, centroid_cos) — the EMBEDDING-space
    drift monitor next to the token-space TV/KS monitors: when a new
    source/snapshot/model-version lands, a centroid that swings away
    from its peers (low cosine) flags a representation shift long
    before token statistics move. Exact-decimal centroids
    (``centroid_table``), then the repo's deterministic left-fold
    cosine between bit-identical doubles ⇒ bit-exact cross-engine.

    Shapes (100 TB posture): one dim-exploded corpus aggregate; the
    pinned centroid table is |groups| rows, so the pair join is
    model-sized (never the corpus)."""
    return centroid_drift_from_sums(dim_sums(vectors, group_col,
                                             vec_col))


def embedding_covariance(vectors: DataFrame,
                         vec_col: str = "embedding") -> DataFrame:
    """Upper-triangle covariance matrix of the embedding distribution
    → (dim_i, dim_j, n, cov) with dim_i ≤ dim_j — the second-moment
    QA aggregate behind whitening/PCA decisions (anisotropy, dead or
    collinear dimensions) and the model-sized input an offline eigen
    step consumes.

    Exactness: per-row products x_i·x_j are double multiplies of
    exactly-widened floats, quantized to DECIMAL(27,6) and summed
    EXACTLY (order-free — the DSIR single-rounding device), same for
    the per-dim sums; the final cov = (Sxy − Sx·Sy/n)/(n−1) evaluates
    the identical IEEE expression on both engines (string-routed
    decimal→double hops). Bit-identical in Spark and DuckDB.

    One Arrow pass computes the quantized micro-integer sums
    vectorized in numpy (``cov_sums_exact_kernel`` — r16, guide §4.2:
    the all-JVM ``cov_pair_sums``/``cov_dim_sums`` form's
    nested-transform lambda is INTERPRETED at ~d²·struct cost per row
    and dominated the query wall). The result is bit-identical to
    ``covariance_from_sums(cov_pair_sums(v), cov_dim_sums(v))`` — the
    form the streaming covariance runs — pinned by
    ``test_cov_kernel_equals_expr`` and ``test_cov_kernel_ties_and_edges``.

    Shape at 100 TB: pair products form IN-ROW (the corpus never
    shuffles to be paired) and collapse map-side to d(d+1)/2 rows per
    partition; the only exchange is that partial-combined aggregate.
    Per-row cost is O(d²) — the covariance's arithmetic lower bound,
    not a plan artifact."""
    # one corpus pass: pair cells ride (i, j ≥ 0), per-dim sums ride
    # (i, -1) sentinel rows; the d²-row aggregate is pinned so the two
    # readout branches below share it, then the final arithmetic is
    # covariance_from_sums VERBATIM — the same expression tree the
    # streaming twin finishes with
    agg = pin(cov_sums_exact_kernel(vectors, vec_col)
              .groupBy("i", "j")
              .agg(F.sum("s").alias("s"), F.sum("n").alias("n")))
    pairs = (agg.filter(F.col("j") >= 0)
             .select("i", "j", F.col("s").alias("sxy"), "n"))
    dims = agg.filter(F.col("j") == -1).select(
        "i", F.col("s").alias("sx"))
    return covariance_from_sums(pairs, dims)


def cov_sums_exact_kernel(vectors: DataFrame,
                          vec_col: str = "embedding") -> DataFrame:
    """Per-batch EXACT covariance sufficient statistics — the
    quantized-decimal sums of ``cov_pair_sums``/``cov_dim_sums``
    computed in ONE vectorized Arrow pass instead of the interpreted
    nested-transform lambda. Output rows: pair cells (i, j≥0,
    s=Σ quantized x_i·x_j, n=cell count) plus per-dim sentinel rows
    (i, j=-1, s=Σ quantized x_i, n=dim count), so a single groupBy
    aggregate yields both sufficient-statistic tables.

    Bit-identity contract against the ``cov_pair_sums``/
    ``cov_dim_sums`` expressions (pinned by
    test_cov_kernel_equals_expr / test_cov_kernel_ties_and_edges):
    every per-row product is the IDENTICAL IEEE double multiply
    (numpy float64 == JVM), and its DECIMAL(27,6) quantization is
    reproduced exactly — round-half-up on the double's decimal
    value, computed as integer micro-units via an exact two-product
    residual (1e6 is 20-bit exact, so a Dekker split yields the
    product's full 106-bit value); elements that land inside one ulp
    of a .5 boundary — where binary-exact and shortest-repr rounding
    could diverge — fall back to Python ``Decimal(repr(x))``
    HALF_UP, the same shortest-repr route Spark's
    BigDecimal.valueOf takes. Micro-unit sums accumulate in
    overflow-checked int64 chunks into Python ints (order-free, like
    decimal SUM), and surface as DECIMAL(38,6) partials whose Spark
    SUM is again exact.

    Null/ragged semantics mirror those expressions: NULL arrays
    contribute nothing (explode-skip); rows with NULL elements or
    non-uniform lengths take a per-row Decimal slow path that emits
    null-skipping sums and slice-bounded cell counts. Non-finite
    elements raise — the expressions' ANSI cast would too.

    At 100 TB: same plan shape as the expressions (scan → narrow
    project → per-partition partials → one d²-row exchange)."""
    import pyarrow as pa

    def kernel(batches):
        # self-contained closure (bare-worker contract): stdlib +
        # numpy/pyarrow only, no module-level names
        import numpy as np
        from decimal import Decimal, ROUND_HALF_UP

        MICRO = Decimal("0.000001")
        out_schema = pa.schema([
            ("i", pa.int32()), ("j", pa.int32()),
            ("s", pa.decimal128(38, 6)), ("n", pa.int64())])

        def q1(x):
            """cast(double AS decimal(27,6)) in integer micros —
            Spark's shortest-repr HALF_UP route, one value."""
            if x is None:
                return None
            if not np.isfinite(x):
                raise ValueError(
                    f"cov_sums_exact_kernel: non-finite element {x!r} "
                    "(the expression form's ANSI decimal cast errors "
                    "here too)")
            return int(Decimal(repr(float(x)))
                       .quantize(MICRO, ROUND_HALF_UP).scaleb(6))

        def q_micro(A):
            """Vectorized q1 over a float64 ndarray (no NaN/Inf).
            Returns int64 micros; boundary cases re-done via q1."""
            hi = A * 1e6
            # exact two-product residual: split A (2^27+1 trick);
            # 1e6 has a 20-bit mantissa so each half-product is exact
            t = A * 134217729.0
            ah = t - (t - A)
            al = A - ah
            err = (ah * 1e6 - hi) + al * 1e6
            n0 = np.rint(hi)                       # half-even candidate
            delta = (hi - n0) + err                # exact offset from n0
            micro = n0 + (delta > 0.5) - (delta < -0.5)
            # within an ulp of the .5 boundary the binary value and the
            # shortest repr can round apart — resolve those exactly
            band = (np.abs(np.abs(delta) - 0.5)
                    <= 4.0 * np.spacing(np.abs(hi)) + 1e-12)
            band |= np.abs(hi) >= 2.0 ** 53        # rint unreliable
            if band.any():
                flat = micro.ravel()
                src = A.ravel()
                for k in np.flatnonzero(band.ravel()):
                    flat[k] = q1(src[k])
            return micro.astype(np.int64)

        def col_sums(M):
            """Exact per-column sums of int64 micros → Python ints
            (chunked so no int64 overflow is possible)."""
            if not M.size:
                return [0] * M.shape[1]
            cap = int(np.abs(M).max()) + 1
            step = max(1, (2 ** 62) // cap)
            tot = [0] * M.shape[1]
            for s in range(0, len(M), step):
                part = M[s:s + step].sum(axis=0)
                tot = [a + int(b) for a, b in zip(tot, part)]
            return tot

        for batch in batches:
            col = batch.column(0)
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            n_rows = len(col)
            if n_rows == 0:
                continue
            pair_sum: dict = {}    # (i, j) -> micro int
            pair_n: dict = {}
            dim_sum: dict = {}     # i -> micro int
            dim_n: dict = {}
            lengths = np.asarray(col.value_lengths())
            valid = np.asarray(col.is_valid())
            flat = col.flatten()   # drops null-row slots, keeps elements
            elem_nulls = flat.null_count > 0
            lens_v = lengths[valid]
            uniform = len(lens_v) > 0 and lens_v.min() == lens_v.max()

            def slow_row(vals):
                m = [q1(v) for v in vals]
                L = len(m)
                for i in range(L):
                    dim_n[i] = dim_n.get(i, 0) + 1
                    if m[i] is not None:
                        dim_sum[i] = dim_sum.get(i, 0) + m[i]
                    else:
                        dim_sum.setdefault(i, 0)
                    for j in range(i, L):
                        key = (i, j)
                        pair_n[key] = pair_n.get(key, 0) + 1
                        if m[i] is not None and m[j] is not None:
                            p = q1(vals[i] * vals[j])
                            pair_sum[key] = pair_sum.get(key, 0) + p
                        else:
                            pair_sum.setdefault(key, 0)

            huge = False
            if uniform and not elem_nulls and valid.all():
                L = int(lens_v[0])
                X = flat.to_numpy(zero_copy_only=False).reshape(n_rows, L)
                if not np.isfinite(X).all():
                    bad = X[~np.isfinite(X)][0]
                    q1(float(bad))          # raises with the message
                # micros past 2^53 don't fit the fast path's float64
                # staging — whole batch takes the exact Decimal path
                huge = bool(L) and (np.abs(X).max() ** 2 * 1e6 >= 2.0 ** 53)
            if uniform and not elem_nulls and valid.all() and not huge:
                iu, ju = np.triu_indices(L)
                npairs = len(iu)
                psums = [0] * npairs
                dsums = [0] * L
                # row chunks bound the O(rows·d²) staging temporaries
                step = max(1, (1 << 21) // max(npairs, 1))
                for s in range(0, n_rows, step):
                    Xc = X[s:s + step]
                    for acc, M in ((psums, q_micro(Xc[:, iu] * Xc[:, ju])),
                                   (dsums, q_micro(Xc))):
                        for k, v in enumerate(col_sums(M)):
                            acc[k] += v
                for k in range(npairs):
                    key = (int(iu[k]), int(ju[k]))
                    pair_sum[key] = pair_sum.get(key, 0) + psums[k]
                    pair_n[key] = pair_n.get(key, 0) + n_rows
                for i in range(L):
                    dim_sum[i] = dim_sum.get(i, 0) + dsums[i]
                    dim_n[i] = dim_n.get(i, 0) + n_rows
            else:
                for r in range(n_rows):
                    if not valid[r]:
                        continue          # explode skips NULL arrays
                    slow_row(col[r].as_py())

            if not pair_n:
                continue
            keys = ([(i, -1) for i in sorted(dim_sum)]
                    + sorted(pair_n))
            to_dec = (lambda v: Decimal(v).scaleb(-6))

            def cell(i, j):
                return (dim_sum[i], dim_n[i]) if j < 0 else \
                    (pair_sum[(i, j)], pair_n[(i, j)])

            yield pa.RecordBatch.from_arrays([
                pa.array([k[0] for k in keys], pa.int32()),
                pa.array([k[1] for k in keys], pa.int32()),
                pa.array([to_dec(cell(*k)[0]) for k in keys],
                         pa.decimal128(38, 6)),
                pa.array([cell(*k)[1] for k in keys], pa.int64()),
            ], schema=out_schema)

    # the kernel inherits the INPUT's partitioning (r12 lesson): a
    # single-file fixture scan would run it on 1 core; spread()
    # no-ops once the scan itself is parallel, so at scale this adds
    # no exchange
    return (spread(vectors.selectExpr(
        f"transform({vec_col}, x -> cast(x AS double)) AS v"))
        .mapInArrow(kernel, "i int, j int, s decimal(38,6), n long"))


def cov_pair_sums(vectors: DataFrame,
                  vec_col: str = "embedding") -> DataFrame:
    """(i, j, sxy, n) quantized-exact second-moment sums — the
    additive half of the covariance sufficient statistic. Decimal
    sums are plain additive aggregates, so a complete-mode streaming
    aggregation of this exact expression is BIT-identical to the
    batch table under any micro-batch split
    (streaming/sketches.py::streaming_embedding_covariance)."""
    pair_expr = f"""
      flatten(transform({vec_col}, (x, i) ->
        transform(slice({vec_col}, i + 1, size({vec_col}) - i),
                  (y, j) -> struct(i AS i, i + j AS j,
                    cast(cast(x AS double) * cast(y AS double)
                         AS decimal(27,6)) AS p))))
    """
    return (vectors.select(F.explode(F.expr(pair_expr)).alias("s"))
            .select("s.i", "s.j", "s.p")
            .groupBy("i", "j")
            .agg(F.sum("p").alias("sxy"), F.count("*").alias("n")))


def cov_dim_sums(vectors: DataFrame,
                 vec_col: str = "embedding") -> DataFrame:
    """(i, sx) quantized-exact first-moment sums — the other additive
    half (same streaming-twin property)."""
    return (vectors.select(F.explode(F.expr(
        f"transform({vec_col}, (x, i) -> struct(i AS i,"
        f" cast(cast(x AS double) AS decimal(27,6)) AS v))")).alias("s"))
        .groupBy("s.i").agg(F.sum("s.v").alias("sx"))
        .select(F.col("i"), "sx"))


def covariance_from_sums(sxy: DataFrame, dims: DataFrame) -> DataFrame:
    """Covariance readout from the two sufficient-statistic tables —
    the finish-from-the-sink half shared by ``embedding_covariance``
    (batch) and the streaming twin's complete-mode sinks (the
    ks_from_counts pattern). Everything here is d²-sized."""
    d = (sxy
         .join(F.broadcast(dims.select(F.col("i"),
                                       F.col("sx").alias("sxi"))), "i")
         .join(F.broadcast(dims.select(F.col("i").alias("j"),
                                       F.col("sx").alias("sxj"))), "j"))

    def _s(c):
        return F.col(c).cast("string").cast("double")

    nn = F.col("n").cast("double")
    cov = F.when(
        F.col("n") > 1,
        (_s("sxy") - _s("sxi") * _s("sxj") / nn) / (nn - F.lit(1.0)))
    return d.select(F.col("i").cast("int").alias("dim_i"),
                    F.col("j").cast("int").alias("dim_j"),
                    F.col("n").cast("bigint").alias("n"),
                    cov.alias("cov"))


def embedding_pca_variance(vectors: DataFrame,
                           vec_col: str = "embedding",
                           cov: DataFrame | None = None) -> DataFrame:
    """PCA spectrum readout over ``embedding_covariance``'s output →
    (component, eigenvalue, explained_frac, cum_frac), eigenvalues
    descending — how many directions carry the corpus's variance (the
    whitening/compression decision input; a near-zero tail means JL/
    PQ budgets can shrink).

    The covariance is computed DISTRIBUTED (bit-exact, see
    ``embedding_covariance``); only the d(d+1)/2-cell matrix — a
    bounded model artifact, never corpus-sized (the k-means codebook
    contract) — collects to the driver for numpy's symmetric eigh.
    Rows-only by design (an eigendecomposition is not
    SQL-expressible); the test pins the invariants instead: Σλ equals
    the covariance trace, λ are non-negative up to the DECIMAL(27,6)
    quantization floor, and fractions telescope to 1.

    ``cov``: optionally a PRECOMPUTED covariance table (the exact
    operator's (dim_i, dim_j, n, cov) schema) so a deployment
    computing the whole second-moment family (covariance +
    correlation + PCA) pays the corpus pass ONCE — same output either
    way (the readout is a pure function of the matrix)."""
    import numpy as np

    rows = (cov if cov is not None
            else embedding_covariance(vectors, vec_col)).collect()
    d = max(r["dim_j"] for r in rows) + 1
    C = np.zeros((d, d))
    for r in rows:
        C[r["dim_i"], r["dim_j"]] = C[r["dim_j"], r["dim_i"]] = r["cov"]
    lam = np.linalg.eigvalsh(C)[::-1]          # descending
    tot = float(lam.sum())
    spark = vectors.sparkSession
    out = [(int(i), float(v), float(v / tot) if tot > 0 else 0.0)
           for i, v in enumerate(lam)]
    cum, acc = [], 0.0
    for _, _, f in out:
        acc += f
        cum.append(acc)
    return spark.createDataFrame(
        [(c, v, f, cf) for (c, v, f), cf in zip(out, cum)],
        "component INT, eigenvalue DOUBLE, explained_frac DOUBLE,"
        " cum_frac DOUBLE")


def embedding_covariance_arrow(vectors: DataFrame,
                               vec_col: str = "embedding") -> DataFrame:
    """Arrow-kernel twin of ``embedding_covariance`` — the measured
    fast path: each Arrow batch computes its Gram matrix with ONE
    numpy float64 matmul (BLAS), emitting d(d+1)/2 partial sums + the per-dim sums + the
    batch count; partials reduce in a tiny d²-row aggregate. Same
    output schema and the same final (Sxy − Sx·Sy/n)/(n−1).

    Trade (stated, tested): float64 matmul accumulates in
    hardware-dependent order, so sums are NOT the quantized-decimal
    left folds of the exact operator — results agree to ~1e-9
    relative (equality-tested against the exact path), but this twin
    is rows-only, not oracle-backed. Use it when the interpreted-HOF
    constant of the exact path dominates (measured 6.7 s → sub-second
    at sf0.1, 5 000 × 64); use the exact path when cross-engine
    bit-reproducibility matters.

    Scale shape is identical-or-better: per-partition O(rows·d²)
    BLAS, shuffle = d²-row partials per partition (less than the
    exact path's struct stream), broadcast-free."""
    # self-contained closure (bare-worker contract): only stdlib +
    # numpy/pandas inside, schema captured by value
    def kernel(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            n, d = X.shape
            G = X.T @ X                      # d×d Gram, one BLAS call
            s = X.sum(axis=0)
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame({
                "i": iu.astype("int32"), "j": ju.astype("int32"),
                "g": G[iu, ju], "si": s[iu], "sj": s[ju],
                "nb": np.full(len(iu), n, dtype="int64")})

    # NULL rows drop BEFORE the kernel (the winnowing_fingerprints
    # isNotNull device) — the exact twin silently skips them via
    # explode, and np.stack would crash on None; the two paths must
    # share one row universe
    parts = (vectors.filter(F.col(vec_col).isNotNull())
             .selectExpr(
        f"transform({vec_col}, x -> cast(x as double)) AS v")
        .mapInPandas(kernel, "i int, j int, g double, si double,"
                             " sj double, nb long"))
    agg = (parts.groupBy("i", "j")
           .agg(F.sum("g").alias("sxy"), F.sum("si").alias("sxi"),
                F.sum("sj").alias("sxj"), F.sum("nb").alias("n")))
    nn = F.col("n").cast("double")
    cov = F.when(F.col("n") > 1,
                 (F.col("sxy") - F.col("sxi") * F.col("sxj") / nn)
                 / (nn - F.lit(1.0)))
    return agg.select(F.col("i").alias("dim_i"),
                      F.col("j").alias("dim_j"),
                      F.col("n").cast("bigint").alias("n"),
                      cov.alias("cov"))


def embedding_correlation(vectors: DataFrame,
                          vec_col: str = "embedding",
                          cov: DataFrame | None = None) -> DataFrame:
    """Pearson correlation matrix from the bit-exact covariance:
    corr_ij = cov_ij / sqrt(var_i · var_j) → (dim_i, dim_j, n, corr)
    — the scale-free collinearity readout (redundant-dimension
    detection). IEEE sqrt is CORRECTLY ROUNDED on both engines and
    the covariances are bit-identical, so the correlation is
    bit-exact too (same multiply/divide order both sides).
    Zero-variance dims → NULL corr (expression-level guard, ANSI).
    Shapes: one covariance pass + a d-row broadcast of the diagonal;
    everything after the aggregate is d²-sized.

    ``cov``: optionally a PRECOMPUTED covariance table (same schema as
    ``embedding_covariance``) — the one-pass family device: compute
    the covariance once, derive correlation AND PCA from it. Output
    identical either way (pure function of the matrix)."""
    cov = (cov if cov is not None
           else embedding_covariance(vectors, vec_col)).localCheckpoint(
        eager=True)  # d²-sized; feeds the diag broadcast AND the body
    diag = (cov.filter(F.col("dim_i") == F.col("dim_j"))
            .select(F.col("dim_i").alias("d_"),
                    F.col("cov").alias("var_")))
    out = (cov
           .join(F.broadcast(diag.select(F.col("d_").alias("dim_i"),
                                         F.col("var_").alias("vi"))),
                 "dim_i")
           .join(F.broadcast(diag.select(F.col("d_").alias("dim_j"),
                                         F.col("var_").alias("vj"))),
                 "dim_j"))
    corr = F.when((F.col("vi") > 0) & (F.col("vj") > 0),
                  F.col("cov") / (F.sqrt("vi") * F.sqrt("vj")))
    return out.select("dim_i", "dim_j", "n", corr.alias("corr"))
