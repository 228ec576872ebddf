"""Vector/multimodal-domain DuckDB oracles. Flat SQL dict — window
membership is derived in plans/oracles.py. Split out in round 15
(r14 verdict #6)."""

from __future__ import annotations

from .oracles_common import _COS  # noqa: F401

SQL: dict[str, str] = {}

SQL["embedding_cosine_neardup"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       {_COS.format(a='a.v', b='b.v')} AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_COS.format(a='a.v', b='b.v')} >= 0.4
"""

SQL["knn_bruteforce"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         {_COS.format(a='q.v', b='c.v')} AS cos
  FROM q JOIN e c ON q.vec_id <> c.vec_id)
SELECT q_id, n_id, cos, rn FROM (
  SELECT q_id, n_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
  FROM scored
) WHERE rn <= 5
"""

SQL["embedding_norm_stats"] = """
WITH n AS (
  SELECT label,
         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings)
SELECT label, COUNT(*) AS n_vecs,
       CAST(SUM(CAST(nrm AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS avg_norm,
       MIN(nrm) AS min_norm,
       MAX(nrm) AS max_norm
FROM n GROUP BY label
"""

SQL["multimodal_binary_meta"] = """
SELECT doc_id,
       octet_length(encode(text)) AS byte_len,
       sha256(text) AS content_sha256,  -- this DuckDB's sha256 is VARCHAR-only; hashes the same UTF-8 bytes
       lower(substring(hex(encode(text)), 1, 16)) AS prefix_hex
FROM documents
"""

SQL["embedding_quantize_stats"] = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS max_abs
  FROM e)
SELECT vec_id, max_abs,
       list_max([abs(v[i] - CAST(floor(v[i] * (127.0 / max_abs) + 0.5)
                                 AS INTEGER) / (127.0 / max_abs))
                 for i in range(1, len(v) + 1)]) AS max_quant_err,
       CAST(list_sum([abs(CAST(floor(v[i] * (127.0 / max_abs) + 0.5)
                                AS INTEGER))
                      for i in range(1, len(v) + 1)]) AS BIGINT) AS l1_q
FROM s
"""

# same reachability fixpoint as dedup_cluster_keepers, over the exact
# cosine pair graph instead of the Jaccard one
SQL["semantic_dedup_clusters"] = f"""
WITH RECURSIVE e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE {_COS.format(a='a.v', b='b.v')} >= 0.4
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id
), comp AS (
  SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
)
SELECT cluster_id AS keeper_id, CAST(COUNT(*) AS BIGINT) AS n_members
FROM comp GROUP BY cluster_id
"""

# Achlioptas JL projection distortion (late r6): the ±1 sign matrix
# is md5-derived Python literals (operators/similarity.py::jl_signs)
# inlined below, so both engines project with the identical matrix;
# each output dim is list_inner_product (≡ Spark's zip_with fold,
# proven bit-identical), distances are the same left-fold squares.
from ..operators.similarity import jl_signs as _jl_signs

_JL = _jl_signs(64, 16)

_JL_PROJ = ", ".join(
    "list_inner_product(v, CAST(["
    + ", ".join(str(x) for x in row)
    + "] AS DOUBLE[])) * 0.25" for row in _JL)

_D2 = ("list_reduce(list_transform(list_zip({a}, {b}), "
       "s -> (s[1] - s[2]) * (s[1] - s[2])), (x, y) -> x + y)")

SQL["jl_projection_distortion"] = f"""
WITH p AS (
  SELECT vec_id, v, [{_JL_PROJ}] AS jl_vec
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id < 100)
), d AS (
  SELECT {_D2.format(a='a.jl_vec', b='b.jl_vec')} AS d2p,
         {_D2.format(a='a.v', b='b.v')} AS d2v
  FROM p a JOIN p b ON a.vec_id < b.vec_id
), r AS (
  SELECT d2p / d2v AS r FROM d WHERE d2v > 0
)
SELECT COUNT(*) AS n_pairs,
       CAST(SUM(CAST(r AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)
         AS mean_ratio,
       MIN(r) AS min_ratio,
       MAX(r) AS max_ratio,
       CAST(SUM(CASE WHEN r >= 0.6 AND r <= 1.4 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_within_40pct
FROM r
"""

# Embedding-space drift monitor (r10): exact-decimal per-dimension
# centroid means (the DSIR decimal-sum device; one string-routed
# division per dim), then the deterministic left-fold cosine
# (list_inner_product ≡ Spark's aggregate/zip_with fold — proven
# bit-identical) between |groups|-sized centroid arrays. Parallel
# positional unnest (1-based here, 0-based in Spark — pos is only an
# ordering key and never projected).
SQL["source_embedding_drift"] = """
WITH dims AS (
  SELECT label AS grp, i, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
sums AS (
  SELECT grp, i, SUM(CAST(v AS DECIMAL(27,6))) AS s, COUNT(*) AS n
  FROM dims GROUP BY grp, i),
cents AS (
  SELECT grp, CAST(MAX(n) AS BIGINT) AS n_vecs,
         list(CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
              ORDER BY i) AS centroid
  FROM sums GROUP BY grp)
SELECT a.grp AS group_a, b.grp AS group_b,
       a.n_vecs AS n_a, b.n_vecs AS n_b,
       list_inner_product(a.centroid, b.centroid)
         / sqrt(list_inner_product(a.centroid, a.centroid)
                * list_inner_product(b.centroid, b.centroid))
         AS centroid_cos
FROM cents a JOIN cents b ON a.grp < b.grp
"""

# Embedding covariance: per-row products quantized DECIMAL(27,6) and
# summed exactly (the DSIR device), per-dim sums likewise; the final
# (Sxy - Sx*Sy/n)/(n-1) is the IDENTICAL IEEE expression (string-
# routed decimal->double hops) -> bit-exact. 1-based unnest indices
# shift to the operator's 0-based dims.
SQL["embedding_covariance_matrix"] = """
WITH e AS (
  SELECT vec_id, i - 1 AS i, CAST(v[i] AS DOUBLE) AS x
  FROM (SELECT vec_id, embedding AS v,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings)
), sxy AS (
  SELECT a.i AS i, b.i AS j, COUNT(*) AS n,
         SUM(CAST(a.x * b.x AS DECIMAL(27,6))) AS sxy
  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
), dims AS (
  SELECT i, SUM(CAST(x AS DECIMAL(27,6))) AS sx FROM e GROUP BY i
)
SELECT CAST(s.i AS INT) AS dim_i, CAST(s.j AS INT) AS dim_j,
       CAST(s.n AS BIGINT) AS n,
       CASE WHEN s.n > 1 THEN
         (CAST(CAST(s.sxy AS VARCHAR) AS DOUBLE)
          - CAST(CAST(da.sx AS VARCHAR) AS DOUBLE)
            * CAST(CAST(db.sx AS VARCHAR) AS DOUBLE)
            / CAST(s.n AS DOUBLE))
         / (CAST(s.n AS DOUBLE) - 1.0)
       END AS cov
FROM sxy s JOIN dims da ON s.i = da.i
           JOIN dims db ON s.j = db.i
"""

# Pearson correlation from the bit-exact covariance: IEEE sqrt is
# correctly rounded on both engines, so corr = cov/(sqrt(vi)*sqrt(vj))
# over bit-identical covs is bit-exact; zero-variance dims -> NULL.
SQL["embedding_correlation_matrix"] = """
WITH e AS (
  SELECT vec_id, i - 1 AS i, CAST(v[i] AS DOUBLE) AS x
  FROM (SELECT vec_id, embedding AS v,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings)
), sxy AS (
  SELECT a.i AS i, b.i AS j, COUNT(*) AS n,
         SUM(CAST(a.x * b.x AS DECIMAL(27,6))) AS sxy
  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
), dims AS (
  SELECT i, SUM(CAST(x AS DECIMAL(27,6))) AS sx FROM e GROUP BY i
), cov AS (
  SELECT CAST(s.i AS INT) AS dim_i, CAST(s.j AS INT) AS dim_j,
         CAST(s.n AS BIGINT) AS n,
         CASE WHEN s.n > 1 THEN
           (CAST(CAST(s.sxy AS VARCHAR) AS DOUBLE)
            - CAST(CAST(da.sx AS VARCHAR) AS DOUBLE)
              * CAST(CAST(db.sx AS VARCHAR) AS DOUBLE)
              / CAST(s.n AS DOUBLE))
           / (CAST(s.n AS DOUBLE) - 1.0)
         END AS cov
  FROM sxy s JOIN dims da ON s.i = da.i
             JOIN dims db ON s.j = db.i
), diag AS (
  SELECT dim_i AS d_, cov AS var_ FROM cov WHERE dim_i = dim_j
)
SELECT c.dim_i, c.dim_j, c.n,
       CASE WHEN vi.var_ > 0 AND vj.var_ > 0
            THEN c.cov / (sqrt(vi.var_) * sqrt(vj.var_)) END AS corr
FROM cov c JOIN diag vi ON c.dim_i = vi.d_
           JOIN diag vj ON c.dim_j = vj.d_
"""

# Perceptual image near-dup (r12): the Spark side EARNS each 64-bit
# dHash end-to-end (sha256-nibble pixels → real PNG encode →
# from-scratch decode → box downsample → gradient bits → pigeonhole
# Hamming join); this oracle derives the identical bits directly from
# the nibble comparisons — bit r*8+c is set iff nibble(r*9+c) >
# nibble(r*9+c+1) over the 72 nibbles of sha256(text) ‖
# sha256(text||':1') — because the fixture pixels are 64+8·nibble and
# both variants (2× NN upscale, +16 brightness) are dHash-invariant
# by construction (see operators/multimodal.py::synthetic_doc_images).
# Exact 500-image self-join is the oracle-side ground truth; the
# engine's pigeonhole join is complete for Hamming ≤ 3 ≥ the 2 asked.
def _dhash_bits_expr(h1: str = "h1", h2: str = "h2") -> str:
    """The 64-bit dHash as SQL over the 72 hex nibbles of two sha256
    columns (the fixture's pixel law is 64+8·nibble, so pixel
    comparisons reduce to nibble strpos comparisons — the −1 cancels
    in >). Shared by the image fixture and the per-frame video
    fixture (different digest columns per frame)."""
    def nib(p: int) -> str:
        if p < 64:
            return (f"strpos('0123456789abcdef', "
                    f"substring({h1}, {p + 1}, 1))")
        return (f"strpos('0123456789abcdef', "
                f"substring({h2}, {p - 63}, 1))")
    return " + ".join(
        f"CASE WHEN {nib(r * 9 + c)} > {nib(r * 9 + c + 1)} "
        f"THEN CAST({-(1 << 63) if r * 8 + c == 63 else (1 << (r * 8 + c))} "
        f"AS BIGINT) ELSE 0 END"
        for r in range(8) for c in range(8))

_DHASH_BITS = _dhash_bits_expr()

SQL["image_dhash_neardup"] = f"""
WITH d AS (
  SELECT doc_id, sha256(text) AS h1, sha256(text || ':1') AS h2
  FROM documents WHERE text IS NOT NULL
), h AS (
  SELECT doc_id, ({_DHASH_BITS}) AS dh FROM d
), imgs AS (
  SELECT CAST(doc_id AS VARCHAR) || ':orig' AS img_id, dh FROM h
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR) || ':up2', dh FROM h WHERE doc_id % 3 = 0
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR) || ':b16', dh FROM h WHERE doc_id % 5 = 0
)
SELECT a.img_id AS img_a, b.img_id AS img_b,
       CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS hamming
FROM imgs a JOIN imgs b ON a.img_id < b.img_id
WHERE bit_count(xor(a.dh, b.dh)) <= 2
"""

# Video perceptual near-dup (r12): per-frame dHashes from the same
# nibble law (frame j hashes sha256(text||':fj') / ':fj:1'), clips
# join on shared frame hashes (>= 3) — the engine earns each hash
# through real animated-GIF LZW encode -> decode; the rotated-palette
# re-encode decodes to identical pixels so it shares all 6, the
# every-2nd-frame subsample shares exactly 3.
_VIDEO_FRAME_SELECTS = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {j} AS fi, ({_dhash_bits_expr()}) AS dh\n"
    f"  FROM (SELECT doc_id, sha256(text || ':f{j}') AS h1,\n"
    f"               sha256(text || ':f{j}:1') AS h2 FROM d)"
    for j in range(6))

SQL["video_frame_neardup"] = f"""
WITH d AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
), fh AS (
{_VIDEO_FRAME_SELECTS}
), vids AS (
  SELECT CAST(doc_id AS VARCHAR) || ':orig' AS vid_id, dh FROM fh
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR) || ':sub2', dh FROM fh
  WHERE doc_id % 3 = 0 AND fi % 2 = 0
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR) || ':re', dh FROM fh WHERE doc_id % 5 = 0
), s AS (
  SELECT DISTINCT vid_id, dh FROM vids
)
SELECT a.vid_id AS vid_a, b.vid_id AS vid_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM s a JOIN s b ON a.dh = b.dh AND a.vid_id < b.vid_id
GROUP BY 1, 2
HAVING COUNT(*) >= 3
"""

# Canonical keepers over the perceptual pair graph: the
# dedup_cluster_keepers recursive-CTE reachability fixpoint pointed at
# the dHash pairs above. MIN over VARCHAR ids is byte-wise on both
# engines (ASCII ids) ⇒ identical labels.
SQL["image_dedup_keepers"] = f"""
WITH RECURSIVE d AS (
  SELECT doc_id, sha256(text) AS h1, sha256(text || ':1') AS h2
  FROM documents WHERE text IS NOT NULL
), h AS (
  SELECT doc_id, ({_DHASH_BITS}) AS dh FROM d
), imgs AS (
  SELECT CAST(doc_id AS VARCHAR) || ':orig' AS img_id, dh FROM h
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR) || ':up2', dh FROM h WHERE doc_id % 3 = 0
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR) || ':b16', dh FROM h WHERE doc_id % 5 = 0
), p AS (
  SELECT a.img_id AS doc_a, b.img_id AS doc_b
  FROM imgs a JOIN imgs b ON a.img_id < b.img_id
  WHERE bit_count(xor(a.dh, b.dh)) <= 2
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION
  SELECT doc_b, doc_a FROM p
), reach(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id
), comp AS (
  SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
)
SELECT cluster_id AS keeper_id, CAST(COUNT(*) AS BIGINT) AS n_members
FROM comp GROUP BY 1
"""

# Per-group embedding outliers: the drift oracle's exact centroid CTE
# (decimal dim sums, string-routed division, ORDER BY i lists), then
# list_reduce squared-delta distance (≡ Spark's 0.0-seeded aggregate
# over zip_with — the cosine-fold device) and a total-order rank.
SQL["embedding_outlier_docs"] = """
WITH dims AS (
  SELECT label AS grp, i, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
sums AS (
  SELECT grp, i, SUM(CAST(v AS DECIMAL(27,6))) AS s, COUNT(*) AS n
  FROM dims GROUP BY grp, i),
cents AS (
  SELECT grp,
         list(CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
              ORDER BY i) AS centroid
  FROM sums GROUP BY grp),
v AS (
  SELECT label AS grp, vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
  FROM embeddings),
d AS (
  SELECT v.grp, v.vec_id,
         list_reduce(list_transform(list_zip(v.x, c.centroid),
                                    s -> (s[1] - s[2]) * (s[1] - s[2])),
                     (a, b) -> a + b) AS dist_sq
  FROM v JOIN cents c ON v.grp = c.grp),
r AS (
  SELECT grp, vec_id, dist_sq,
         row_number() OVER (PARTITION BY grp
                            ORDER BY dist_sq DESC, vec_id) AS rk
  FROM d)
SELECT grp AS label, vec_id, dist_sq,
       CAST(rk AS BIGINT) AS outlier_rank
FROM r WHERE rk <= 3
"""
