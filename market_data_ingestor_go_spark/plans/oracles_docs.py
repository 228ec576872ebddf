"""Documents-domain DuckDB oracles (dedup, curation, LM-quality,
retrieval, decontamination). Flat SQL dict — window membership is
derived in plans/oracles.py. Split out in round 15 (r14 verdict
#6)."""

from __future__ import annotations

from .oracles_common import _COS  # noqa: F401

SQL: dict[str, str] = {}

SQL["token_frequencies"] = """
SELECT token, COUNT(*) AS n FROM (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents)
GROUP BY token
ORDER BY n DESC, token
LIMIT 20
"""

SQL["dedup_exact"] = """
SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
FROM documents
GROUP BY text
"""

SQL["dedup_fingerprint"] = """
SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
       MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""

_SHINGLES = """
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, len(w) - 1)]) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents)
  WHERE len(w) >= 3
"""

_JACCARD_PAIRS = f"""
WITH s AS ({_SHINGLES})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jacc
FROM s a JOIN s b ON a.doc_id < b.doc_id
"""

SQL["ngram_jaccard_neardup"] = f"""
SELECT doc_a, doc_b, jacc FROM ({_JACCARD_PAIRS}) WHERE jacc >= 0.6
"""

# MinHash+LSH verifies candidates with exact Jaccard, and banding
# recall at this threshold/data is 1.0 (asserted in tests at sf0.01) —
# so the exact-Jaccard SQL is a valid oracle for the LSH path too.
SQL["minhash_neardup"] = SQL["ngram_jaccard_neardup"]

_STOP = "['the', 'a', 'and', 'of', 'to']"

SQL["text_langid"] = f"""
WITH t AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> list_contains({_STOP}, x))) AS n_stop
  FROM documents)
SELECT doc_id, lang,
       CASE WHEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.03
            THEN 'en' ELSE 'other' END AS lang_pred,
       (CASE WHEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.03
             THEN 'en' ELSE 'other' END = lang) AS agree
FROM t
"""

SQL["text_repetition"] = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents),
s AS (
  SELECT doc_id,
         greatest(len(w) - 2, 0) AS n_ngrams,
         CASE WHEN len(w) >= 3 THEN
           len(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              for i in range(1, len(w) - 1)]))
         ELSE 0 END AS n_distinct
  FROM t)
SELECT doc_id,
       CAST(n_ngrams AS INTEGER) AS n_ngrams,
       CAST(n_distinct AS INTEGER) AS n_distinct,
       CASE WHEN n_ngrams > 0 THEN
         CAST(1.0 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / n_ngrams
       ELSE CAST(0.0 AS DOUBLE) END AS rep_ratio
FROM s
"""

# hash-bucket fragment shared by the training-pipeline oracles
# (mirrors operators/training.py::hash_bucket — md5 so both engines
# agree bit-for-bit)
_BUCKET = ("CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
           "AS BIGINT) % {n}")

_NTOK = "len(regexp_split_to_array(trim(text), '\\s+'))"

SQL["pack_sequences_chunked"] = f"""
WITH t AS (
  SELECT doc_id, {_BUCKET.format(n=32)} AS stream,
         CAST({_NTOK} AS BIGINT) AS n_tokens
  FROM documents),
s AS (
  SELECT doc_id, stream, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
              AS BIGINT) AS start_offset
  FROM t)
SELECT doc_id, stream, CAST(n_tokens AS INTEGER) AS n_tokens, start_offset,
       CAST(start_offset // 2048 AS BIGINT) AS chunk_id
FROM s
"""

SQL["train_test_split_hash"] = f"""
WITH b AS (
  SELECT {_BUCKET.format(n=100)} AS bk, CAST({_NTOK} AS BIGINT) AS n_tokens
  FROM documents)
SELECT CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM b GROUP BY 1
"""

SQL["corpus_mix"] = f"""
WITH g AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM({_NTOK}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang)
SELECT lang, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS BIGINT)
         AS token_share,
       (CAST(1.0 AS DOUBLE) / COUNT(*) OVER ())
         / (CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS BIGINT))
         AS mix_weight
FROM g
"""

# patterns mirror functions/text.py::PII_PATTERNS verbatim (both are
# Java-regex ∩ RE2-safe); DuckDB regexp_replace needs the 'g' flag
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

_PII_PHONE = "\\+?[0-9][0-9 ()-]{7,}[0-9]"

_PII_IPV4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

SQL["pii_scrub_stats"] = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INTEGER) AS n_email,
       CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INTEGER) AS n_phone,
       length(regexp_replace(regexp_replace(regexp_replace(text,
              '{_PII_EMAIL}', '[PII]', 'g'),
              '{_PII_PHONE}', '[PII]', 'g'),
              '{_PII_IPV4}', '[PII]', 'g')) AS clean_len
FROM documents
"""

# weighted_resample's keep-coin is md5('resample:v1:' || id) — the same
# engine-independent construction as _BUCKET, so the sampled SET (not
# just its size) matches bit-for-bit across engines.
SQL["stratified_resample_stats"] = f"""
WITH kept AS (
  SELECT lang, text FROM documents
  WHERE (CAST(concat('0x', substring(md5(concat('resample:v1:',
            CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 1000000)
        / 1000000.0
        < CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.25 ELSE 1.0 END)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM({_NTOK}) AS BIGINT) AS n_tokens
FROM kept GROUP BY lang
"""

# the curation funnel composed end-to-end: quality gate → exact dedup
# (min-id keeper) → md5-bucket split → per-split stats
SQL["curation_pipeline_summary"] = f"""
WITH q AS (
  SELECT doc_id, text,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> list_contains({_STOP}, x))) AS n_stop
  FROM documents),
kept AS (
  SELECT doc_id, text, n_tokens FROM q
  WHERE n_tokens >= 20
    AND CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.5),
dedup AS (
  SELECT MIN(doc_id) AS doc_id, MIN(n_tokens) AS n_tokens
  FROM kept GROUP BY text),
s AS (
  SELECT n_tokens,
         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 100 AS bk
  FROM dedup)
SELECT CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM s GROUP BY 1
"""

# -- round-3 additions (promoted to the declared window in round 5) ------------------------------------------

# Connected components over the exact-Jaccard pair graph as a
# recursive-CTE reachability fixpoint: every node's label is the min id
# it can reach, identical to the engine's min-label propagation.
SQL["dedup_cluster_keepers"] = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) WHERE jacc >= 0.6
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
FROM comp GROUP BY 1
"""

# Same BPE-ish pattern string as functions/text.py (Java ∩ RE2).
_BPE_ISH = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"

_BPE_ISH_SQL = _BPE_ISH.replace("'", "''")  # SQL-literal apostrophe

SQL["text_bpe_token_estimate"] = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_BPE_ISH_SQL}')) AS BIGINT) AS n_bpe,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_ws,
       CAST(len(regexp_extract_all(text, '{_BPE_ISH_SQL}')) AS DOUBLE)
       / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
         AS bpe_per_ws
FROM documents
"""

# Rabin-Karp over 8-token windows; token hash = md5-prefix integer
# (the cross-engine recipe), every product mod-reduced before the sum.
_ROLL_P = (1 << 31) - 1

_ROLL_POWERS = [pow(257, 8 - 1 - k, _ROLL_P) for k in range(8)]

_ROLL_TERMS = " + ".join(
    f"(hs[i + {k}] * {_ROLL_POWERS[k]}) % {_ROLL_P}" for k in range(8))

SQL["rolling_fingerprint_neardup"] = f"""
WITH h AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(trim(text), '\\s+'),
                        t -> CAST(concat('0x', substring(md5(t), 1, 8))
                                  AS BIGINT)) AS hs
  FROM documents
), w AS (
  SELECT doc_id,
         list_distinct([({_ROLL_TERMS}) % {_ROLL_P}
                        for i in range(1, len(hs) - 8 + 2)]) AS wh
  FROM h
), x AS (
  SELECT doc_id, UNNEST(wh) AS hsh FROM w
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM x a JOIN x b ON a.hsh = b.hsh AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 3
"""

# Log-free tf-idf-style weighting: score = tf*(N+1)/(df+1) — exact
# integer ratio evaluated in double, bit-identical across engines
# (ln() would differ in the last ulp across libm builds).
SQL["doc_top_terms"] = """
WITH toks AS (
  SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2
), df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY 1
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE) * (n.n_docs + 1)
         / CAST(df.df + 1 AS DOUBLE) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, score, CAST(rn AS BIGINT) AS rn FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rn
  FROM scored) WHERE rn <= 3
"""

# Exact cross-corpus Jaccard between the held-out split and the
# training remainder — the ground truth for the MinHash contamination
# path (banding recall is 1.0 at this threshold on this corpus, same
# argument as SQL["minhash_neardup"]).
SQL["contamination_check"] = f"""
WITH s AS ({_SHINGLES})
SELECT a.doc_id AS train_id, b.doc_id AS test_id,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
              AS DOUBLE) AS jacc
FROM s a JOIN s b
  ON a.doc_id % 20 != 0 AND b.doc_id % 20 = 0
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
             AS DOUBLE) >= 0.6
"""

# Cross-source distinct-shingle overlap, exact — the self-join
# baseline whose theta-sketch twin (source_overlap_theta) replaces
# the key shuffle with per-source kilobyte sketches at scale.
SQL["source_overlap_exact"] = f"""
WITH s AS ({_SHINGLES}),
exploded AS (
  SELECT d.source AS source, unnest(s.sh) AS shingle
  FROM s JOIN documents d USING (doc_id)),
src AS (SELECT DISTINCT source, shingle FROM exploded)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*) AS n_shared
FROM src a JOIN src b
  ON a.shingle = b.shingle AND a.source < b.source
GROUP BY 1, 2
ORDER BY n_shared DESC, source_a, source_b
LIMIT 20
"""

# Repeat-factor corpus mixing: identical floor/fractional split and
# md5(seed:id:copy) coin — total_tokens matches only if both engines
# kept the IDENTICAL fractional copies.
SQL["corpus_upsample_stats"] = f"""
WITH w AS (
  SELECT doc_id, lang, text,
         CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 2.5
                   WHEN 'fr' THEN 1.75 WHEN 'es' THEN 3.0
                   ELSE 1.0 END AS wt
  FROM documents),
c AS (
  SELECT doc_id, lang, text, wt,
         unnest(generate_series(1, CAST(floor(wt) AS INT) + 1)) AS copy
  FROM w),
k AS (
  SELECT * FROM c
  WHERE copy <= floor(wt)
     OR (CAST(concat('0x', substring(md5(
           'upsample:v1:' || CAST(doc_id AS VARCHAR) || ':'
           || CAST(copy AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000)
        / 1000000.0 < wt - floor(wt))
SELECT lang, COUNT(*) AS n_rows_out,
       COUNT(DISTINCT doc_id) AS n_docs,
       MAX(copy) AS max_copies,
       CAST(SUM({_NTOK}) AS BIGINT) AS total_tokens
FROM k GROUP BY lang
"""

# Equi-depth length buckets: ntile is rank-based — identical with the
# same total order (token count, doc_id tiebreak) on both engines.
SQL["doc_length_buckets"] = f"""
WITH r AS (
  SELECT doc_id, CAST({_NTOK} AS BIGINT) AS n_tok FROM documents),
b AS (
  SELECT doc_id, n_tok,
         ntile(8) OVER (ORDER BY n_tok, doc_id) AS bucket
  FROM r)
SELECT bucket, COUNT(*) AS n_docs,
       MIN(n_tok) AS min_tokens, MAX(n_tok) AS max_tokens,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens
FROM b GROUP BY bucket
"""

# Per-source frequency cap: identical md5 coin and (coin, id) rank —
# kept-token sums match only if both engines select the same docs.
SQL["source_cap_sample"] = f"""
WITH r AS (
  SELECT source, doc_id, text,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('cap:v1:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents)
SELECT source, COUNT(*) AS n_kept,
       CAST(SUM({_NTOK}) AS BIGINT) AS n_kept_tokens,
       MIN(doc_id) AS min_kept_id
FROM r WHERE rk <= 10
GROUP BY source
"""

# Global-shuffle shard manifest: identical md5 order key and
# top-32-bit shard scaling ((key32 * n) >> 32) — the permutation and
# its contiguous shard slices are engine-reproducible by design.
SQL["shard_manifest"] = f"""
WITH s AS (
  SELECT doc_id, text,
         md5('shuffle:v1:' || CAST(doc_id AS VARCHAR)) AS okey
  FROM documents),
k AS (
  SELECT doc_id, text, okey,
         (CAST(concat('0x', substring(okey, 1, 8)) AS BIGINT) * 16) >> 32
           AS shard
  FROM s)
SELECT shard, COUNT(*) AS n_docs,
       CAST(SUM({_NTOK}) AS BIGINT) AS n_tokens,
       arg_min(doc_id, okey) AS first_doc,
       arg_max(doc_id, okey) AS last_doc
FROM k GROUP BY shard
"""

# Sub-document exact dedup: identical 8-word chunking (0-based chunk
# starts, 1-based inclusive list slice), md5 digests for the global
# counts, order-preserving scrub. STRING_AGG ... FILTER returns NULL
# for all-dup docs where Spark's concat_ws gives '' — coalesce to 0.
SQL["passage_dedup_scrub"] = """
WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
           FROM documents),
p AS (SELECT doc_id, CAST(i // 8 AS INT) AS pidx,
             array_to_string(w[i+1:i+8], ' ') AS passage
      FROM w, unnest(range(0, greatest(len(w), 1), 8)) AS t(i)
      WHERE array_to_string(w[i+1:i+8], ' ') != ''),
c AS (SELECT md5(passage) AS digest, COUNT(*) AS n_occ
      FROM p GROUP BY 1),
f AS (SELECT p.doc_id, p.pidx, p.passage, c.n_occ > 1 AS is_dup
      FROM p JOIN c ON md5(p.passage) = c.digest)
SELECT doc_id, COUNT(*) AS n_passages,
       COUNT(*) FILTER (WHERE is_dup) AS n_dup,
       CAST(COUNT(*) FILTER (WHERE is_dup) AS DOUBLE) / COUNT(*)
         AS dup_ratio,
       COALESCE(LENGTH(STRING_AGG(passage, ' ' ORDER BY pidx)
                       FILTER (WHERE NOT is_dup)), 0) AS scrubbed_n_chars
FROM f GROUP BY doc_id
"""

# Maximal duplicated spans: same tokenization as passage_dedup_scrub
# but OVERLAPPING windows (one per start position) and gaps-and-islands
# merging. Integer aggregates only; SUM/COUNT cast to BIGINT (DuckDB
# SUM(int) -> HUGEINT, the events_vwap r7 lesson).
SQL["dup_span_extents"] = """
WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
           FROM documents),
win AS (SELECT doc_id, CAST(i AS INT) AS pos,
               array_to_string(w[i+1:i+8], ' ') AS win
        FROM w, unnest(range(0, greatest(len(w) - 7, 0))) AS t(i)),
c AS (SELECT win FROM win GROUP BY win HAVING COUNT(*) >= 2),
m AS (SELECT win.doc_id, win.pos FROM win JOIN c USING (win)),
b AS (SELECT doc_id, pos,
        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                  IS NULL
              OR pos > lag(pos) OVER (PARTITION BY doc_id
                                      ORDER BY pos) + 8
             THEN 1 ELSE 0 END AS brk
      FROM m),
g AS (SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM b),
s AS (SELECT doc_id, grp, MIN(pos) AS sp, MAX(pos) + 7 AS ep
      FROM g GROUP BY doc_id, grp)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(ep - sp + 1) AS BIGINT) AS dup_tokens,
       CAST(MAX(ep - sp + 1) AS BIGINT) AS max_span_tokens
FROM s GROUP BY doc_id
"""

# Sparse-cosine similarity join (r6): identical df<=200 vocabulary
# prune, exact BIGINT tf/norm/dot sums, one correctly-rounded
# sqrt+division — bit-exact cross-engine.
SQL["doc_sparse_cosine_neardup"] = """
WITH toks AS (
  SELECT doc_id AS id,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
  FROM documents),
tf AS (
  SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY id, term),
rare AS (
  SELECT term FROM tf GROUP BY term HAVING COUNT(*) <= 200),
kept AS (SELECT tf.* FROM tf JOIN rare USING (term)),
norms AS (
  SELECT id, CAST(SUM(tf * tf) AS BIGINT) AS nrm
  FROM kept GROUP BY id),
dots AS (
  SELECT a.id AS a_id, b.id AS b_id,
         CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
  FROM kept a JOIN kept b USING (term)
  WHERE a.id < b.id GROUP BY a.id, b.id)
SELECT a_id, b_id,
       CAST(dot AS DOUBLE)
         / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cos
FROM dots
JOIN norms na ON na.id = a_id
JOIN norms nb ON nb.id = b_id
WHERE CAST(dot AS DOUBLE)
        / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) >= 0.7
"""

# Asymmetric containment (r6): same 3-gram shingle sets as the
# Jaccard family, ratio over |A| only — integer sizes, bit-exact.
SQL["doc_containment_pairs"] = f"""
WITH s AS ({_SHINGLES})
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / CAST(len(a.sh) AS DOUBLE) AS containment
FROM s a JOIN s b ON a.doc_id <> b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / CAST(len(a.sh) AS DOUBLE) >= 0.8
"""

# ---- LM-quality curation family (late r6) --------------------------
# All three are LOG-FREE by design (queries.py module doc): exact
# integer/rational forms whose single IEEE divisions are bit-identical
# cross-engine. The md5 bucket/feature hashes reuse the established
# concat('0x', substring(md5(..),1,8)) construction (= Spark's
# conv(substring(md5(..),1,8),16,10)).

# Count-pruned bigram LM over the 80% hash-split; vocab = top-24
# train unigrams (count DESC, term ASC); OOV -> '<unk>' before bigram
# formation; bigram counts pruned at >= 2; c_ctx counts prev AS A
# CONTEXT (over the bigram stream). lm_score = aggregated Laplace
# likelihood (Σc_bg + n) / (Σc_ctx + n·(V+1)).
SQL["doc_lm_quality"] = """
WITH tok AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM documents
), train AS (
  SELECT * FROM tok
  WHERE (CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 100) < 80
), vocab AS (
  SELECT t AS term FROM (SELECT unnest(ts) AS t FROM train)
  GROUP BY t ORDER BY count(*) DESC, t LIMIT 24
), tbg AS (
  SELECT CASE WHEN p IN (SELECT term FROM vocab)
              THEN p ELSE '<unk>' END AS prev,
         CASE WHEN c IN (SELECT term FROM vocab)
              THEN c ELSE '<unk>' END AS cur
  FROM (SELECT unnest(ts[1:len(ts)-1]) AS p,
               unnest(ts[2:len(ts)]) AS c FROM train)
), bgc AS (
  SELECT prev, cur, count(*) AS c_bg FROM tbg
  GROUP BY prev, cur HAVING count(*) >= 2
), ctx AS (
  SELECT prev, count(*) AS c_ctx FROM tbg GROUP BY prev
), vsz AS (SELECT count(*) AS v_sz FROM vocab),
abg AS (
  SELECT doc_id,
         CASE WHEN p IN (SELECT term FROM vocab)
              THEN p ELSE '<unk>' END AS prev,
         CASE WHEN c IN (SELECT term FROM vocab)
              THEN c ELSE '<unk>' END AS cur
  FROM (SELECT doc_id, unnest(ts[1:len(ts)-1]) AS p,
               unnest(ts[2:len(ts)]) AS c FROM tok)
), sc AS (
  SELECT doc_id, count(*) AS n_bigrams,
         SUM(CASE WHEN cur = '<unk>' THEN 1 ELSE 0 END) AS n_oov,
         SUM(COALESCE(c_bg, 0)) AS sum_bg,
         SUM(COALESCE(c_ctx, 0)) AS sum_ctx
  FROM abg
  LEFT JOIN bgc USING (prev, cur)
  LEFT JOIN ctx USING (prev)
  GROUP BY doc_id
)
SELECT t.doc_id, t.lang, CAST(len(ts) AS BIGINT) AS n_tokens,
       CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(n_oov, 0) AS BIGINT) AS n_oov,
       CAST(COALESCE(sum_bg, 0) AS BIGINT) AS sum_bg,
       CAST(COALESCE(sum_ctx, 0) AS BIGINT) AS sum_ctx,
       CASE WHEN n_bigrams > 0 THEN
         CAST(sum_bg + n_bigrams AS DOUBLE)
         / CAST(sum_ctx + n_bigrams * ((SELECT v_sz FROM vsz) + 1)
                AS DOUBLE)
       END AS lm_score
FROM tok t LEFT JOIN sc ON t.doc_id = sc.doc_id
"""

# DSIR hashed-bigram importance toward lang='en': ratio_b =
# ((ct+1)(Craw+B)) / ((cr+1)(Ctar+B)) in double from exact integers;
# per-doc mean of DECIMAL(27,6)-cast per-occurrence ratios.
SQL["dsir_importance_weights"] = """
WITH bk AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substring(md5(p || ' ' || c), 1, 8))
              AS BIGINT) % 512 AS bucket
  FROM (SELECT doc_id, lang, unnest(ts[1:len(ts)-1]) AS p,
               unnest(ts[2:len(ts)]) AS c
        FROM (SELECT doc_id, lang,
                     regexp_split_to_array(trim(text), '\\s+') AS ts
              FROM documents))
), dist AS (
  SELECT bucket, count(*) AS cr,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
  FROM bk GROUP BY bucket
), tot AS (SELECT SUM(cr) AS craw, SUM(ct) AS ctar FROM dist),
rt AS (
  SELECT bucket,
         (CAST(ct + 1 AS DOUBLE) * CAST(craw + 512 AS DOUBLE))
         / (CAST(cr + 1 AS DOUBLE) * CAST(ctar + 512 AS DOUBLE)) AS ratio
  FROM dist, tot)
SELECT doc_id, lang, count(*) AS n_feats,
       CAST(SUM(CAST(ratio AS DECIMAL(27,6))) AS DOUBLE) / count(*)
         AS imp_score
FROM bk JOIN rt USING (bucket)
GROUP BY doc_id, lang
"""

# Pairwise total-variation drift between per-source token
# distributions, exact on the common denominator: HUGEINT (= Spark
# DECIMAL(38,0)) cross-products, one string-routed final division.
SQL["source_tv_drift"] = """
WITH toks AS (
  SELECT source AS g, unnest(regexp_split_to_array(trim(text), '\\s+'))
           AS term
  FROM documents
), counts AS (
  SELECT g, term, count(*) AS c FROM toks GROUP BY g, term
), totals AS (
  SELECT g, SUM(c) AS ctot FROM counts GROUP BY g
), shared AS (
  SELECT a.g AS ga, b.g AS gb, count(*) AS shared_terms,
         SUM(a.c) AS sa, SUM(b.c) AS sb,
         SUM(ABS(CAST(a.c AS HUGEINT) * CAST(tb.ctot AS HUGEINT)
                 - CAST(b.c AS HUGEINT) * CAST(ta.ctot AS HUGEINT)))
           AS sin
  FROM counts a
  JOIN counts b ON a.term = b.term AND a.g < b.g
  JOIN totals ta ON a.g = ta.g
  JOIN totals tb ON b.g = tb.g
  GROUP BY a.g, b.g
)
SELECT ta.g AS source_a, tb.g AS source_b,
       CAST(COALESCE(shared_terms, 0) AS BIGINT) AS shared_terms,
       CAST(CAST(COALESCE(sin, 0)
                 + (CAST(ta.ctot AS HUGEINT) - COALESCE(sa, 0))
                   * CAST(tb.ctot AS HUGEINT)
                 + (CAST(tb.ctot AS HUGEINT) - COALESCE(sb, 0))
                   * CAST(ta.ctot AS HUGEINT)
            AS VARCHAR) AS DOUBLE)
       / (CAST(ta.ctot AS DOUBLE) * CAST(tb.ctot AS DOUBLE) * 2.0) AS tv
FROM totals ta
JOIN totals tb ON ta.g < tb.g
LEFT JOIN shared ON shared.ga = ta.g AND shared.gb = tb.g
"""

# CCNet band split composed over the doc_lm_quality oracle: exact
# per-lang ntile(3) on (lm_score DESC NULLS LAST, doc_id).
SQL["lm_quality_bands"] = f"""
WITH base AS ({SQL["doc_lm_quality"]}),
banded AS (
  SELECT lang, n_tokens, lm_score,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY lm_score DESC NULLS LAST, doc_id) AS b
  FROM base
)
SELECT lang,
       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
              ELSE 'tail' END AS band,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(lm_score) AS min_score,
       MAX(lm_score) AS max_score
FROM banded GROUP BY lang, b
"""

# Per-source data card: composes the doc_lm_quality oracle (as a CTE)
# with the SAME quality-flag predicate the engine uses (_STOP — the
# canonical 5-word STOPWORDS; an earlier draft hard-coded a different
# 20-word list that agreed on the fixture only by coincidence) and
# the NORMALIZED content fingerprint (functions/text.py::fingerprint
# — what the actual dedup stage hashes; raw-text md5 would understate
# the dup rate the pipeline will see).
SQL["corpus_datacard"] = f"""
WITH base AS ({SQL["doc_lm_quality"]}),
q AS (
  SELECT doc_id, source,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
           AS fp,
         (len(regexp_split_to_array(trim(text), '\\s+')) >= 20
          AND CAST(len(list_filter(regexp_split_to_array(trim(text),
                       '\\s+'), x -> list_contains({_STOP}, x)))
                AS DOUBLE)
              / CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                     AS DOUBLE) <= 0.5) AS keep
  FROM documents)
SELECT q.source,
       COUNT(*) AS n_docs,
       CAST(SUM(base.n_tokens) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT base.lang) AS BIGINT) AS n_langs,
       CAST(SUM(CASE WHEN q.keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quality_keep,
       CAST(COUNT(*) - COUNT(DISTINCT q.fp) AS BIGINT) AS n_exact_dups,
       CAST(SUM(CAST(base.lm_score AS DECIMAL(27,6))) AS DOUBLE)
         / COUNT(base.lm_score) AS mean_lm_score
FROM base JOIN q USING (doc_id)
GROUP BY q.source
"""

# Fixed-point integer PageRank over the exact near-dup graph: the
# recurrence is pure BIGINT floor arithmetic, so the 10 iterations
# unroll as chained CTEs (recursive CTEs disallow aggregation in the
# recursive term) and match Spark's loop bit-for-bit.
_PR_ITER = """
pr{next} AS (
  SELECT n.node,
         CAST({base} + (17 * COALESCE(s.s, 0)) // 20 AS BIGINT)
           AS pr_scaled
  FROM prnodes n
  LEFT JOIN (
    SELECT e.dst AS node, SUM(pr{cur}.pr_scaled // d.deg) AS s
    FROM pr{cur}
    JOIN prdeg d ON pr{cur}.node = d.src
    JOIN predges e ON pr{cur}.node = e.src
    GROUP BY e.dst) s ON n.node = s.node
)"""

def _pagerank_oracle(n_iters: int = 10) -> str:
    # the pair graph REUSES the canonical _JACCARD_PAIRS fragment so
    # it can never drift from the ngram_jaccard_neardup oracle
    # (review catch: an inlined copy existed briefly); MATERIALIZED
    # because DuckDB otherwise re-inlines the O(n²) join into every
    # unrolled iteration (88 s → 21 s measured).
    head = f"""
WITH jp AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) WHERE jacc >= 0.6
), predges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION ALL SELECT doc_b, doc_a FROM jp
), prnodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM predges),
prdeg AS MATERIALIZED (
  SELECT src, COUNT(*) AS deg FROM predges GROUP BY src),
prn AS MATERIALIZED (SELECT COUNT(*) AS n FROM prnodes),
pr0 AS (
  SELECT node, CAST(1000000000000 // (SELECT n FROM prn) AS BIGINT)
           AS pr_scaled
  FROM prnodes)"""
    base = ("((3 * (1000000000000 // (SELECT n FROM prn))) // 20)")
    iters = "".join(
        "," + _PR_ITER.format(cur=i, next=i + 1, base=base)
        for i in range(n_iters))
    return (head + iters
            + f"\nSELECT node AS doc_id, pr_scaled FROM pr{n_iters}")

SQL["neardup_pagerank"] = _pagerank_oracle(10)

# ---------------------------------------------------------------- round 9
# Oracles for the three queries the final round-8 session registered
# with an "oracle-backed" claim it never fulfilled (the r8 verdict's
# top item). The Spark sides were built oracle-compatible from the
# start (retrieval.py / lm_quality.py module docs): exact HUGEINT
# (= Spark DECIMAL(38,0)) integer cross-products, string-routed
# int->double conversions, one IEEE division per score term,
# DECIMAL(27,6)-cast order-free sums, ranks computed on the exact
# decimal with doc_id tiebreaks.

# Log-free Okapi-BM25 surrogate top-10 per fixture query
# (operators/retrieval.py module doc derives the integer form). The
# fixture query list is the module-level literal shared with the
# Spark query and the tests.
from ..operators.retrieval import FIXTURE_QUERIES as _BM25_Q

_BM25_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in sorted(set(_BM25_Q)))

SQL["doc_bm25_topk"] = f"""
WITH qt AS (SELECT * FROM (VALUES {_BM25_VALUES}) v(query_id, term)),
docs2 AS (
  SELECT doc_id, len(ts) AS dl, ts
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
        FROM documents WHERE text IS NOT NULL)),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot FROM docs2),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(ts) AS term FROM docs2)
  WHERE term IN (SELECT DISTINCT term FROM qt)
  GROUP BY doc_id, dl, term),
dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT q.query_id, t.doc_id, COUNT(*) AS matched_terms,
         SUM(CAST(
           CAST(CAST((2 * CAST(s.n_docs AS HUGEINT)
                      - 2 * CAST(d.df AS HUGEINT) + 1)
                     * 22 * CAST(t.tf AS HUGEINT)
                     * CAST(s.tot AS HUGEINT) AS VARCHAR) AS DOUBLE)
           / CAST(CAST((2 * CAST(d.df AS HUGEINT) + 1)
                       * (10 * CAST(t.tf AS HUGEINT) * CAST(s.tot AS HUGEINT)
                          + 3 * CAST(s.tot AS HUGEINT)
                          + 9 * CAST(t.dl AS HUGEINT)
                            * CAST(s.n_docs AS HUGEINT)) AS VARCHAR)
                  AS DOUBLE)
           AS DECIMAL(27,6))) AS score_dec
  FROM tf t
  JOIN dft d USING (term)
  JOIN qt q USING (term)
  CROSS JOIN stats s
  GROUP BY q.query_id, t.doc_id)
SELECT query_id, CAST(rnk AS BIGINT) AS rank, doc_id,
       CAST(matched_terms AS BIGINT) AS matched_terms,
       CAST(CAST(score_dec AS VARCHAR) AS DOUBLE) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score_dec DESC, doc_id) AS rnk
      FROM scored)
WHERE rnk <= 10
"""

# Hybrid doc-to-doc retrieval: token-set-Jaccard sparse arm +
# embedding-cosine dense arm (knn_bruteforce's exact _COS twin),
# fused by reciprocal-rank fusion on exact DECIMAL(27,6) sums
# (operators/retrieval.py::rrf_fuse).
SQL["hybrid_rrf_retrieval"] = f"""
WITH d AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS ts
  FROM documents),
q AS (SELECT doc_id AS q_id, ts AS qts FROM d WHERE doc_id IN (0, 1, 2)),
sparse_scored AS (
  SELECT q.q_id, d.doc_id,
         CAST(len(list_intersect(q.qts, d.ts)) AS DOUBLE)
         / CAST(len(q.qts) + len(d.ts)
                - len(list_intersect(q.qts, d.ts)) AS DOUBLE) AS jacc
  FROM q JOIN d ON q.q_id <> d.doc_id),
sparse AS (
  SELECT q_id, doc_id, rn AS sparse_rank FROM (
    SELECT q_id, doc_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY jacc DESC, doc_id) AS rn
    FROM sparse_scored WHERE jacc > 0)
  WHERE rn <= 20),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qe AS (SELECT * FROM e WHERE vec_id < 3),
dense_scored AS (
  SELECT qe.vec_id AS q_id, c.vec_id AS doc_id,
         {_COS.format(a='qe.v', b='c.v')} AS cos
  FROM qe JOIN e c ON qe.vec_id <> c.vec_id),
dense AS (
  SELECT q_id, doc_id, rn AS dense_rank FROM (
    SELECT q_id, doc_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY cos DESC, doc_id) AS rn
    FROM dense_scored)
  WHERE rn <= 20),
fused AS (
  SELECT COALESCE(s.q_id, dn.q_id) AS q_id,
         COALESCE(s.doc_id, dn.doc_id) AS doc_id,
         s.sparse_rank, dn.dense_rank,
         COALESCE(CAST(1.0 / CAST(60 + s.sparse_rank AS DOUBLE)
                       AS DECIMAL(27,6)), CAST(0 AS DECIMAL(27,6)))
         + COALESCE(CAST(1.0 / CAST(60 + dn.dense_rank AS DOUBLE)
                         AS DECIMAL(27,6)), CAST(0 AS DECIMAL(27,6)))
           AS rrf_dec
  FROM sparse s FULL OUTER JOIN dense dn
    ON s.q_id = dn.q_id AND s.doc_id = dn.doc_id)
SELECT q_id, doc_id,
       CAST(sparse_rank AS BIGINT) AS sparse_rank,
       CAST(dense_rank AS BIGINT) AS dense_rank,
       CAST(CAST(rrf_dec AS VARCHAR) AS DOUBLE) AS rrf,
       CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY rrf_dec DESC, doc_id) AS rnk
      FROM fused)
WHERE rnk <= 10
"""

# Pairwise exact two-sample Kolmogorov-Smirnov over per-source
# doc-length distributions (operators/lm_quality.py::ks_value_drift):
# D = max_x |c_a(x)*n_b - c_b(x)*n_a| / (n_a*n_b) on the common
# denominator, cross-products exact in HUGEINT, one string-routed
# final division; ks_at = smallest x attaining the max.
SQL["source_ks_drift"] = """
WITH counts AS (
  SELECT source AS g, n_chars AS x, COUNT(*) AS c
  FROM documents GROUP BY g, x),
totals AS (SELECT g, SUM(c) AS n FROM counts GROUP BY g),
spine AS (
  SELECT t.g, d.x
  FROM totals t CROSS JOIN (SELECT DISTINCT x FROM counts) d),
cum AS (
  SELECT s.g, s.x,
         SUM(COALESCE(c.c, 0)) OVER (PARTITION BY s.g ORDER BY s.x) AS cum
  FROM spine s LEFT JOIN counts c ON s.g = c.g AND s.x = c.x),
diffs AS (
  SELECT a.g AS ga, b.g AS gb, ta.n AS na, tb.n AS nb, a.x,
         ABS(CAST(a.cum AS HUGEINT) * CAST(tb.n AS HUGEINT)
             - CAST(b.cum AS HUGEINT) * CAST(ta.n AS HUGEINT)) AS d_num
  FROM cum a
  JOIN cum b ON a.x = b.x AND a.g < b.g
  JOIN totals ta ON a.g = ta.g
  JOIN totals tb ON b.g = tb.g),
dmax AS (SELECT ga, gb, na, nb, MAX(d_num) AS d_max
         FROM diffs GROUP BY ga, gb, na, nb)
SELECT ga AS source_a, gb AS source_b,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(MIN(x) AS BIGINT) AS ks_at,
       CAST(CAST(d_max AS VARCHAR) AS DOUBLE)
         / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS ks
FROM diffs JOIN dmax USING (ga, gb, na, nb)
WHERE d_num = d_max
GROUP BY ga, gb, na, nb, d_max
"""

# BM25 serve path against the materialized inverted index: the index
# build is lossless (tf/df/dl/stats identical by construction, shared
# scoring tail in operators/retrieval.py), so the oracle IS
# doc_bm25_topk's — same result set, different physical path.
SQL["doc_bm25_from_index"] = SQL["doc_bm25_topk"]

# PMI collocation extraction (r9): log-free surrogate — the PMI
# log's argument ranked directly. Exact HUGEINT cross-products,
# string-routed final division; parallel unnests zip positionally
# (the dsir_importance_weights bigram device); HAVING applies the
# min_count prune before any ratio.
SQL["doc_pmi_collocations"] = """
WITH docs2 AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM documents WHERE text IS NOT NULL),
bg AS (
  SELECT unnest(ts[1:len(ts)-1]) AS prev, unnest(ts[2:len(ts)]) AS cur
  FROM docs2),
pair_counts AS (
  SELECT prev, cur, COUNT(*) AS n_pair
  FROM bg GROUP BY prev, cur HAVING COUNT(*) >= 5),
unic AS (
  SELECT term, COUNT(*) AS n_term
  FROM (SELECT unnest(ts) AS term FROM docs2) GROUP BY term),
tot AS (
  SELECT (SELECT COUNT(*) FROM bg) AS t_bi,
         (SELECT SUM(n_term) FROM unic) AS t_uni),
scored AS (
  SELECT p.prev, p.cur, p.n_pair,
         ua.n_term AS n_prev, ub.n_term AS n_cur,
         CAST(CAST(CAST(p.n_pair AS HUGEINT)
                   * CAST(t.t_uni AS HUGEINT)
                   * CAST(t.t_uni AS HUGEINT) AS VARCHAR) AS DOUBLE)
         / CAST(CAST(CAST(ua.n_term AS HUGEINT)
                     * CAST(ub.n_term AS HUGEINT)
                     * CAST(t.t_bi AS HUGEINT) AS VARCHAR) AS DOUBLE)
           AS score
  FROM pair_counts p
  JOIN unic ua ON p.prev = ua.term
  JOIN unic ub ON p.cur = ub.term
  CROSS JOIN tot t)
SELECT CAST(rnk AS BIGINT) AS rank, prev, cur,
       CAST(n_pair AS BIGINT) AS n_pair,
       CAST(n_prev AS BIGINT) AS n_prev,
       CAST(n_cur AS BIGINT) AS n_cur, score
FROM (SELECT *, row_number() OVER (ORDER BY score DESC, prev, cur)
               AS rnk
      FROM scored)
WHERE rnk <= 50
"""

# Per-doc 3-gram novelty vs the held-out reference split (r10): the
# doc-level decontamination/freshness score. Distinct shingles via
# positional token indexing (range is end-exclusive: i in
# [1, len-2] for 3-grams, empty for short docs — matching Spark's
# shingles() CASE guard); integer counts, one IEEE division.
SQL["doc_ngram_novelty"] = """
WITH tr AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM documents WHERE text IS NOT NULL AND doc_id % 20 != 0),
tsh AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh
  FROM tr, unnest(range(1, len(ts) - 1)) AS t(i)),
ref AS (
  SELECT DISTINCT ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh
  FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS ts
        FROM documents WHERE text IS NOT NULL AND doc_id % 20 = 0),
       unnest(range(1, len(ts) - 1)) AS t(i))
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(r.sh) AS BIGINT) AS n_seen,
       CAST(COUNT(*) - COUNT(r.sh) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM tsh t LEFT JOIN ref r ON t.sh = r.sh
GROUP BY t.doc_id
"""

# Span-level eval-leak localization (r10): dup_span_extents' window
# + gaps-and-islands SQL pointed ACROSS corpora — a train window is
# marked when its text appears anywhere in the reference split.
SQL["eval_leak_spans"] = """
WITH tw AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
            FROM documents WHERE doc_id % 20 != 0),
rw AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS w
       FROM documents WHERE doc_id % 20 = 0),
twin AS (SELECT doc_id, CAST(i AS INT) AS pos,
                array_to_string(w[i+1:i+8], ' ') AS win
         FROM tw, unnest(range(0, greatest(len(w) - 7, 0))) AS t(i)),
rwin AS (SELECT DISTINCT array_to_string(w[i+1:i+8], ' ') AS win
         FROM rw, unnest(range(0, greatest(len(w) - 7, 0))) AS t(i)),
m AS (SELECT twin.doc_id, twin.pos FROM twin JOIN rwin USING (win)),
b AS (SELECT doc_id, pos,
        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                  IS NULL
              OR pos > lag(pos) OVER (PARTITION BY doc_id
                                      ORDER BY pos) + 8
             THEN 1 ELSE 0 END AS brk
      FROM m),
g AS (SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM b),
s AS (SELECT doc_id, grp, MIN(pos) AS sp, MAX(pos) + 7 AS ep
      FROM g GROUP BY doc_id, grp)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(ep - sp + 1) AS BIGINT) AS leaked_tokens,
       CAST(MAX(ep - sp + 1) AS BIGINT) AS max_span_tokens
FROM s GROUP BY doc_id
"""

# Change magnitude for the snapshot 'changed' class (r10): distinct-
# token Jaccard old-vs-new per doc. Integer set sizes (both engines
# dedup via list_distinct/array_distinct), union by |A|+|B|-|A∩B|
# (list_intersect is only ever len()'d — its element order is
# engine-specific), one IEEE division.
SQL["snapshot_change_magnitude"] = """
WITH oldc AS (SELECT doc_id, text FROM documents),
newc AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 1 THEN text || ' updated'
              ELSE text END AS text
  FROM documents WHERE doc_id % 17 != 3),
po AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp_o,
         list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS ts_o
  FROM oldc WHERE text IS NOT NULL),
pn AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp_n,
         list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS ts_n
  FROM newc WHERE text IS NOT NULL)
SELECT doc_id,
       CAST(len(ts_o) AS BIGINT) AS n_old,
       CAST(len(ts_n) AS BIGINT) AS n_new,
       CAST(len(list_intersect(ts_o, ts_n)) AS BIGINT) AS n_common,
       CAST(len(list_intersect(ts_o, ts_n)) AS DOUBLE)
         / CAST(len(ts_o) + len(ts_n) - len(list_intersect(ts_o, ts_n))
                AS DOUBLE) AS jacc
FROM po JOIN pn USING (doc_id)
WHERE fp_o != fp_n
"""

# Between-crawls corpus snapshot diff (r10): one FULL OUTER join on
# doc_id, normalized-md5 content identity, BIGINT token deltas. The
# "new crawl" is the same deterministic perturbation the Spark query
# builds (%17 removed, %13 edited, %23 re-landed under new ids).
SQL["corpus_snapshot_diff"] = """
WITH oldc AS (SELECT doc_id, source, text FROM documents),
newc AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 13 = 1 THEN text || ' updated'
              ELSE text END AS text
  FROM documents WHERE doc_id % 17 != 3
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source, text || ' fresh' AS text
  FROM documents WHERE doc_id % 23 = 2),
po AS (
  SELECT doc_id, source AS grp_o,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp_o,
         len(regexp_split_to_array(trim(text), '\\s+')) AS ntok_o
  FROM oldc WHERE text IS NOT NULL),
pn AS (
  SELECT doc_id, source AS grp_n,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp_n,
         len(regexp_split_to_array(trim(text), '\\s+')) AS ntok_n
  FROM newc WHERE text IS NOT NULL)
SELECT COALESCE(grp_n, grp_o) AS source,
       CASE WHEN fp_o IS NULL THEN 'added'
            WHEN fp_n IS NULL THEN 'removed'
            WHEN fp_o != fp_n THEN 'changed'
            ELSE 'unchanged' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(COALESCE(ntok_n, 0) - COALESCE(ntok_o, 0)) AS BIGINT)
         AS token_delta
FROM po FULL OUTER JOIN pn USING (doc_id)
GROUP BY 1, 2
"""

# Heaps'-law vocabulary growth over nested md5-bucket subsamples
# (r10): n_vocab(k) = |terms with min bucket < k| — one token pass
# serves every step; exact integers, one IEEE division for ttr.
SQL["corpus_vocab_growth"] = """
WITH base AS (
  SELECT CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),
                                     1, 8)) AS BIGINT) % 10 AS b,
         regexp_split_to_array(trim(text), '\\s+') AS ts
  FROM documents WHERE text IS NOT NULL),
per_bucket AS (
  SELECT b, COUNT(*) AS docs, SUM(len(ts)) AS toks
  FROM base GROUP BY b),
term_fb AS (
  SELECT term, MIN(b) AS fb
  FROM (SELECT b, unnest(ts) AS term FROM base) GROUP BY term),
grid AS (SELECT CAST(k AS INT) AS k FROM range(1, 11) t(k)),
sizes AS (
  SELECT k, CAST(SUM(docs) AS BIGINT) AS n_docs,
         CAST(SUM(toks) AS BIGINT) AS n_tokens
  FROM per_bucket JOIN grid ON b < k GROUP BY k),
vocab AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_vocab
  FROM term_fb JOIN grid ON fb < k GROUP BY k)
SELECT CAST(k * 10 AS BIGINT) AS sample_pct, n_docs, n_tokens, n_vocab,
       CAST(n_vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr
FROM sizes JOIN vocab USING (k)
"""

# α=½ temperature-scaled source mixing weights (r10): sqrt is
# IEEE-correctly-rounded (the one bit-exact sub-linear exponent);
# normalization by the LARGEST group's integer count (max, never a
# fold-order-dependent float sum); window SUM routes HUGEINT→BIGINT
# before the double cast (int128→double is not correctly rounded).
SQL["source_mix_weights"] = """
WITH per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
              AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL GROUP BY source)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE)
         / CAST(CAST(SUM(n_tokens) OVER () AS BIGINT) AS DOUBLE)
         AS token_share,
       sqrt(CAST(n_tokens AS DOUBLE))
         / sqrt(CAST(MAX(n_tokens) OVER () AS DOUBLE))
         AS temp_rel_weight,
       (sqrt(CAST(n_tokens AS DOUBLE))
          / sqrt(CAST(MAX(n_tokens) OVER () AS DOUBLE)))
         / (CAST(n_tokens AS DOUBLE)
              / CAST(MAX(n_tokens) OVER () AS DOUBLE))
         AS upsample_boost
FROM per
"""

# Span-scrub transform (r11): the eval_leak_spans window/island SQL
# re-used to produce the (s, e) extent table, then every train doc is
# rewritten — tokens (0-based position) anti-range-joined against the
# extents, survivors string_agg'd back in position order. Clean docs
# keep their ORIGINAL text (no whitespace normalization on untouched
# rows); fully-leaked docs emit NULL text with their audit counts.
SQL["eval_leak_scrub"] = """
WITH tw AS (SELECT doc_id, text,
                   CASE WHEN text IS NOT NULL THEN
                        regexp_split_to_array(trim(text), '\\s+') END AS w
            FROM documents WHERE doc_id % 20 != 0),
rwin AS (SELECT DISTINCT array_to_string(w[i+1:i+8], ' ') AS win
         FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS w
               FROM documents WHERE doc_id % 20 = 0),
              unnest(range(0, greatest(len(w) - 7, 0))) AS t(i)),
twin AS (SELECT doc_id, CAST(i AS INT) AS pos,
                array_to_string(w[i+1:i+8], ' ') AS win
         FROM tw, unnest(range(0, greatest(len(w) - 7, 0))) AS t(i)),
m AS (SELECT twin.doc_id, twin.pos FROM twin JOIN rwin USING (win)),
b AS (SELECT doc_id, pos,
        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                  IS NULL
              OR pos > lag(pos) OVER (PARTITION BY doc_id
                                      ORDER BY pos) + 8
             THEN 1 ELSE 0 END AS brk
      FROM m),
g AS (SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM b),
s AS (SELECT doc_id, grp, MIN(pos) AS sp, MAX(pos) + 7 AS ep
      FROM g GROUP BY doc_id, grp),
agg AS (SELECT doc_id, COUNT(*) AS n_spans,
               SUM(ep - sp + 1) AS tokens_removed
        FROM s GROUP BY doc_id),
tok AS (SELECT doc_id, w, unnest(range(len(w))) AS i
        FROM tw WHERE doc_id IN (SELECT doc_id FROM agg)),
tok2 AS (SELECT doc_id, CAST(i AS INT) AS i, w[i+1] AS t FROM tok),
kept AS (SELECT k.doc_id, k.i, k.t
         FROM tok2 k LEFT JOIN s
           ON s.doc_id = k.doc_id AND k.i BETWEEN s.sp AND s.ep
         WHERE s.doc_id IS NULL),
krows AS (SELECT doc_id, COUNT(*) AS n_kept,
                 string_agg(t, ' ' ORDER BY i) AS newtext
          FROM kept GROUP BY doc_id)
SELECT tw.doc_id,
       CASE WHEN agg.doc_id IS NULL THEN 'clean'
            WHEN COALESCE(krows.n_kept, 0) > 0 THEN 'scrubbed'
            ELSE 'dropped' END AS status,
       CAST(COALESCE(agg.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(agg.tokens_removed, 0) AS BIGINT)
         AS tokens_removed,
       CAST(CASE WHEN agg.doc_id IS NULL THEN COALESCE(len(tw.w), 0)
                 ELSE COALESCE(krows.n_kept, 0) END AS BIGINT)
         AS n_tokens_kept,
       CASE WHEN agg.doc_id IS NULL THEN tw.text
            WHEN COALESCE(krows.n_kept, 0) > 0 THEN krows.newtext
            END AS text
FROM tw LEFT JOIN agg ON tw.doc_id = agg.doc_id
        LEFT JOIN krows ON tw.doc_id = krows.doc_id
"""

# Incremental-crawl apply (r11): upsert the deterministic delta over
# the corpus — full-outer join on doc_id, op classification by
# presence flags + the normalized md5 fingerprint (refreshed =
# content-identical re-land), tombstones (delta NULL text) excluded.
SQL["crawl_delta_apply"] = """
WITH delta AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 17 = 3 THEN NULL
              WHEN doc_id % 13 = 1 THEN text || ' updated'
              ELSE '  ' || text END AS text
  FROM documents
  WHERE text IS NOT NULL
    AND (doc_id % 17 = 3 OR doc_id % 13 = 1 OR doc_id % 19 = 5)
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source, text || ' fresh' AS text
  FROM documents WHERE doc_id % 23 = 2 AND text IS NOT NULL),
b AS (SELECT doc_id, source AS grp_b, text AS txt_b,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
               AS fp_b,
             TRUE AS in_b
      FROM documents),
d AS (SELECT doc_id, source AS grp_d, text AS txt_d,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
               AS fp_d,
             TRUE AS in_d
      FROM delta),
j AS (SELECT doc_id, grp_b, txt_b, fp_b, in_b, grp_d, txt_d, fp_d,
             in_d,
             CASE WHEN in_d IS NULL THEN 'carried'
                  WHEN txt_d IS NULL THEN 'deleted'
                  WHEN in_b IS NULL THEN 'added'
                  WHEN fp_b = fp_d THEN 'refreshed'
                  ELSE 'updated' END AS op
      FROM b FULL OUTER JOIN d USING (doc_id))
SELECT doc_id,
       CASE WHEN op = 'carried' THEN grp_b ELSE grp_d END AS source,
       op,
       CASE WHEN op = 'carried' THEN txt_b ELSE txt_d END AS text
FROM j WHERE op != 'deleted'
"""

# Winnowing fingerprint near-dup (r11): the rolling-hash wh table
# winnowed — per window of 4 consecutive hashes keep the min (ties
# RIGHTMOST: position = w − first-position-in-reversed-window, the
# same expression the engine uses), encode (pos, fp) as one BIGINT
# (pos·(2³¹−1) + fp) so list_distinct behaves identically, then the
# rolling_fingerprint_neardup equi-join over the selected VALUES.
_WINNOW_M = 2147483647

_WINNOW_SEL = (
    "CAST(i + 4 - list_position(list_reverse(wh[i+1:i+4]),"
    " list_min(wh[i+1:i+4])) AS BIGINT) * 2147483647"
    " + list_min(wh[i+1:i+4])")

_WINNOW_SHORT = (
    "CAST(len(wh) - list_position(list_reverse(wh), list_min(wh))"
    " AS BIGINT) * 2147483647 + list_min(wh)")

SQL["winnow_fingerprint_neardup"] = f"""
WITH h AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(trim(text), '\\s+'),
                        t -> CAST(concat('0x', substring(md5(t), 1, 8))
                                  AS BIGINT)) AS hs
  FROM documents WHERE text IS NOT NULL
), w AS (
  SELECT doc_id,
         [({_ROLL_TERMS}) % {_ROLL_P}
          for i in range(1, len(hs) - 8 + 2)] AS wh
  FROM h
), sel AS (
  SELECT doc_id,
         CASE WHEN len(wh) >= 4 THEN
           list_distinct([{_WINNOW_SEL}
                          for i in range(0, len(wh) - 4 + 1)])
         WHEN len(wh) >= 1 THEN [{_WINNOW_SHORT}]
         ELSE CAST([] AS BIGINT[]) END AS s
  FROM w
), x AS (
  SELECT doc_id, UNNEST(s) AS v FROM sel
), fps AS (
  SELECT DISTINCT doc_id, v % {_WINNOW_M} AS fp FROM x
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""

# Within-corpus exact-substring self-dedup scrub (r11): the
# eval_leak_scrub reconstruction tail over KEEP-FIRST duplicate
# extents — first occurrence of each >1-occurrence window by the
# encoded doc_id*2^31+pos minimum, every other occurrence marked,
# islands merged per doc, survivors string_agg'd back.
SQL["dup_span_scrub"] = """
WITH tw AS (SELECT doc_id, text,
                   CASE WHEN text IS NOT NULL THEN
                        regexp_split_to_array(trim(text), '\\s+') END AS w
            FROM documents),
twin AS (SELECT doc_id, CAST(i AS INT) AS pos,
                array_to_string(w[i+1:i+8], ' ') AS win
         FROM tw, unnest(range(0, greatest(len(w) - 7, 0))) AS t(i)),
firsts AS (SELECT win,
                  MIN(CAST(doc_id AS BIGINT) * 2147483648 + pos)
                    AS first_enc,
                  COUNT(*) AS n_occ
           FROM twin GROUP BY win HAVING COUNT(*) > 1),
m AS (SELECT twin.doc_id, twin.pos
      FROM twin JOIN firsts USING (win)
      WHERE CAST(twin.doc_id AS BIGINT) * 2147483648 + twin.pos
            != firsts.first_enc),
b AS (SELECT doc_id, pos,
        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                  IS NULL
              OR pos > lag(pos) OVER (PARTITION BY doc_id
                                      ORDER BY pos) + 8
             THEN 1 ELSE 0 END AS brk
      FROM m),
g AS (SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM b),
s AS (SELECT doc_id, grp, MIN(pos) AS sp, MAX(pos) + 7 AS ep
      FROM g GROUP BY doc_id, grp),
agg AS (SELECT doc_id, COUNT(*) AS n_spans,
               SUM(ep - sp + 1) AS tokens_removed
        FROM s GROUP BY doc_id),
tok AS (SELECT doc_id, w, unnest(range(len(w))) AS i
        FROM tw WHERE doc_id IN (SELECT doc_id FROM agg)),
tok2 AS (SELECT doc_id, CAST(i AS INT) AS i, w[i+1] AS t FROM tok),
kept AS (SELECT k.doc_id, k.i, k.t
         FROM tok2 k LEFT JOIN s
           ON s.doc_id = k.doc_id AND k.i BETWEEN s.sp AND s.ep
         WHERE s.doc_id IS NULL),
krows AS (SELECT doc_id, COUNT(*) AS n_kept,
                 string_agg(t, ' ' ORDER BY i) AS newtext
          FROM kept GROUP BY doc_id)
SELECT tw.doc_id,
       CASE WHEN agg.doc_id IS NULL THEN 'clean'
            WHEN COALESCE(krows.n_kept, 0) > 0 THEN 'scrubbed'
            ELSE 'dropped' END AS status,
       CAST(COALESCE(agg.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(agg.tokens_removed, 0) AS BIGINT)
         AS tokens_removed,
       CAST(CASE WHEN agg.doc_id IS NULL THEN COALESCE(len(tw.w), 0)
                 ELSE COALESCE(krows.n_kept, 0) END AS BIGINT)
         AS n_tokens_kept,
       CASE WHEN agg.doc_id IS NULL THEN tw.text
            WHEN COALESCE(krows.n_kept, 0) > 0 THEN krows.newtext
            END AS text
FROM tw LEFT JOIN agg ON tw.doc_id = agg.doc_id
        LEFT JOIN krows ON tw.doc_id = krows.doc_id
"""

# Pairwise two-sample chi-square homogeneity over per-source 50-char
# doc-length bins, exact: HUGEINT (= Spark DECIMAL(38,0))
# cross-products, string-routed to double, per-bin terms quantized
# DECIMAL(27,6) and summed exactly; private-bin mass folds
# analytically per side ((N_a - shared_a)*N_b/N_a). Bin = n_chars
# div 50 (integer division — NOT double-cast, which rounds here but
# truncates in Spark).
SQL["source_chi2_drift"] = """
WITH counts AS (
  SELECT source AS g,
         -- exact integer FLOOR (DuckDB `//` truncates like Spark
         -- `div`; n_chars >= 0 here, correction kept so the oracle
         -- states the engine's actual binning law)
         CAST(n_chars AS BIGINT) // 50
         - CASE WHEN CAST(n_chars AS BIGINT) % 50 < 0
                THEN 1 ELSE 0 END AS bin,
         COUNT(*) AS c
  FROM documents GROUP BY g, bin
), totals AS (
  SELECT g, SUM(c) AS ctot FROM counts GROUP BY g
), shared AS (
  SELECT a.g AS ga, b.g AS gb, COUNT(*) AS shared_bins,
         SUM(a.c) AS sa, SUM(b.c) AS sb,
         SUM(CAST(
           CAST(CAST(ABS(CAST(a.c AS HUGEINT) * CAST(tb.ctot AS HUGEINT)
                         - CAST(b.c AS HUGEINT) * CAST(ta.ctot AS HUGEINT))
                     AS VARCHAR) AS DOUBLE)
           * CAST(CAST(ABS(CAST(a.c AS HUGEINT) * CAST(tb.ctot AS HUGEINT)
                           - CAST(b.c AS HUGEINT) * CAST(ta.ctot AS HUGEINT))
                       AS VARCHAR) AS DOUBLE)
           / (CAST(CAST(CAST(ta.ctot AS HUGEINT) * CAST(tb.ctot AS HUGEINT)
                        AS VARCHAR) AS DOUBLE)
              * CAST(a.c + b.c AS DOUBLE))
           AS DECIMAL(27,6))) AS s_shared
  FROM counts a
  JOIN counts b ON a.bin = b.bin AND a.g < b.g
  JOIN totals ta ON a.g = ta.g
  JOIN totals tb ON b.g = tb.g
  GROUP BY a.g, b.g
), spine AS (
  SELECT ta.g AS ga, ta.ctot AS ca, tb.g AS gb, tb.ctot AS cb
  FROM totals ta JOIN totals tb ON ta.g < tb.g
)
SELECT ga AS source_a, gb AS source_b,
       CAST(COALESCE(shared_bins, 0) AS BIGINT) AS shared_bins,
       CAST(CAST(
         COALESCE(s_shared, CAST(0 AS DECIMAL(27,6)))
         + CAST(CAST(CAST((ca - COALESCE(sa, 0)) * CAST(cb AS HUGEINT)
                          AS VARCHAR) AS DOUBLE)
                / CAST(ca AS DOUBLE) AS DECIMAL(27,6))
         + CAST(CAST(CAST((cb - COALESCE(sb, 0)) * CAST(ca AS HUGEINT)
                          AS VARCHAR) AS DOUBLE)
                / CAST(cb AS DOUBLE) AS DECIMAL(27,6))
         AS VARCHAR) AS DOUBLE) AS chi2
FROM spine LEFT JOIN shared USING (ga, gb)
"""

# Gopher repetition signals: exact integer numerators/denominators,
# top-gram numerators zero unless the gram repeats (count >= 2),
# one int/int IEEE division per fraction (exact ints < 2^53 divide
# correctly-rounded on both engines). Grams are 1-based list slices;
# the dup-5 numerator is the POSITION-UNION char sum (DISTINCT
# (doc, pos) before the token-length join — overlapping duplicated
# grams never double-count). Line split on chr(10), non-regex (Spark
# split('\n') is the same literal split).
SQL["doc_repetition_signals"] = """
WITH base AS (
  SELECT doc_id,
         regexp_split_to_array(trim(COALESCE(text, '')), '\\s+') AS w,
         string_split(COALESCE(text, ''), chr(10)) AS lines
  FROM documents
), b AS (
  SELECT doc_id, w, lines,
         CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
              AS BIGINT) AS tok_chars,
         CAST(COALESCE(list_sum(list_transform(lines, x -> length(x))),
                       0) AS BIGINT) AS line_chars,
         CAST(len(lines) - len(list_distinct(lines)) AS BIGINT)
           AS dup_lines,
         CAST(COALESCE(list_sum(list_transform(lines, x -> length(x))),
                       0)
              - COALESCE(list_sum(list_transform(list_distinct(lines),
                                                 x -> length(x))), 0)
              AS BIGINT) AS dup_line_chars
  FROM base
), g2 AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i, array_to_string(w[i:i+1], ' ') AS g
  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
        FROM b WHERE len(w) >= 2)
), g3 AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i, array_to_string(w[i:i+2], ' ') AS g
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
        FROM b WHERE len(w) >= 3)
), t2 AS (
  SELECT doc_id, CAST(CASE WHEN cnt >= 2
                         THEN cnt * (length(g) - 1)
                         ELSE 0 END AS BIGINT) AS topchars
  FROM (SELECT doc_id, g, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY COUNT(*) DESC, g ASC) AS rn
        FROM g2 GROUP BY doc_id, g)
  WHERE rn = 1
), t3 AS (
  SELECT doc_id, CAST(CASE WHEN cnt >= 2
                         THEN cnt * (length(g) - 2)
                         ELSE 0 END AS BIGINT) AS topchars
  FROM (SELECT doc_id, g, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY COUNT(*) DESC, g ASC) AS rn
        FROM g3 GROUP BY doc_id, g)
  WHERE rn = 1
), d3 AS (
  SELECT dp.doc_id, CAST(SUM(length(b2.w[dp.p])) AS BIGINT) AS dupchars
  FROM (SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS p
        FROM (SELECT doc_id, unnest(range(i, i + 3)) AS p
              FROM (SELECT doc_id, i,
                           COUNT(*) OVER (PARTITION BY doc_id, g) AS cnt
                    FROM g3)
              WHERE cnt > 1)) dp
  JOIN b b2 USING (doc_id)
  GROUP BY dp.doc_id
)
SELECT b.doc_id, b.n_tokens, b.n_lines,
       CASE WHEN b.n_lines > 0 THEN CAST(b.dup_lines AS DOUBLE)
                                    / CAST(b.n_lines AS DOUBLE)
            ELSE 0.0 END AS dup_line_frac,
       CASE WHEN b.line_chars > 0 THEN CAST(b.dup_line_chars AS DOUBLE)
                                       / CAST(b.line_chars AS DOUBLE)
            ELSE 0.0 END AS dup_line_char_frac,
       CASE WHEN b.tok_chars > 0
            THEN CAST(COALESCE(t2.topchars, 0) AS DOUBLE)
                 / CAST(b.tok_chars AS DOUBLE)
            ELSE 0.0 END AS top2gram_char_frac,
       CASE WHEN b.tok_chars > 0
            THEN CAST(COALESCE(t3.topchars, 0) AS DOUBLE)
                 / CAST(b.tok_chars AS DOUBLE)
            ELSE 0.0 END AS top3gram_char_frac,
       CASE WHEN b.tok_chars > 0
            THEN CAST(COALESCE(d3.dupchars, 0) AS DOUBLE)
                 / CAST(b.tok_chars AS DOUBLE)
            ELSE 0.0 END AS dup3gram_char_frac
FROM b LEFT JOIN t2 USING (doc_id)
       LEFT JOIN t3 USING (doc_id)
       LEFT JOIN d3 USING (doc_id)
"""

# Gopher heuristic quality signals: exact in-row integer counts, one
# int/int division per ratio, same double-literal thresholds ->
# bit-reproducible keep verdicts (min_stop_hits relaxed to 1 on
# this fixture -- see the query docstring). '...' occurrences via replace
# (non-overlapping left-to-right greedy on both engines).
SQL["doc_quality_signals"] = """
WITH b AS (
  SELECT doc_id, COALESCE(text, '') AS t,
         regexp_split_to_array(trim(COALESCE(text, '')), '\\s+') AS w,
         string_split(COALESCE(text, ''), chr(10)) AS lines
  FROM documents
), c AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
              AS BIGINT) AS tok_chars,
         CAST((length(t) - length(replace(t, '#', '')))
              + (length(t) - length(replace(t, '...', ''))) // 3
              AS BIGINT) AS n_symbols,
         CAST(len(list_filter(lines, x ->
                starts_with(ltrim(x), chr(8226))
                OR starts_with(ltrim(x), '-')
                OR starts_with(ltrim(x), '*'))) AS BIGINT) AS n_bullet,
         CAST(len(list_filter(lines, x ->
                ends_with(rtrim(x), '...')
                OR ends_with(rtrim(x), chr(8230)))) AS BIGINT)
           AS n_ellipsis,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
              AS BIGINT) AS n_alpha,
         CAST(CAST(list_contains(w, 'the') AS INT)
              + CAST(list_contains(w, 'be') AS INT)
              + CAST(list_contains(w, 'to') AS INT)
              + CAST(list_contains(w, 'of') AS INT)
              + CAST(list_contains(w, 'and') AS INT)
              + CAST(list_contains(w, 'that') AS INT)
              + CAST(list_contains(w, 'have') AS INT)
              + CAST(list_contains(w, 'with') AS INT) AS BIGINT)
           AS stop_hits
  FROM b
), f AS (
  SELECT doc_id, n_words, stop_hits,
         CASE WHEN n_words > 0 THEN CAST(tok_chars AS DOUBLE)
                                    / CAST(n_words AS DOUBLE)
              ELSE 0.0 END AS mean_word_len,
         CASE WHEN n_words > 0 THEN CAST(n_symbols AS DOUBLE)
                                    / CAST(n_words AS DOUBLE)
              ELSE 0.0 END AS symbol_word_ratio,
         CASE WHEN n_lines > 0 THEN CAST(n_bullet AS DOUBLE)
                                    / CAST(n_lines AS DOUBLE)
              ELSE 0.0 END AS bullet_line_frac,
         CASE WHEN n_lines > 0 THEN CAST(n_ellipsis AS DOUBLE)
                                    / CAST(n_lines AS DOUBLE)
              ELSE 0.0 END AS ellipsis_line_frac,
         CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE)
                                    / CAST(n_words AS DOUBLE)
              ELSE 0.0 END AS alpha_word_frac
  FROM c)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
       bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
       stop_hits,
       (n_words >= 50 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_word_ratio <= 0.1
        AND bullet_line_frac <= 0.9
        AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8
        AND stop_hits >= 1) AS keep
FROM f
"""

# Per-source quality floor (r12): exact integer rank threshold at
# ceil(n/4); the value AT a rank is tie-independent, so counts match
# bit-for-bit under any tiebreak.
SQL["source_quality_floor"] = """
WITH t AS (
  SELECT source AS g, doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS m
  FROM documents WHERE text IS NOT NULL
), r AS (
  SELECT g, doc_id, m,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY m, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM t
), th AS (
  SELECT g, n, m AS threshold FROM r
  WHERE rn = (n * 1 + 4 - 1) // 4
)
SELECT r.g AS source, CAST(th.n AS BIGINT) AS n_docs,
       CAST(th.threshold AS BIGINT) AS threshold,
       CAST(SUM(CASE WHEN r.m >= th.threshold THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN r.m >= th.threshold THEN r.m ELSE 0 END)
            AS BIGINT) AS kept_sum
FROM r JOIN th ON r.g = th.g
GROUP BY 1, 2, 3
"""

# Triangle participation (r12): wedge-close counting over the exact
# Jaccard pair graph — each triangle {a<b<c} found exactly once by
# joining its two smallest-endpoint edges and closing against (b,c);
# identical join tree to the engine. 2.0*t/(d*(d-1.0)) is the same
# fixed IEEE expression both sides.
SQL["neardup_triangle_stats"] = f"""
WITH p AS (
  SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) WHERE jacc >= 0.6
), e AS (
  SELECT LEAST(doc_a, doc_b) AS a, GREATEST(doc_a, doc_b) AS b
  FROM p WHERE doc_a <> doc_b GROUP BY 1, 2
), tri AS (
  SELECT x.a, x.b, y.b AS c
  FROM e x JOIN e y ON x.a = y.a AND x.b < y.b
  JOIN e z ON z.a = x.b AND z.b = y.b
), node_tri AS (
  SELECT id, COUNT(*) AS t FROM (
    SELECT a AS id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri) GROUP BY id
), deg AS (
  SELECT id, COUNT(*) AS d FROM (
    SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id
)
SELECT deg.id AS doc_id, CAST(d AS BIGINT) AS degree,
       CAST(COALESCE(t, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d > 1
            THEN 2.0 * CAST(COALESCE(t, 0) AS DOUBLE)
                 / (CAST(d AS DOUBLE) * (CAST(d AS DOUBLE) - 1.0))
            ELSE 0.0 END AS clustering
FROM deg LEFT JOIN node_tri ON deg.id = node_tri.id
"""

# χ² independence: exact BIGINT cell/row/col/grand totals (window
# sums routed through BIGINT before the double hop), identical
# expected/χ² IEEE tree.
SQL["docs_lang_source_independence"] = """
WITH cells AS (
  SELECT lang, source, COUNT(*) AS n_obs
  FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY lang, source
), t AS (
  SELECT lang, source, n_obs,
         CAST(SUM(n_obs) OVER (PARTITION BY lang) AS BIGINT) AS n_l,
         CAST(SUM(n_obs) OVER (PARTITION BY source) AS BIGINT) AS n_s,
         CAST(SUM(n_obs) OVER () AS BIGINT) AS n
  FROM cells
)
SELECT lang, source, CAST(n_obs AS BIGINT) AS n_obs,
       CAST(n_l AS DOUBLE) * CAST(n_s AS DOUBLE) / CAST(n AS DOUBLE)
         AS expected,
       (CAST(n_obs AS DOUBLE)
        - CAST(n_l AS DOUBLE) * CAST(n_s AS DOUBLE) / CAST(n AS DOUBLE))
       * (CAST(n_obs AS DOUBLE)
          - CAST(n_l AS DOUBLE) * CAST(n_s AS DOUBLE) / CAST(n AS DOUBLE))
       / (CAST(n_l AS DOUBLE) * CAST(n_s AS DOUBLE) / CAST(n AS DOUBLE))
         AS chi2_term
FROM t
"""

# Per-source Gini: exact BIGINT rank-mass and totals (HUGEINT sums
# routed through BIGINT before the double hop — the int128→double
# cast is not correctly rounded), one fixed IEEE finisher tree.
SQL["source_gini_concentration"] = """
WITH d AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rk
  FROM documents WHERE n_chars IS NOT NULL
), a AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(rk * n_chars) AS BIGINT) AS rank_mass
  FROM d GROUP BY source
)
SELECT source, n_docs, total_chars,
       CASE WHEN total_chars > 0 THEN
         2.0 * CAST(rank_mass AS DOUBLE)
         / (CAST(n_docs AS DOUBLE) * CAST(total_chars AS DOUBLE))
         - (CAST(n_docs AS DOUBLE) + 1.0) / CAST(n_docs AS DOUBLE)
       END AS gini
FROM a
"""

# Gini–Simpson diversity per source: exact BIGINT cell counts (the χ²
# independence oracle's cell CTE), n²/Σnᵢ² through DECIMAL(38,0)
# products (forces the int128 path) and the VARCHAR hop, two IEEE
# divisions — 1.0 is exactly representable so DuckDB's DECIMAL
# literal promotes to double with zero error.
SQL["docs_source_lang_diversity"] = """
WITH c AS (
  SELECT source, lang, COUNT(*) AS n_obs
  FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY source, lang
), g AS (
  SELECT source,
         CAST(SUM(n_obs) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_langs,
         SUM(CAST(n_obs AS DECIMAL(38,0))
             * CAST(n_obs AS DECIMAL(38,0))) AS ssq
  FROM c GROUP BY source
)
SELECT source, n_rows, n_langs,
       1.0 - CAST(CAST(ssq AS VARCHAR) AS DOUBLE)
             / CAST(CAST(CAST(n_rows AS DECIMAL(38,0))
                          * CAST(n_rows AS DECIMAL(38,0)) AS VARCHAR)
                    AS DOUBLE) AS simpson_lambda,
       CAST(CAST(CAST(n_rows AS DECIMAL(38,0))
                 * CAST(n_rows AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
       / CAST(CAST(ssq AS VARCHAR) AS DOUBLE) AS effective_langs
FROM g
"""

# Weighted systematic sample: identical md5 total order, BIGINT
# cumulative sums, truncating integer division on positives (// ≡
# Spark div), grid-crossing multiplicity.
SQL["docs_weighted_sample"] = """
WITH b AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
), g AS (
  SELECT doc_id, w,
         SUM(w) OVER (ORDER BY h, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         SUM(w) OVER () AS total
  FROM b
)
SELECT doc_id, w, CAST(cum AS BIGINT) AS cum_w,
       CAST((cum * 100) // total - ((cum - w) * 100) // total
            AS BIGINT) AS n_picks
FROM g
WHERE (cum * 100) // total - ((cum - w) * 100) // total >= 1
"""


# Stratified k-fold: the md5-bucket coin (the _BUCKET device) mod 5,
# exact BIGINT counts/token sums, one integer division in double.
SQL["docs_stratified_kfold"] = f"""
WITH a AS (
  SELECT source AS stratum,
         ({_BUCKET.format(n=100)}) % 5 AS fold,
         {_NTOK} AS ntok
  FROM documents
), per AS (
  SELECT stratum, fold, COUNT(*) AS n_docs, SUM(ntok) AS n_tokens
  FROM a GROUP BY stratum, fold
), t AS (
  SELECT stratum AS st, SUM(n_docs) AS n_total FROM per GROUP BY stratum
)
SELECT stratum, CAST(fold AS BIGINT) AS fold,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS fold_share
FROM per JOIN t ON per.stratum = t.st
"""
