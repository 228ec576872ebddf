"""Documents-domain queries: text dedup/fingerprinting, curation,
LM-quality, retrieval, decontamination, and corpus-composition
readouts over the documents table. The registry lives in
plans/queries.py; split out in round 15 (r14 verdict #6)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window
from ..functions import text as TX
from ..operators import dedup as DD
from ..operators import similarity as SIM
from ..operators import training as TRAIN
from .common import _pq_enc_root, _t  # noqa: F401


def token_frequencies(spark, sf_dir):
    """Explode/unnest surface: corpus-wide top-20 token counts
    (deterministic tiebreak on the token itself)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(TX.tokens("text")).alias("token"))
        .groupBy("token").agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


# --------------------------------------------------------- extensions §2.11

def dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return DD.exact_dedup_groups(d)


def dedup_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return DD.fingerprint_dedup_groups(d)


def ngram_jaccard_neardup(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs (≥0.6) — the ground truth
    for the MinHash path; O(n²), correctness scale only."""
    d = _t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(d, threshold=0.6)


def minhash_neardup(spark, sf_dir):
    """MinHash+LSH near-dup (≥0.6) with exact verification — the 100 TB
    dedup path; same contract (and oracle) as ngram_jaccard_neardup
    since verification makes precision exact and banding recall ≈ 1
    at this threshold."""
    d = _t(spark, sf_dir, "documents")
    return DD.minhash_near_dup_pairs(d, threshold=0.6)


def simhash_neardup(spark, sf_dir):
    """SimHash near-dup (Hamming ≤ 3, pigeonhole-blocked) — rows-only:
    signatures depend on Spark's xxhash64, not SQL-expressible."""
    d = _t(spark, sf_dir, "documents")
    return DD.simhash_pairs(d)


def text_langid(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    pred = TX.lang_guess("text")
    return d.select("doc_id", "lang", pred.alias("lang_pred"),
                    (pred == F.col("lang")).alias("agree"))


def token_heavy_hitters_sketch(spark, sf_dir):
    """Top-20 tokens by count-min estimate — rows-only (sketch
    internals are engine-side); the exact twin is `token_frequencies`.
    One-sided error + mergeability tested in test_operators."""
    from ..operators.sketch import token_heavy_hitters
    d = _t(spark, sf_dir, "documents")
    return token_heavy_hitters(d, "text", k=20)


def _source_shingles(spark, sf_dir):
    """(source, shingle) rows for the overlap twins. The shingle
    table is pinned BEFORE the explode: without the materialization
    barrier the explode stage re-evaluates the O(tokens·n) shingle
    transform (~4× slower, measured at sf0.1 — same pathology
    minhash_near_dup_pairs pins against, dedup.py:251)."""
    from ..operators.cache import pin
    from ..operators.dedup import shingle_df
    d = _t(spark, sf_dir, "documents")
    sh = pin(shingle_df(d, "text", "doc_id", 3))
    return (sh.join(d.select(F.col("doc_id").alias("id"), "source"), "id")
            .select("source", F.explode("sh").alias("shingle")))


def source_overlap_exact(spark, sf_dir):
    """Cross-source shingle overlap, exact: distinct 3-gram shingles
    shared per source pair. This is the O(shared-keys) self-join
    baseline the theta-sketch twin (source_overlap_theta) replaces at
    scale. Top-20 pairs by overlap, deterministic tiebreak."""
    sh = _source_shingles(spark, sf_dir).distinct()
    pairs = (sh.alias("a")
             .join(sh.alias("b"),
                   (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.source") < F.col("b.source")))
             .groupBy(F.col("a.source").alias("source_a"),
                      F.col("b.source").alias("source_b"))
             .agg(F.count("*").alias("n_shared")))
    return pairs.orderBy(F.col("n_shared").desc(),
                         "source_a", "source_b").limit(20)


def corpus_upsample_stats(spark, sf_dir):
    """Repeat-factor corpus mixing (the up-sampling side): langs get
    fixed weights — ⌊w⌋ guaranteed copies per doc plus a fractional
    copy by the deterministic md5 coin — and the query summarizes the
    emitted mixture per lang. Engine-reproducible draw ⇒ oracle-exact
    down to which copies were kept (total_tokens proves it)."""
    from ..functions.text import token_count
    from ..operators.training import upsample_with_repeats
    d = _t(spark, sf_dir, "documents")
    weights = {"en": 1.0, "de": 2.5, "fr": 1.75, "es": 3.0}
    up = upsample_with_repeats(d, weights, "lang", "doc_id")
    return (up.groupBy("lang")
            .agg(F.count("*").alias("n_rows_out"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.max("copy").cast("bigint").alias("max_copies"),
                 F.sum(token_count("text")).cast("bigint")
                 .alias("total_tokens")))


def doc_bpe_token_real(spark, sf_dir):
    """REAL BPE token counts (trained merges, not the regex estimate):
    merges learned on the driver from the bounded word-frequency
    artifact (codebook contract), applied JVM-side via a broadcast
    vocab join. Rows-only: the merge training loop is not
    SQL-expressible; the declared weak twin is
    text_bpe_token_estimate, and exactness vs a pure-python reference
    tokenization is pinned in test_operators."""
    from ..functions.bpe import (_word_freqs, bpe_token_counts,
                                 train_bpe_merges)
    d = _t(spark, sf_dir, "documents")
    freqs = _word_freqs(d, "text", 2000)   # ONE corpus scan, reused
    merges = train_bpe_merges(d, n_merges=60, freqs=freqs)
    return bpe_token_counts(d, merges, [w for w, _ in freqs])


def doc_length_buckets(spark, sf_dir):
    """Equi-depth length bucketing (the batch-shaping step before
    sequence packing: group docs of similar token length so padding
    waste is bounded): ntile(8) over (token count, doc_id) — exact,
    deterministic, rank-based, so bucket boundaries adapt to the
    length distribution with no histogram estimation. Per bucket:
    doc count, min/max/total tokens. Scale note: a GLOBAL ntile
    serializes the rank through one task — at 100 TB swap the exact
    ntile for approx-quantile boundaries + a scan-side bucket
    assignment (boundaries are a broadcast-size artifact); the exact
    form is the oracle-checkable ground truth of that path."""
    from ..functions.text import token_count
    d = _t(spark, sf_dir, "documents")
    rows = d.select("doc_id",
                    token_count("text").cast("bigint").alias("n_tok"))
    w = Window.orderBy("n_tok", "doc_id")
    b = rows.withColumn("bucket", F.ntile(8).over(w))
    return (b.groupBy("bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.min("n_tok").alias("min_tokens"),
                 F.max("n_tok").alias("max_tokens"),
                 F.sum("n_tok").cast("bigint").alias("total_tokens")))


def source_cap_sample(spark, sf_dir):
    """Per-source frequency cap (the per-domain over-representation
    control of web-corpus curation): keep ≤10 docs per source by the
    deterministic md5 coin, then summarize. n_kept_tokens proves the
    engines picked the IDENTICAL docs, not just the same count."""
    from ..operators.training import cap_per_group
    from ..functions.text import token_count
    d = _t(spark, sf_dir, "documents")
    kept = cap_per_group(d, "source", cap=10)
    return (kept.groupBy("source")
            .agg(F.count("*").alias("n_kept"),
                 F.sum(token_count("text")).alias("n_kept_tokens"),
                 F.min("doc_id").alias("min_kept_id")))


def shard_manifest(spark, sf_dir):
    """Deterministic global-shuffle shard manifest: every doc gets a
    reproducible md5 order key and a shard = contiguous slice of that
    pseudo-random order (reading shards in sequence replays the exact
    permutation — training-data order is a hyperparameter). Per-shard
    doc/token counts plus the first/last doc in permutation order,
    all engine-reproducible, so the oracle matches bit-for-bit."""
    from ..operators.training import global_shuffle_shards
    from ..functions.text import token_count
    d = _t(spark, sf_dir, "documents")
    sh = global_shuffle_shards(d, "doc_id", n_shards=16)
    return (sh.groupBy(F.col("shard").cast("bigint").alias("shard"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum(token_count("text")).alias("n_tokens"),
                 F.min_by("doc_id", "okey").alias("first_doc"),
                 F.max_by("doc_id", "okey").alias("last_doc")))


def passage_dedup_scrub(spark, sf_dir):
    """Sub-document exact dedup (Lee et al. 2022): per doc, how many
    8-word passages repeat anywhere in the corpus, and the text length
    after scrubbing the repeated ones (order preserved). Document-level
    dedup can't see boilerplate repeated INSIDE unique pages — this is
    the curation step that does. Two keyed shuffles (digest counts +
    join back), no O(n²); oracle-exact vs the same chunking in SQL."""
    from ..operators.dedup import passage_dedup_stats
    d = _t(spark, sf_dir, "documents")
    out = passage_dedup_stats(d, "text", "doc_id", width=8)
    return out.select(
        "doc_id", "n_passages", "n_dup", "dup_ratio",
        F.col("scrubbed_n_chars").cast("bigint").alias("scrubbed_n_chars"))


def dup_span_extents(spark, sf_dir):
    """MAXIMAL duplicated spans (the missing half of Lee et al. 2022's
    exact substring dedup next to passage_dedup_scrub's disjoint
    chunks): overlapping 8-token windows, a window is duplicated if
    its text occurs ≥2 times anywhere in the corpus, and a doc's
    overlapping/contiguous duplicated windows merge into maximal
    spans via gaps-and-islands (break when the next window starts
    past the previous span's end). Per doc with ≥1 span: span count,
    duplicated-token coverage, longest span. All integers —
    bit-exact across engines.

    Scale shape: windows shuffle once for the global count (groupBy
    window text, partial-agg), join back on the window key, and the
    island merge is a per-doc window (partitioned by doc_id — no
    global window). At 100 TB swap the window STRING key for
    xxhash64(window) — identical plan, 8-byte shuffle keys; the
    string key here keeps the DuckDB oracle hash-exact."""
    W = 8
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("w"))
    wins = (toks.filter(F.size("w") >= W)
            .select("doc_id", F.posexplode(F.expr(
                f"transform(sequence(0, size(w) - {W}),"
                f" i -> concat_ws(' ', slice(w, i + 1, {W})))"
            )).alias("pos", "win")))
    dup_wins = (wins.groupBy("win").agg(F.count("*").alias("n_occ"))
                .filter(F.col("n_occ") >= 2).select("win"))
    marked = wins.join(dup_wins, "win").select("doc_id", "pos")
    ww = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(ww)
    brk = F.when(prev.isNull() | (F.col("pos") > prev + W), 1).otherwise(0)
    isl = (marked.withColumn("brk", brk)
           .withColumn("grp", F.sum("brk").over(ww)))
    spans = isl.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("s"), (F.max("pos") + F.lit(W - 1)).alias("e"))
    return spans.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("dup_tokens"),
        F.max(F.col("e") - F.col("s") + 1).cast("bigint")
        .alias("max_span_tokens"))


def source_overlap_theta(spark, sf_dir):
    """Cross-source distinct-shingle set algebra via theta sketches:
    |A|, |B|, |A∩B|, |A∪B| per source pair from one corpus scan + a
    K-row sketch join — no fingerprint self-join. Rows-only (sketch
    estimates are engine-side); agreement with source_overlap_exact
    is asserted in test_operators (exact-mode sketches at fixture
    cardinalities). Same top-20 framing as the exact twin."""
    from ..operators.sketch import (theta_pairwise_overlap,
                                    theta_set_sketches)
    sh = _source_shingles(spark, sf_dir)
    sketches = theta_set_sketches(sh, "shingle", "source", lg_nom=14)
    out = theta_pairwise_overlap(sketches, "source")
    return (out.select(F.col("set_a").alias("source_a"),
                       F.col("set_b").alias("source_b"),
                       F.col("n_a").cast("bigint").alias("n_a"),
                       F.col("n_b").cast("bigint").alias("n_b"),
                       F.col("n_shared").cast("bigint").alias("n_shared"),
                       F.col("n_union").cast("bigint").alias("n_union"))
            .orderBy(F.col("n_shared").desc(), "source_a", "source_b")
            .limit(20))


def curation_pipeline_summary(spark, sf_dir):
    """The batch curation funnel as ONE oracle-verifiable composition:
    quality gate → exact dedup (min-id keeper per distinct text) →
    deterministic split → per-split doc/token counts. The demo script
    runs this flow imperatively; this query proves the composed
    DataFrame program stays engine-exact end to end."""
    d = _t(spark, sf_dir, "documents")
    kept = d.filter(TX.quality_flag("text"))
    keeper = kept.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    split = TRAIN.hash_split(keeper, "doc_id")
    return (split.groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(TX.token_count("text")).alias("n_tokens")))


def doc_containment_pairs(spark, sf_dir):
    """Asymmetric n-gram CONTAINMENT pairs (|A∩B|/|A| ≥ 0.8, ordered
    a-contained-in-b): quote/subset detection — the measure Jaccard
    misses when a short doc sits inside a long one. Exact integer set
    sizes ⇒ bit-exact vs the oracle.
    See operators/dedup.py::ngram_containment_pairs."""
    d = _t(spark, sf_dir, "documents")
    return DD.ngram_containment_pairs(d, threshold=0.8)


def doc_sparse_cosine_neardup(spark, sf_dir):
    """Sparse-vector similarity join: doc pairs with cosine ≥ 0.7
    over term-frequency vectors via the inverted-index (postings)
    join with a doc-frequency prune — the third text-similarity
    family next to hash-based (MinHash/SimHash) and dense-embedding
    cosine. Exact integer dot/norms ⇒ bit-exact vs the oracle.
    See operators/dedup.py::sparse_cosine_pairs."""
    d = _t(spark, sf_dir, "documents")
    return DD.sparse_cosine_pairs(d, threshold=0.7, df_cap=200)


def text_repetition(spark, sf_dir):
    """Repetition/boilerplate quality signal: distinct vs total word
    3-grams per document (1 − distinct/total)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.ngram_total("text").alias("n_ngrams"),
        F.size(TX.shingles("text")).alias("n_distinct"),
        TX.repetition_ratio("text").alias("rep_ratio"),
    )


def pack_sequences_chunked(spark, sf_dir):
    """LLM pretraining sequence packing (concatenate-and-chunk): a
    windowed running sum per hash stream — one shuffle, SQL-exact."""
    d = _t(spark, sf_dir, "documents")
    return TRAIN.pack_chunks(d, cap=2048, n_streams=32)


def train_test_split_hash(spark, sf_dir):
    """Deterministic md5-bucket train/val/test split + per-split stats."""
    d = _t(spark, sf_dir, "documents")
    return TRAIN.split_summary(d)


def corpus_mix(spark, sf_dir):
    """Data-mixing weights toward a uniform per-language token share."""
    d = _t(spark, sf_dir, "documents")
    return TRAIN.corpus_mix_weights(d)


def stratified_resample_stats(spark, sf_dir):
    """Apply ``weighted_resample`` down-weights (en halved, zh
    quartered — the corpus-mix step actually executed, not just its
    weights) and report the surviving per-language doc/token counts.
    Deterministic md5-coin keep decision → bit-exact oracle twin."""
    d = _t(spark, sf_dir, "documents")
    kept = TRAIN.weighted_resample(d, {"en": 0.5, "zh": 0.25})
    return (kept.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(TX.token_count("text")).alias("n_tokens")))


def pii_scrub_stats(spark, sf_dir):
    """Content filtering: PII match counts + redacted length per doc
    (the fixture corpus is synthetic word-salad, so counts are zero —
    the oracle still proves both engines compile the same patterns)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.pii_count("text", TX.PII_PATTERNS["email"]).alias("n_email"),
        TX.pii_count("text", TX.PII_PATTERNS["phone"]).alias("n_phone"),
        F.length(TX.scrub_pii("text")).alias("clean_len"),
    )


def pack_greedy_packing(spark, sf_dir):
    """First-fit greedy packing (no straddle) via applyInPandas — the
    non-SQL-expressible twin of pack_sequences_chunked; invariants are
    property-tested in tests/test_operators.py."""
    d = _t(spark, sf_dir, "documents")
    return TRAIN.pack_greedy(d, cap=2048, n_buckets=32)


def dedup_cluster_keepers(spark, sf_dir):
    """Near-dup COMPONENTS → canonical keepers: MinHash pairs (exact-
    verified, = the Jaccard oracle's pair set on this corpus) are
    clustered by iterative min-label propagation
    (operators/dedup.py::neardup_clusters) and each cluster reports its
    min-id keeper + member count. Near-dup similarity is not
    transitive, so this is the step that turns pairs into keep/drop
    decisions. Oracle: recursive-CTE reachability fixpoint over the
    exact-Jaccard pair graph — same labeling, engine-independent."""
    d = _t(spark, sf_dir, "documents")
    return DD.neardup_cluster_keepers(d, threshold=0.6)


def text_bpe_token_estimate(spark, sf_dir):
    """BPE-ish token counting (GPT-2 pretokenizer shape, Java∩RE2): the
    cheap scan-speed proxy for tokenizer output size used in corpus
    budgeting, beside the whitespace count and their ratio."""
    d = _t(spark, sf_dir, "documents")
    bpe = TX.bpe_token_estimate("text")
    ws = TX.token_count("text")
    return d.select(
        "doc_id",
        bpe.cast("bigint").alias("n_bpe"),
        ws.cast("bigint").alias("n_ws"),
        (bpe.cast("double") / ws.cast("double")).alias("bpe_per_ws"))


def rolling_fingerprint_neardup(spark, sf_dir):
    """Shift-tolerant near-dup candidates: doc pairs sharing ≥3
    distinct 8-token rolling-window hashes (winnowing's candidate
    rule). Candidates come from an equi-join on the window hash —
    shuffle linear in windows, never all-pairs; random docs share no
    windows (2³¹ hash space), near-dups share most of them."""
    d = _t(spark, sf_dir, "documents")
    wh = (d.select("doc_id", TX.token_hash_array("text").alias("hs"))
          .select("doc_id", F.explode(F.array_distinct(
              TX.rolling_window_hashes("hs"))).alias("h")))
    a = wh.select(F.col("doc_id").alias("doc_a"), "h")
    b = wh.select(F.col("doc_id").alias("doc_b"), "h")
    return (a.join(b, "h")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").cast("bigint").alias("n_shared"))
            .filter(F.col("n_shared") >= 3))


def doc_top_terms(spark, sf_dir):
    """Per-doc top-3 distinctive terms by tf·rarity — the
    vocabulary/keyword step of corpus analytics. Weighting is LOG-FREE
    (score = tf · (N_docs+1) / (df+1), exact integer ratio in double)
    so both engines produce bit-identical scores — ln() would differ
    in the last ulp across libm builds. Shuffles are one token agg +
    one broadcast-joined doc-frequency dim + one windowed top-k."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(
        F.split(F.trim(F.col("text")), r"\s+")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count("*").cast("bigint").alias("tf"))
    df_ = toks.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df"))
    # corpus size as a broadcast scalar row — the plan stays LAZY
    # (an eager d.count() here would run a job at plan-build time)
    n_row = F.broadcast(d.agg(F.count("*").alias("n_docs")))
    scored = tf.join(F.broadcast(df_), "term").crossJoin(n_row).select(
        "doc_id", "term", "tf", "df",
        (F.col("tf").cast("double") * (F.col("n_docs") + F.lit(1))
         / (F.col("df") + F.lit(1)).cast("double")).alias("score"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("doc_id", "term", "tf", "df", "score",
                    F.col("rn").cast("bigint").alias("rn")))


def contamination_check(spark, sf_dir):
    """Train/test CONTAMINATION: near-dup pairs across a disjoint
    held-out split (doc_id % 20 == 0) and the training remainder —
    the eval-integrity check every LLM pipeline runs before training.
    MinHash+banding across the two corpora, exact-Jaccard verified
    (operators/dedup.py::cross_corpus_near_dup); the oracle computes
    the exact cross-corpus Jaccard join."""
    d = _t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 20 != 0)
    test = d.filter(F.col("doc_id") % 20 == 0)
    return DD.cross_corpus_near_dup(train, test, threshold=0.6) \
        .select(F.col("a_id").alias("train_id"),
                F.col("b_id").alias("test_id"), "jacc")


def neardup_pagerank(spark, sf_dir):
    """Fixed-point integer PageRank over the exact near-dup pair
    graph (operators/graph.py::pagerank_fixed_point) — the
    centrality signal behind rank-based canonical-document selection
    (a hub many variants copy from beats the arbitrary min-id
    keeper). The recurrence is pure BIGINT floor arithmetic
    (scale 10^12, damping 17/20, 10 iterations), so the ranks are
    bit-exact against the oracle's unrolled-CTE twin — a property
    floating-point PageRank cannot offer. Pair graph = exact 3-gram
    Jaccard ≥ 0.6 (the `ngram_jaccard_neardup` shape), both edge
    directions, so no dangling nodes exist."""
    from ..operators.graph import pagerank_fixed_point
    d = _t(spark, sf_dir, "documents")
    # materialize the pair join BEFORE mirroring: the union
    # references `pairs` twice, and without this the O(n²) jaccard
    # subtree executes twice inside the edge materialization
    # (plan-verified: 2 BNLJs, 0 ReusedExchange — review catch)
    pairs = DD.ngram_jaccard_pairs(d, threshold=0.6).localCheckpoint()
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .union(pairs.select(F.col("doc_b").alias("src"),
                                 F.col("doc_a").alias("dst"))))
    return (pagerank_fixed_point(edges, n_iters=10)
            .select(F.col("node").alias("doc_id"),
                    F.col("pr_scaled")))


def corpus_datacard(spark, sf_dir):
    """Per-source data card — the artifact published next to a
    training corpus: doc/token volume, language spread, heuristic
    quality pass-rate, exact-duplicate rate (fingerprint distinct
    ratio) and mean LM-quality score, one row per source. Pure
    composition of established exact patterns (integer counts, the
    bit-exact lm_score, decimal-cast mean) ⇒ bit-exact oracle. One
    corpus aggregate + the broadcast LM model joins — no new shapes."""
    from ..operators.lm_quality import ngram_lm_score
    d = _t(spark, sf_dir, "documents")
    # scores stay doc_id-keyed; source/lang/keep/fp attach via ONE
    # join (threading them through the scorer's extra_cols built a
    # pathological plan: 14 s warm vs 0.2 s for 500 docs — measured)
    lm = ngram_lm_score(d, vocab_size=24, min_count=2, train_pct=80)
    per_doc = lm.select("doc_id", "n_tokens", "lm_score").join(
        d.select("doc_id", "source", "lang",
                 TX.quality_flag("text").alias("keep"),
                 TX.fingerprint("text").alias("fp")), "doc_id")
    return (per_doc.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.countDistinct("lang").cast("bigint").alias("n_langs"),
                 F.sum(F.col("keep").cast("int")).cast("bigint")
                  .alias("n_quality_keep"),
                 (F.count("*") - F.countDistinct("fp")).cast("bigint")
                  .alias("n_exact_dups"),
                 (F.sum(F.col("lm_score").cast("decimal(27,6)"))
                  .cast("double") / F.count("lm_score"))
                  .alias("mean_lm_score")))


def doc_lm_quality(spark, sf_dir):
    """CCNet-style n-gram LM quality scoring: a count-pruned bigram
    model trained on the deterministic 80% hash-split scores every
    document (operators/lm_quality.py::ngram_lm_score). vocab_size=24
    (< the fixture's 31 distinct tokens) so the <unk>/OOV machinery
    is live against the oracle. The headline lm_score is the log-free
    aggregated Laplace likelihood — bit-exact cross-engine; the true
    cross-entropy column (xent_bits, ln-based) is engine-only and
    verified against exact Python in tests/test_operators.py."""
    from ..operators.lm_quality import ngram_lm_score
    d = _t(spark, sf_dir, "documents")
    return ngram_lm_score(d, vocab_size=24, min_count=2, train_pct=80,
                          extra_cols=["lang"]).drop("xent_bits")


def lm_quality_bands(spark, sf_dir):
    """CCNet's second half: per-language head/middle/tail perplexity
    bands over the LM quality score (head = most in-distribution).
    Deterministic exact ntile(3) per lang on (lm_score DESC NULLS
    LAST, doc_id) — the unique tiebreak makes band assignment
    engine-exact; band stats aggregate per (lang, band). Exact ranks
    per the doc_length_buckets convention (its scan-side
    percentile_approx twin shows the 100 TB path — band CUTOFFS from
    approx quantiles, assignment by comparison, no global sort)."""
    from ..operators.lm_quality import ngram_lm_score
    d = _t(spark, sf_dir, "documents")
    scored = ngram_lm_score(d, vocab_size=24, min_count=2, train_pct=80,
                            extra_cols=["lang"]).drop("xent_bits")
    w = Window.partitionBy("lang").orderBy(
        F.col("lm_score").desc_nulls_last(), F.col("doc_id"))
    banded = scored.withColumn("b", F.ntile(3).over(w)).withColumn(
        "band", F.when(F.col("b") == 1, "head")
                 .when(F.col("b") == 2, "middle").otherwise("tail"))
    return (banded.groupBy("lang", "band")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.min("lm_score").alias("min_score"),
                 F.max("lm_score").alias("max_score")))


def dsir_importance_weights(spark, sf_dir):
    """DSIR hashed-bigram importance weights toward the lang='en'
    target distribution (operators/lm_quality.py::dsir_importance):
    per-doc mean target/raw likelihood-ratio over 512 md5-hashed
    bigram feature buckets — the data-selection signal that reshapes
    a raw corpus toward a target domain by resampling."""
    from ..operators.lm_quality import dsir_importance
    d = _t(spark, sf_dir, "documents")
    return dsir_importance(d, target_col="lang", target_value="en",
                           n_buckets=512)


def source_tv_drift(spark, sf_dir):
    """Pairwise total-variation distance between per-source token
    distributions (operators/lm_quality.py::token_tv_divergence) —
    the drift monitor between corpus snapshots/sources. Exact
    rational arithmetic on the common denominator (DECIMAL(38,0)
    cross-products, one final string-routed division) ⇒ bit-exact."""
    from ..operators.lm_quality import token_tv_divergence
    d = _t(spark, sf_dir, "documents")
    return token_tv_divergence(d, group_col="source")


def source_ks_drift(spark, sf_dir):
    """Pairwise exact two-sample Kolmogorov-Smirnov statistic over
    per-source doc-length distributions
    (operators/lm_quality.py::ks_value_drift) — the SHAPE-sensitive
    drift monitor next to source_tv_drift (TV sees token-frequency
    drift; KS sees distributional shift of a numeric property).
    Integer cross-products in DECIMAL(38,0), one string-routed final
    division ⇒ bit-exact; ks_at = smallest value attaining the max."""
    from ..operators.lm_quality import ks_value_drift
    d = _t(spark, sf_dir, "documents")
    return ks_value_drift(d, value_col="n_chars", group_col="source")


def doc_repetition_signals(spark, sf_dir):
    """Gopher-style within-document repetition quality signals
    (operators/lm_quality.py::repetition_signals; Rae et al. 2021
    Table A1): duplicate-line fraction + char fraction, most-frequent
    {2,3}-gram char coverage, and position-union char coverage of
    duplicated 3-grams (3, not Gopher's 5-10, because the synthetic
    corpus has no duplicated 5-grams — dup-3 is nonzero on 27 docs,
    so the union path is exercised by the external hash; larger n is
    pinned by hand tests) — the classic pre-training filters for
    boilerplate and degenerate repetition. Exact integer numerators
    and denominators, one int/int division per fraction ⇒ bit-exact."""
    from ..operators.lm_quality import repetition_signals
    d = _t(spark, sf_dir, "documents")
    return repetition_signals(d, top_ns=(2, 3), dup_ns=(3,))


def doc_quality_signals(spark, sf_dir):
    """The heuristic half of Gopher Table A1
    (operators/lm_quality.py::quality_signals), companion of
    doc_repetition_signals: word-count/mean-word-length bounds,
    symbol ratio, bullet/ellipsis line fractions, alpha-word
    fraction, required-stopword hits, and the paper's conjunctive
    keep verdict. min_stop_hits relaxed to 1 HERE because the
    synthetic vocabulary contains only 'the' of Gopher's eight
    required stopwords — at the paper's 2 the verdict is constant
    False on this fixture (the default is exercised by hand tests);
    with 1 the fixture keeps 251/500. Exact integer counts formed
    in-row (zero shuffle — a map-only pass), one int/int division
    per ratio ⇒ bit-exact."""
    from ..operators.lm_quality import quality_signals
    return quality_signals(_t(spark, sf_dir, "documents"),
                           min_stop_hits=1)


def source_chi2_drift(spark, sf_dir):
    """Pairwise two-sample chi-square homogeneity statistic over
    per-source doc-length histograms, 50-char bins
    (operators/lm_quality.py::chi2_value_drift) — the TAIL-sensitive
    drift monitor next to source_tv_drift (token frequencies) and
    source_ks_drift (CDF shape): chi-square weights per-bin deviations
    by 1/expected, so sparse-bin changes both TV and KS average away
    move it first. Integer cross-products in DECIMAL(38,0), per-bin
    terms quantized DECIMAL(27,6) and summed exactly ⇒ bit-exact."""
    from ..operators.lm_quality import chi2_value_drift
    d = _t(spark, sf_dir, "documents")
    return chi2_value_drift(d, value_col="n_chars", group_col="source",
                            bin_width=50)


def doc_bm25_topk(spark, sf_dir):
    """Okapi-BM25 top-10 docs per fixture query over the documents
    table (operators/retrieval.py::bm25_topk) — the lexical retrieval
    arm of hybrid search. Log-free BM25 surrogate (module doc: the
    idf log's argument ranked directly, the DSIR device); per-term
    scores are one IEEE division of exact DECIMAL(38,0) integer
    cross-products, decimal-cast-summed; ranks computed on the exact
    decimal, ties to the smaller doc_id."""
    from ..operators.retrieval import FIXTURE_QUERIES, bm25_topk
    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, FIXTURE_QUERIES, k=10)


_BM25_IDX: dict = {}


def _bm25_index_path(spark, sf_dir):
    """Materialize the full-vocabulary inverted index ONCE per
    (application, corpus) under the private per-process tempdir
    (common._pq_enc_root). Written PARTITIONED BY the
    md5 term bucket (r10) so the serve path's driver-side vocabulary
    filter becomes partition pruning — the deployment layout
    bm25_index's docstring prescribes, exercised by the benched
    fixture itself (plan-pinned:
    tests/test_plans.py::test_bm25_from_index_prunes_term_partitions)."""
    import hashlib
    import os
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _BM25_IDX:
        from ..operators.retrieval import (N_TERM_BUCKETS, bm25_index,
                                           term_bkt_name)
        tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:16]
        path = os.path.join(_pq_enc_root(), tag, "bm25_postings")
        bm25_index(_t(spark, sf_dir, "documents"),
                   term_buckets=N_TERM_BUCKETS) \
            .write.mode("overwrite") \
            .partitionBy(term_bkt_name(N_TERM_BUCKETS)).parquet(path)
        _BM25_IDX[key] = path
    return _BM25_IDX[key]


def doc_pmi_collocations(spark, sf_dir):
    """Top-50 adjacent-token collocations by PMI
    (operators/lm_quality.py::pmi_collocations) — collocation
    extraction a la Church & Hanks 1990, the vocabulary-building
    signal for multi-word tokenizer merges. Log-free surrogate (the
    PMI log's argument ranked directly): one string-routed IEEE
    division of exact DECIMAL(38,0) cross-products
    (c_ab·T_uni²)/(c_a·c_b·T_bi); min_count=5 prunes the classic
    low-frequency bias; ranks tie-break on (prev, cur)."""
    from ..operators.lm_quality import pmi_collocations
    d = _t(spark, sf_dir, "documents")
    return pmi_collocations(d, min_count=5, k=50)


def doc_bm25_from_index(spark, sf_dir):
    """BM25 top-10 against the MATERIALIZED inverted index
    (operators/retrieval.py::bm25_index / bm25_from_index): zero
    tokenize/explode work per query, corpus stats derived from the
    index itself — the steady-state serve cost next to
    doc_bm25_topk. Row-identical to doc_bm25_topk (shared scoring
    tail; same oracle)."""
    from ..operators.retrieval import FIXTURE_QUERIES, bm25_from_index
    postings = spark.read.parquet(_bm25_index_path(spark, sf_dir))
    return bm25_from_index(postings, FIXTURE_QUERIES, k=10)


def doc_ngram_novelty(spark, sf_dir):
    """Per-doc 3-gram novelty of the training split against the
    held-out reference split (doc_id % 20 == 0 — the
    contamination_check convention;
    operators/lm_quality.py::ngram_novelty): fraction of each train
    doc's DISTINCT word 3-grams absent from the reference's 3-gram
    set — the doc-level decontamination/freshness score next to the
    pair-level contamination check. Integer shingle counts, one IEEE
    division ⇒ bit-exact; reference set broadcasts (eval corpora are
    bounded by definition)."""
    from ..operators.lm_quality import ngram_novelty
    d = _t(spark, sf_dir, "documents")
    return ngram_novelty(d.filter(F.col("doc_id") % 20 != 0),
                         d.filter(F.col("doc_id") % 20 == 0), n=3)


def corpus_snapshot_diff(spark, sf_dir):
    """Between-crawls corpus diff (operators/dedup.py::snapshot_diff):
    per-source added/removed/changed/unchanged doc counts + exact
    token deltas between the fixture corpus and a deterministically
    perturbed next crawl (docs %17==3 removed, %13==1 edited,
    %23==2 re-landed under new ids) — the accounting pass an
    incremental pipeline runs before reprocessing. One full-outer
    doc_id join; BIGINT arithmetic throughout ⇒ bit-exact."""
    from ..operators.dedup import snapshot_diff
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    kept = d.filter(F.col("doc_id") % 17 != 3)
    changed = kept.withColumn(
        "text", F.when(F.col("doc_id") % 13 == 1,
                       F.concat(F.col("text"), F.lit(" updated")))
        .otherwise(F.col("text")))
    added = (d.filter(F.col("doc_id") % 23 == 2)
             .select((F.col("doc_id") + 1000000).alias("doc_id"),
                     "source",
                     F.concat(F.col("text"), F.lit(" fresh")).alias("text")))
    return snapshot_diff(d, changed.unionByName(added))


def eval_leak_spans(spark, sf_dir):
    """Span-level eval-leak localization
    (operators/dedup.py::cross_corpus_span_extents): maximal token
    spans of TRAIN docs occurring verbatim (8-token windows) in the
    held-out reference split (doc_id % 20 == 0 — the
    contamination_check convention) — decontamination's
    cut-the-passage step, localizing what ngram_novelty scores and
    contamination_check pairs. Integer gaps-and-islands ⇒
    bit-exact; reference windows broadcast."""
    from ..operators.dedup import cross_corpus_span_extents
    d = _t(spark, sf_dir, "documents")
    return cross_corpus_span_extents(
        d.filter(F.col("doc_id") % 20 != 0),
        d.filter(F.col("doc_id") % 20 == 0), w=8)


def eval_leak_scrub(spark, sf_dir):
    """ACT on the leak localization (operators/dedup.py::
    scrub_leaked_spans): rewrite every train doc (doc_id % 20 != 0)
    with its maximal leaked spans — 8-token windows occurring
    verbatim in the held-out reference split — removed. Every train
    doc passes through once: 'clean' docs keep their original text
    verbatim, 'scrubbed' docs get the token-exact survivor
    reconstruction, fully-leaked docs are 'dropped' with NULL text
    (the row is the audit record). Integer span/position algebra ⇒
    bit-exact; reference windows broadcast."""
    from ..operators.dedup import scrub_leaked_spans
    d = _t(spark, sf_dir, "documents")
    return scrub_leaked_spans(
        d.filter(F.col("doc_id") % 20 != 0),
        d.filter(F.col("doc_id") % 20 == 0), w=8)


def dup_span_scrub(spark, sf_dir):
    """Exact-substring SELF-deduplication
    (operators/dedup.py::scrub_duplicate_spans — Lee et al. 2022
    within the corpus): every duplicated maximal 8-token-window span
    is cut from all but its first (smallest doc_id, pos) occurrence;
    each doc lands once as clean (original text verbatim), scrubbed
    (token-exact survivor reconstruction) or dropped (fully
    duplicated, NULL text). Integer keep-first + islands algebra ⇒
    bit-exact."""
    from ..operators.dedup import scrub_duplicate_spans
    return scrub_duplicate_spans(_t(spark, sf_dir, "documents"), w=8)


def winnow_fingerprint_neardup(spark, sf_dir):
    """Near-dup candidate pairs over WINNOWED fingerprints
    (operators/dedup.py::winnowing_neardup_pairs — Schleimer,
    Wilkerson & Aiken 2003, the MOSS algorithm): per window of 4
    consecutive Rabin-Karp 8-gram hashes keep the minimum (ties
    rightmost), join docs sharing ≥2 selected fingerprint values.
    ~2/(w+1) of the rolling-hash postings with detection GUARANTEED
    for shared runs ≥ k+w−1 = 11 tokens — the scale upgrade of
    rolling_fingerprint_neardup. All integers ⇒ bit-exact."""
    from ..operators.dedup import winnowing_neardup_pairs
    return winnowing_neardup_pairs(
        _t(spark, sf_dir, "documents"), k=8, w=4, min_shared=2)


def crawl_delta_apply(spark, sf_dir):
    """APPLY an incremental crawl onto the corpus
    (operators/dedup.py::apply_crawl_delta): a deterministic delta —
    tombstones (%17==3, NULL text), edits (%13==1, ' updated'),
    content-identical re-lands (%19==5, leading whitespace only) and
    new docs (%23==2 under fresh ids) — upserts over the fixture
    corpus into the merged corpus with per-row op labels
    (carried/refreshed/updated/added; tombstoned docs leave). ONE
    full-outer doc_id join; fingerprint/flag algebra ⇒ bit-exact."""
    from ..operators.dedup import apply_crawl_delta
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    in_delta = ((F.col("doc_id") % 17 == 3) | (F.col("doc_id") % 13 == 1)
                | (F.col("doc_id") % 19 == 5))
    delta_text = (F.when(F.col("doc_id") % 17 == 3,
                         F.lit(None).cast("string"))
                  .when(F.col("doc_id") % 13 == 1,
                        F.concat(F.col("text"), F.lit(" updated")))
                  .otherwise(F.concat(F.lit("  "), F.col("text"))))
    changed = (d.filter(F.col("text").isNotNull() & in_delta)
               .withColumn("text", delta_text))
    added = (d.filter((F.col("doc_id") % 23 == 2)
                      & F.col("text").isNotNull())
             .select((F.col("doc_id") + 1000000).alias("doc_id"),
                     "source",
                     F.concat(F.col("text"), F.lit(" fresh")).alias("text")))
    return apply_crawl_delta(d, changed.unionByName(added))


def snapshot_change_magnitude(spark, sf_dir):
    """HOW MUCH each changed doc changed between crawls
    (operators/dedup.py::snapshot_change_profile): distinct-token
    Jaccard old-vs-new for the snapshot_diff 'changed' class (same
    deterministic perturbation) — jacc≈1 touch-ups vs jacc≈0
    rewrites decide re-embed/re-score vs metadata-only relanding.
    Integer set sizes, one IEEE division ⇒ bit-exact."""
    from ..operators.dedup import snapshot_change_profile
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    kept = d.filter(F.col("doc_id") % 17 != 3)
    changed = kept.withColumn(
        "text", F.when(F.col("doc_id") % 13 == 1,
                       F.concat(F.col("text"), F.lit(" updated")))
        .otherwise(F.col("text")))
    return snapshot_change_profile(d, changed)


def corpus_vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary growth curve over nested md5-bucket
    subsamples (operators/lm_quality.py::vocab_growth_curve):
    (sample_pct, n_docs, n_tokens, n_vocab, ttr) at 10%..100% — does
    the corpus keep yielding new vocabulary as it grows? A literal
    prefix curve needs a global doc rank (one-task sort at scale);
    the nested-uniform-subsample estimator serves every step from ONE
    term→min-bucket aggregate. Exact integers, one IEEE division for
    ttr ⇒ bit-exact."""
    from ..operators.lm_quality import vocab_growth_curve
    return vocab_growth_curve(_t(spark, sf_dir, "documents"), steps=10)


def source_mix_weights(spark, sf_dir):
    """α=½ temperature-scaled sampling weights per source
    (operators/training.py::source_temperature_weights) — the
    multilingual/multi-source pretraining mix next to corpus_mix's
    uniform-target weights. sqrt is the one sub-linear exponent that
    is IEEE-correctly-rounded, and normalization is by the largest
    group (max, not a fold-order-dependent float sum) ⇒ every output
    double is a fixed tree of correctly-rounded ops over exact BIGINT
    aggregates — bit-exact cross-engine."""
    from ..operators.training import source_temperature_weights
    return source_temperature_weights(
        _t(spark, sf_dir, "documents"), group_col="source")


def hybrid_rrf_ann(spark, sf_dir):
    """The DEPLOYMENT-scale twin of hybrid_rrf_retrieval: the dense
    arm runs IVF-cell ANN (probe 2 of 16 cells) instead of exact
    brute-force cosine, so the corpus is scored only within probed
    cells — the arm a 100 TB hybrid search actually ships. Rows-only
    (cell assignment is engine-side, like the other ANN tiers);
    fused-top-10 overlap vs the exact hybrid is asserted in
    tests/test_retrieval.py."""
    from ..operators import similarity as SIM
    from ..operators.retrieval import jaccard_ranks, rrf_fuse
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    sparse = jaccard_ranks(d, [0, 1, 2], arm_k=20)
    q = e.filter(F.col("vec_id") < 3)
    dense = SIM.ivf_ann(e, q, k=20).select(
        "q_id", F.col("n_id").alias("doc_id"), "rn")
    return rrf_fuse(sparse, dense, k=10)


def hybrid_rrf_retrieval(spark, sf_dir):
    """Hybrid doc-to-doc retrieval for query docs 0-2 (doc_id ≡
    vec_id): token-set-Jaccard sparse arm + embedding-cosine dense
    arm (top-20 each), fused by reciprocal-rank fusion
    (Σ 1/(60+rank), Cormack et al. 2009;
    operators/retrieval.py::rrf_fuse). Fusion sums exact
    DECIMAL(27,6) contributions; the fused rank is computed on the
    exact decimal, ties to the smaller doc_id."""
    from ..operators import similarity as SIM
    from ..operators.retrieval import jaccard_ranks, rrf_fuse
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    sparse = jaccard_ranks(d, [0, 1, 2], arm_k=20)
    q = e.filter(F.col("vec_id") < 3)
    dense = SIM.knn_bruteforce(e, q, k=20).select(
        "q_id", F.col("n_id").alias("doc_id"), "rn")
    return rrf_fuse(sparse, dense, k=10)


def source_quality_floor(spark, sf_dir):
    """Per-source quality-floor curation
    (operators/training.py::quality_floor_summary): each source drops
    its own bottom token-count quartile — the floor is the value at
    exact ascending rank ⌈n/4⌉, no float quantile — and reports
    (source, n_docs, threshold, n_kept, kept_sum). The per-source cut
    a C4/Gopher-style mix applies before sampling, complementing the
    global-grid doc_length_buckets and the per-source caps. Integer
    ranks + tie-independent threshold values ⇒ bit-exact oracle.
    Scale: one keyed window pass + a |sources|-row broadcast; the
    approx-boundary swap (equi_depth_boundaries) is the documented
    100 TB upgrade for monster groups."""
    from ..functions.text import token_count
    from ..operators.training import quality_floor_summary
    d = (_t(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull())
         .select("source", "doc_id",
                 token_count("text").cast("bigint").alias("n_tok")))
    return quality_floor_summary(d, "source", "n_tok")


def source_quality_floor_approx(spark, sf_dir):
    """Sketch-based twin of source_quality_floor — the monster-group
    swap its exact form documents (operators/training.py::
    quality_floor_summary_approx): per-source floors via the
    percentile_approx GK aggregate (mergeable, map-side partials), so
    the summary is two plain aggregates + a |sources|-row broadcast —
    no keyed sort window, no group serializing its rank through one
    task. Rows-only BY DESIGN (the sketch is engine-internal; the
    exact in-window source_quality_floor is the oracle-checkable
    ground truth); accuracy pinned by
    tests/test_operators.py::test_quality_floor_approx_accuracy."""
    from ..functions.text import token_count
    from ..operators.training import quality_floor_summary_approx
    d = (_t(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull())
         .select("source", "doc_id",
                 token_count("text").cast("bigint").alias("n_tok")))
    return quality_floor_summary_approx(d, "source", "n_tok")


def neardup_triangle_stats(spark, sf_dir):
    """Triangle participation + local clustering coefficient over the
    exact near-dup pair graph (operators/graph.py::triangle_counts —
    Suri & Vassilvitskii 2011 edge-orientation counting): separates
    densely-interlinked template/boilerplate families (triangles,
    clustering → 1) from chains of marginal pairs (clustering 0) —
    the graph-cohesion readout next to CC keepers and PageRank.
    Exact BIGINT counts; the coefficient is one fixed double tree ⇒
    bit-exact oracle (same wedge-close joins in SQL over the exact
    _JACCARD_PAIRS ground truth). The engine side feeds the
    PRODUCTION pair graph — banded MinHash with exact-Jaccard
    verification (precision 1; banded recall is exactly 1 on this
    fixture, the same engine↔oracle pairing dedup_cluster_keepers
    has held green since r1 — an 18.9 s exact O(n²) pair scan
    measured at sf0.1 dropped to ~4 s). Counting itself is two
    equi-joins + map-side aggregates; degree-orientation upgrade
    documented in the operator."""
    from ..operators.graph import triangle_counts
    d = _t(spark, sf_dir, "documents")
    pairs = DD.minhash_near_dup_pairs(d, threshold=0.6)
    return (triangle_counts(pairs)
            .select(F.col("id").alias("doc_id"), "degree",
                    "n_triangles", "clustering"))


def source_gini_concentration(spark, sf_dir):
    """Per-source Gini concentration of document length — the
    inequality readout a corpus curator runs next to the mix weights
    and caps: a source whose token mass concentrates in a few giant
    documents (G→1) needs per-doc caps where an even source (G→0)
    needs only per-source ones. G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    ascending-ranked lengths (the exact rank form of the standard
    estimator, Glasser 1962) → (source, n_docs, total_chars, gini).

    Determinism: ranks are row_number over (n_chars, doc_id) — a
    total order; Σ(i·xᵢ) and Σx are exact BIGINTs; the finisher is
    one fixed IEEE tree over those ints ⇒ bit-exact. Scale: one
    keyed window pass (rank within source) + one map-side-collapsing
    aggregate; a |sources|-row result."""
    d = (_t(spark, sf_dir, "documents")
         .filter(F.col("n_chars").isNotNull())
         .select("source", "doc_id", "n_chars"))
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    r = d.withColumn("rk", F.row_number().over(w))
    agg = (r.groupBy("source")
           .agg(F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
                F.sum(F.col("rk").cast("long") * F.col("n_chars"))
                .alias("rank_mass")))
    n = F.col("n_docs").cast("double")
    gini = (F.lit(2.0) * F.col("rank_mass").cast("double")
            / (n * F.col("total_chars").cast("double"))
            - (n + F.lit(1.0)) / n)
    # expression-level zero guard (ANSI divide errors even for
    # doubles, and Catalyst may evaluate the division before a row
    # filter): an all-empty source reports NULL, mirrored in the
    # oracle's CASE so degenerate data stays cross-engine-identical
    gini = F.when(F.col("total_chars") > 0, gini)
    return agg.select(
        "source", F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("total_chars").cast("bigint").alias("total_chars"),
        gini.alias("gini"))


def docs_lang_source_independence(spark, sf_dir):
    """χ² test of INDEPENDENCE over the lang × source contingency
    table (Pearson 1900) — the third member of the χ² family next to
    the two-sample homogeneity drift monitor and the Benford law
    conformance test: is language composition independent of source?
    Per cell → (lang, source, n_obs, expected, chi2_term); summing
    chi2_term gives the statistic at (|langs|−1)(|sources|−1) dof.

    Determinism: observed counts are exact BIGINTs; expected =
    row_total·col_total/n and the χ² term are one fixed IEEE tree
    over those ints ⇒ bit-exact. Scale: ONE corpus exchange (the
    cell groupBy with map-side partials); row/column/grand totals are
    window sums over the |langs|·|sources|-row cell table — nothing
    corpus-sized past the first aggregate. Machinery shared with the
    streaming twin (operators/lm_quality.py::contingency_counts —
    additive cells — + independence_from_counts; the Benford
    factoring)."""
    from ..operators.lm_quality import (contingency_counts,
                                        independence_from_counts)
    d = _t(spark, sf_dir, "documents")
    return (independence_from_counts(
        contingency_counts(d, "lang", "source"))
        .select(F.col("row_key").alias("lang"),
                F.col("col_key").alias("source"),
                "n_obs", "expected", "chi2_term"))


def docs_weighted_sample(spark, sf_dir):
    """Exact weight-proportional systematic corpus sample — pick 100
    documents with probability proportional to length (the training-
    mix sampling step executed exactly): weights laid end-to-end
    along a deterministic md5-shuffled axis, one doc per crossing of
    a total/k grid point (operators/training.py::
    weighted_systematic_sample — the deterministic counterpart of
    A-ES reservoir sampling, whose u^(1/w) keys can never be
    bit-exact cross-engine). → (doc_id, w, cum_w, n_picks), ≤100
    rows, n_picks > 1 marks whales heavier than a grid step.

    Determinism: the md5 order is a cross-engine total order (the
    train/test-split coin device) and every step is BIGINT integer
    arithmetic ⇒ bit-exact oracle. Scale (r15): the cumulative sum
    runs CHUNKED — 256 hash-prefix chunks tile the md5 order, the
    per-chunk windows sort in parallel, and a ≤256-row carry ledger
    broadcasts back (bit-identical to the global window by
    associativity; no single-task corpus window remains). Width
    budget total·k < 2^63."""
    from ..operators.training import weighted_systematic_sample
    d = _t(spark, sf_dir, "documents")
    return weighted_systematic_sample(d, "n_chars", 100, "doc_id")


def docs_source_lang_diversity(spark, sf_dir):
    """Gini–Simpson language diversity per source (Simpson 1949):
    λ = 1 − Σnᵢ²/n² over a source's per-language counts, plus the
    effective language number n²/Σnᵢ² — the corpus-composition
    readout a curator runs next to the mix weights (is a source
    monolingual or balanced?). The LOG-FREE diversity index: Shannon
    entropy's ln() diverges in the last ulp across libm builds;
    Simpson's is exact rational arithmetic → (source, n_rows,
    n_langs, simpson_lambda, effective_langs).

    Determinism: counts are exact BIGINTs; n² and Σnᵢ² go through
    DECIMAL(38,0) products and the string hop; two IEEE divisions
    finish ⇒ bit-exact. Scale: ONE corpus exchange (the shared
    contingency cell aggregate with map-side partials) — the SAME
    additive cell table the χ² independence test and the streaming
    twin (streaming_contingency_counts) maintain; the diversity
    readout is |cells|-row arithmetic
    (operators/lm_quality.py::diversity_from_counts)."""
    from ..operators.lm_quality import (contingency_counts,
                                        diversity_from_counts)
    d = _t(spark, sf_dir, "documents")
    return (diversity_from_counts(
        contingency_counts(d, "lang", "source"))
        .select(F.col("g").alias("source"), "n_rows",
                F.col("n_categories").alias("n_langs"),
                "simpson_lambda",
                F.col("effective_categories").alias("effective_langs")))


def docs_stratified_kfold(spark, sf_dir):
    """Stratified 5-fold cross-validation assignment over the corpus
    (operators/training.py::kfold_summary): deterministic md5-bucket
    folds per source stratum with per-fold doc/token counts and
    stratum shares — the CV counterpart of the train/val/test split
    (train_test_split_hash family; the same engine-reproducible coin
    means folds are stable across reruns and engines). → (stratum,
    fold, n_docs, n_tokens, fold_share), |sources|·5 rows.

    Determinism: the md5 coin and the counts are exact; one integer
    division in double ⇒ bit-exact oracle. Scale: ONE aggregate with
    map-side partials + a |strata|-row broadcast; additive counts ⇒
    streaming complete-mode twin is the benford_from_counts
    factoring."""
    from ..operators.training import kfold_summary
    d = _t(spark, sf_dir, "documents")
    return kfold_summary(d, "source", "doc_id", "text", k=5)
