#!/usr/bin/env python
"""Benchmark harness — runs the headline query set at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. The FINAL stdout line is the driver
contract, kept under the driver's 2000-char tail window so it parses:

    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

The penultimate line (and bench_detail.json beside this script)
carries the full per-query detail: steady min + median + stdev and
cold timings for every query, nothing truncated.

Headline set = the scale-representative registry queries. The O(n²)
exact-pair queries are deliberately absent — their scalable twins
(minhash, hyperplane ANN) stand in, which is the whole point.
(neardup_pagerank also sits out for the same reason: its declared
pair graph is the exact O(n²) jaccard join.)

knn_ann_pq trains its codebook once per process (the cold run pays
it) and benches encode + ADC scan + exact rerank.
embedding_{covariance,correlation}_matrix and embedding_pca_spectrum
share one memoized covariance pass per steady pass
(plans/queries_vectors.py::_cov_once); embedding_covariance_arrow
recomputes it every sample.

Results materialize through the noop sink (full execution, no driver
collect).

Comparisons across runs are load-invariant: a fixed pure-CPU
calibration query is interleaved through every steady pass, each
query sample divides by the MEDIAN calibration of its own pass, the
reported ratio is the median across passes, and a >30% calibrated
flag must be corroborated by the raw time moving the same direction
(>10%). Host variance is large (code-identical queries have measured
+60%..+270% across sessions), so judge regressions by within-run
ratios and the plan-shape tests (tests/test_plans.py), not by
cross-run seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from market_data_ingestor_go_spark.operators.cache import release_pinned  # noqa: E402
from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES  # noqa: E402
from market_data_ingestor_go_spark.session import get_spark  # noqa: E402

# Names resolve through ALL_QUERIES, not the declared window.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_nation_revenue",
    "a1_latest_per_key",
    "events_tumbling_window",
    "events_sessionization",
    "events_ohlc_bars",
    "pack_sequences_chunked",
    "dedup_fingerprint",
    "minhash_neardup",
    "simhash_neardup",
    "embedding_lsh_neardup",
    "knn_bruteforce",
    "knn_ann_hyperplane",
    # round-5 additions: the round-3 operators previously outside any
    # perf tracking (graph clustering, cross-corpus MinHash, PQ ANN)
    "dedup_cluster_keepers",
    "contamination_check",
    "knn_ann_pq",
    # hypertable gapfill+LOCF (r5): one raw-stream aggregate, then
    # bucket-grain grid/join/window — scan-dominated by design
    "events_gapfill_locf",
    # sketch family + VARIANT (late r5): HLL cube rollup, theta set
    # algebra over per-source sketches, schema-on-read variant path
    "distinct_rollup_hll",
    "source_overlap_theta",
    "events_variant_extract",
    # membership sketch + sub-document dedup (late r5): Bloom
    # scan-stage prefilter semi join, passage-window scrub
    "bloom_semi_join_agg",
    "passage_dedup_scrub",
    # z-normalized subsequence search (late r5): frame-bounded
    # collect_list windows + array-expression distances; chunked
    # window path since r6
    "events_motif_search",
    # round-6 additions: the late-r5 operator build
    "events_twap",
    "events_ewma_smooth",
    "events_zscore_outliers",
    "events_pair_correlation",
    "events_trend_slope",
    "events_gapfill_interpolate",
    "fuzzy_name_block_join",
    "semantic_dedup_clusters",
    "curation_pipeline_summary",
    "stratified_resample_stats",
    "source_cap_sample",
    "corpus_upsample_stats",
    "shard_manifest",
    "doc_length_buckets",
    "q15_top_supplier",
    "source_overlap_exact",
    "token_heavy_hitters_sketch",
    # r6: the segmented-EWMA path on 2000-row keys (20x past the
    # closed form's decimal bound — only computable chunked)
    "events_ewma_chunked",
    # r6: inverted-index sparse-cosine similarity join (df-capped
    # postings; the third text-similarity family) + asymmetric
    # containment (quote/subset detection)
    "doc_sparse_cosine_neardup",
    "doc_containment_pairs",
    # late r6: LM-quality curation family (bigram-LM scoring, DSIR
    # importance weights, pairwise source TV drift)
    "doc_lm_quality",
    "lm_quality_bands",
    "dsir_importance_weights",
    "source_tv_drift",
    # late r6: JL random-projection compression QA (distortion over
    # the vec_id<100 pair set, bit-exact)
    "jl_projection_distortion",
    # late r6: VARIANT-weighted VWAP + exact running-peak drawdown
    "events_vwap",
    "events_drawdown",
    # late r6: per-source data card (signals composition) + growth
    # accounting (first-seen attribution, day-grain running totals)
    "corpus_datacard",
    "events_user_growth",
    # late r6: SemDeDup — k-means-bounded semantic dedup (serve path
    # against the cached centroid artifact, like knn_ann_pq)
    "semdedup_keepers",
    # r9: TPC-H shape completion (q9/q11/
    # q16/q20), maximal duplicated spans, rank-based MAD outliers,
    # and the retrieval/KS family (BM25 postings-prefilter top-k,
    # Jaccard+cosine RRF hybrid fusion, exact KS drift)
    "q9_product_profit",
    "q11_important_stock",
    "q16_supplier_part_counts",
    "q20_part_promotion",
    "dup_span_extents",
    "events_mad_outliers",
    "doc_bm25_topk",
    "hybrid_rrf_retrieval",
    "source_ks_drift",
    # r9: the materialized-index serve split (pure serve cost in the
    # doc_bm25_topk class; first-call index build lands in the cold
    # run, steady runs measure serve)
    "doc_bm25_from_index",
    # r9: the ANN-armed hybrid (IVF dense arm) next to its exact twin
    "hybrid_rrf_ann",
    # r9: PMI collocation extraction (two corpus exchanges + a
    # vocabulary-sized global top-k)
    "doc_pmi_collocations",
    # r10: doc-level 3-gram novelty vs the held-out reference split
    # (one corpus exchange + broadcast membership probe) and the
    # alpha=1/2 temperature mixing weights (one corpus aggregate)
    "doc_ngram_novelty",
    "source_mix_weights",
    # r10: Heaps'-law vocab growth (one token pass serves all 10
    # nested-subsample steps)
    "corpus_vocab_growth",
    # r10: between-crawls snapshot diff (one full-outer doc_id join)
    "corpus_snapshot_diff",
    # r10: embedding-space drift (one dim-exploded aggregate +
    # |groups|-sized centroid pair join)
    "source_embedding_drift",
    # r10: per-doc change magnitude for the snapshot 'changed' class
    "snapshot_change_magnitude",
    # r10: span-level eval-leak localization (broadcast reference
    # windows, per-doc island merge)
    "eval_leak_spans",
    # r11: the scrub transform acting on that localization (same span
    # machinery + one leaked-doc-sized broadcast join back onto the
    # train corpus; per-row array reconstruction, no extra exchange)
    "eval_leak_scrub",
    # r11: incremental-crawl upsert (one full-outer doc_id join; the
    # corpus rewrite that acts on the snapshot diff)
    "crawl_delta_apply",
    # r11: winnowed-fingerprint near-dup (the MOSS selection — same
    # inverted-index join as rolling_fingerprint_neardup over a
    # ~2/(w+1) posting subset with a detection guarantee)
    "winnow_fingerprint_neardup",
    # r11: within-corpus exact-substring self-dedup (keep-first rule;
    # one window-key exchange + the scrub reconstruction join)
    "dup_span_scrub",
    # r11: chi-square drift — third monitor in the KS/TV family
    "source_chi2_drift",
    # r11: Gopher within-doc repetition quality signals
    "doc_repetition_signals",
    # r11: cohort retention + Markov transitions (event analytics)
    "events_cohort_retention",
    "events_markov_transitions",
    # r11: CUSUM change-point — WHEN the level shifted
    "events_cusum_changepoint",
    # r11: Gopher heuristic quality filters (map-only)
    "doc_quality_signals",
    # r11: embedding covariance (in-row pair products, d^2/2 agg)
    "embedding_covariance_matrix",
    # r11: PCA spectrum readout over the covariance artifact
    "embedding_pca_spectrum",
    # r11: Arrow/BLAS covariance twin (the measured fast path)
    "embedding_covariance_arrow",
    # r11: Pearson correlation readout from the covariance
    "embedding_correlation_matrix",
    # r12: perceptual image near-dup (dHash + pigeonhole Hamming join)
    "image_dhash_neardup",
    # r12: CC keepers over the perceptual pair graph
    "image_dedup_keepers",
    # r12: bucket-grain CUSUM (the streamable drift-localization form)
    "events_cusum_bucketed",
    # r12: perceptual audio near-dup (spectral fingerprint + Hamming)
    "audio_afp_neardup",
    # r12: RFM user segmentation (quintile scores over exact ranks)
    "events_rfm_segments",
    # r12: video perceptual near-dup (frame dHash posting join)
    "video_frame_neardup",
    # r12: triangle counting + clustering over the near-dup graph
    "neardup_triangle_stats",
    # r12: interval x interval overlap join (bucketized grid cells)
    "interval_overlap_shipments",
    # r12: per-source quality-floor curation (exact rank threshold)
    "source_quality_floor",
    # r12: per-column data-quality profile (single-pass multi-distinct)
    "orders_dq_profile",
    # r13: HLL sketch twin of the DQ profile (one plain aggregate
    # scan, bounded per-column state — the corpus-scale form)
    "orders_dq_profile_approx",
    # r13: Benford first-digit conformance (one scan, 9-group agg)
    "orders_benford_test",
    # r13: session path mining (two keyed windows sharing one sort,
    # path-grain count, global top-20 TakeOrdered)
    "events_session_funnel_paths",
    # r13: per-source Gini concentration (one keyed window + agg)
    "source_gini_concentration",
    # r13: user-grain co-occurrence lift (one distinct shuffle +
    # per-user bounded pair self-join)
    "events_type_cooccurrence_lift",
    # r13: chi-square independence over the lang x source table (one
    # corpus exchange, window sums over the tiny cell table)
    "docs_lang_source_independence",
    # r13: GK-percentile quality-floor twin (two plain aggregates +
    # broadcast - no keyed sort window; the monster-group form)
    "source_quality_floor_approx",
    # r13: per-group embedding outliers (centroid broadcast + map-only
    # fold distance + WindowGroupLimit top-k)
    "embedding_outlier_docs",
    # r13: rolling 7-day distinct actives (grid-explode sliding
    # COUNT DISTINCT - three keyed exchanges, never per-day rescans)
    "events_rolling_active_users",
    # r13: one-way ANOVA over part brands (one scan, map-side group
    # moments, |groups|-row finisher)
    "part_brand_price_anova",
    # r14: Gini-Simpson language diversity per source (one corpus
    # exchange - the shared contingency cell aggregate)
    "docs_source_lang_diversity",
    # r14: referential-integrity audit (five key-only anti joins)
    "fk_orphan_audit",
    # r14: Pareto revenue concentration (custkey agg + segment rank)
    "customer_revenue_pareto",
    # r14: conversion latency quantiles (two user-keyed aggs + rank)
    "events_conversion_latency",
    # r14: Mann-Whitney U on the value-grain histogram (one shuffle)
    "events_mannwhitney_value_test",
    # r14: growth accounting (one user-days window + day-grain aggs)
    "events_user_growth_accounting",
    # r14: skewness/kurtosis per status (one scan, cents moments)
    "orders_price_skew_kurtosis",
    # r14: GK scale twins of the two rank-window queries (no sort
    # window - mergeable sketch aggregates; the 100 TB forms)
    "events_conversion_latency_approx",
    "customer_revenue_pareto_approx",
    # r14: exact weighted systematic corpus sample (one hash-order
    # cumulative window)
    "docs_weighted_sample",
    # r14: fulfillment lag per priority (orderkey agg + key join +
    # per-priority rank window)
    "orders_fulfillment_lag",
    # r14: Wilson lower-bound return-rate ranking (one brand agg)
    "part_brand_return_rates",
    # r15: HHI supplier concentration (suppkey agg + share squares)
    "nation_supplier_hhi",
    # r15: tie-aware exact Spearman (three histograms + rank maps)
    "lineitem_qty_price_spearman",
    # r15: lag-1 daily-revenue autocorrelation (day agg + tiny join)
    "orders_daily_autocorr",
    # r15: Sorted-Neighborhood blocking (chunked ranks + 5 rank joins
    # + Levenshtein verify)
    "customer_sorted_neighborhood_pairs",
    # r15: open-order backlog sweep line (boundary deltas + calendar-
    # sized running sum)
    "orders_open_backlog_days",
    # r15: hour-of-day seasonality chi-square (one (type,hour) agg)
    "events_hourly_seasonality",
    # r15: Kruskal-Wallis k-group rank test (one value histogram)
    "events_kruskal_value_test",
    # r15: Theil-Sen robust trend (calendar^2 pair median)
    "orders_theilsen_trend",
    # r15: Wald-Wolfowitz runs test (calendar-sized windows)
    "orders_revenue_runs_test",
    # r15: GK fulfillment-lag twin (mergeable aggregate, no window)
    "orders_fulfillment_lag_approx",
    # r15: stratified k-fold summary (one aggregate + tiny broadcast)
    "docs_stratified_kfold",
    # r15: reorder-rate per segment (customer lag + segment median)
    "customer_reorder_rate",
    # r15: two-proportion z-test (one user-grain distinct aggregate)
    "events_purchase_rate_ztest",
    # r15: paired YoY sign test (one custkey aggregate)
    "customer_yoy_sign_test",
    # r15: Markov removal-effect attribution (one user window pass +
    # driver-side solve over the bounded count artifact)
    "events_markov_attribution",
]


# STABLE TIER (r14, verdict #4): queries measured in ALL of
# BENCH_r10..r13 whose raw medians never spread past 1.6x across
# those four rounds and that carry no open flag — minus the
# r13-rerun-flagged names (knn_ann_pq, doc_length_buckets: exonerated
# in SCALING.md r14, kept observable anyway). Mid-round iteration can
# skip these with SPARK_GRAFT_BENCH_TIER=active (~40 fewer queries
# per sweep); the DEFAULT (the driver's invocation, no env) remains
# the FULL set, so the closing artifact and both flag passes always
# measure everything.
STABLE_TIER: frozenset = frozenset({
    "bloom_semi_join_agg", "contamination_check", "corpus_datacard",
    "dedup_cluster_keepers", "distinct_rollup_hll",
    "doc_bm25_from_index", "doc_bm25_topk", "doc_containment_pairs",
    "doc_lm_quality", "doc_ngram_novelty", "doc_pmi_collocations",
    "doc_sparse_cosine_neardup", "dsir_importance_weights",
    "dup_span_extents", "embedding_lsh_neardup", "eval_leak_spans",
    "events_ewma_chunked", "events_mad_outliers",
    "events_motif_search", "events_twap", "events_variant_extract",
    "fuzzy_name_block_join", "hybrid_rrf_ann", "hybrid_rrf_retrieval",
    "jl_projection_distortion", "knn_ann_hyperplane",
    "lm_quality_bands", "minhash_neardup",
    "passage_dedup_scrub", "q16_supplier_part_counts",
    "q1_pricing_summary", "q20_part_promotion", "q9_product_profit",
    "semantic_dedup_clusters", "semdedup_keepers", "simhash_neardup",
    "source_ks_drift", "source_overlap_exact", "source_overlap_theta",
})


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# Fixed CALIBRATION query (r11, burst-robust pairing r12): pure CPU
# work — no table I/O, no shuffle reuse, 8 fixed partitions,
# string-routed xxhash64 per row, pmod-bounded so the ungrouped sum
# stays inside a long under ANSI — interleaved through every steady
# pass to measure the host's CURRENT speed. r12 (verdict #3): the r11
# nearest-in-time pairing was defeated by bursty co-tenant load
# (calibration samples 0.27-4.5 s WITHIN one run → 23 false flags on
# code-identical queries whose raw times had all improved). Now each
# query sample divides by the MEDIAN calibration of its OWN pass
# (bursts that hit one cal sample don't poison ten queries), the
# reported ratio is the MEDIAN across the three passes (not min — a
# single lucky pocket can't dominate), and a flag fires only when the
# calibrated ratio AND the raw time move the same direction. The
# calibration's own samples are still reported: their cross-round
# ratio IS the host-speed delta, attributing any uniform drift.
CAL_EVERY = 10  # queries between calibration samples within a pass
CAL_METHOD = "median_of_own_pass_v2"  # flags only compare like-for-like


def calibration(spark):
    from pyspark.sql import functions as F
    return (spark.range(0, 24_000_000, 1, 8)
            .select(F.pmod(F.xxhash64(F.col("id").cast("string")),
                           F.lit(1_000_003)).alias("h"))
            .agg(F.sum("h").alias("s")))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # tier selection (r14): "full" (default — the driver's closing
    # invocation) measures every headline query; "active" is the
    # mid-round iteration mode that skips the long-stable tier.
    tier = os.environ.get("SPARK_GRAFT_BENCH_TIER", "full")
    global HEADLINE
    if tier == "active":
        HEADLINE = [q for q in HEADLINE if q not in STABLE_TIER]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Four runs per query: one cold pass (pays one-time whole-stage-
    # codegen compilation — seconds for the 128-column LSH aggregates —
    # and page-cache warming; amortized to zero on any long-lived
    # cluster), then THREE steady passes INTERLEAVED ROUND-ROBIN
    # across the whole query set (r10, supersedes the r2-r9
    # back-to-back design): three consecutive rounds of verdicts spent
    # attribution work on 12-37% cross-round swings in the CPU-bound
    # dedup family that code-identical A/Bs kept proving were host
    # noise — back-to-back samples of one query all land in the same
    # ~10 s load pocket, so a transient spike poisons all three. With
    # round-robin passes, each query's 3 samples are spread across the
    # full ~x-minute window and the per-query min sees the same load
    # profile every other query saw. min + median + stdev still
    # separate plan regressions from timing noise; release_pinned()
    # between runs drops operator-internal persists (no cross-run data
    # reuse, only warm JIT/page cache). os.getloadavg() is recorded
    # per run and >30% per-query deltas vs the previous round's
    # artifact are auto-flagged WITH that load context (below), so
    # cross-round drift triage starts from data, not forensics.
    import statistics

    STEADY_RUNS = 3
    cold: dict[str, float] = {}
    cold_load: dict[str, float] = {}
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    ratios: dict[str, list[float]] = {name: [] for name in HEADLINE}
    run_loads: dict[str, list[float]] = {name: [] for name in HEADLINE}
    cal_samples: list[float] = []

    def timed(name: str) -> float:
        t0 = time.perf_counter()
        materialize(ALL_QUERIES[name](spark, sf_dir))
        dt = time.perf_counter() - t0
        release_pinned()
        return dt

    def timed_cal() -> float:
        t0 = time.perf_counter()
        materialize(calibration(spark))
        dt = time.perf_counter() - t0
        cal_samples.append(round(dt, 3))
        return dt

    # r16 (scaling contract, verdict #2): the driver's 8-core probe
    # could not tell "cpus honored but saturated at this SF" from
    # "cpus ignored" — emit the session's actual core count and, per
    # query, how many tasks it ran (counted once on the cold pass via
    # the status tracker; task counts are plan properties, identical
    # across passes). With these in the artifact, core honoring is
    # self-evident: parallelism tracks $SPARK_GRAFT_CPUS and the task
    # counts bound each query's achievable speedup at this SF.
    tracker = spark.sparkContext.statusTracker()

    def tasks_for_group(gid: str) -> int:
        n = 0
        for jid in tracker.getJobIdsForGroup(gid):
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None:
                    n += si.numCompletedTasks + si.numFailedTasks
        return n

    queries_tasks: dict[str, int] = {}

    timed_cal()  # warm the calibration's codegen with the cold pass
    for name in HEADLINE:  # cold pass
        cold_load[name] = round(os.getloadavg()[0], 2)
        spark.sparkContext.setJobGroup(f"cold:{name}", name)
        cold[name] = round(timed(name), 3)
        queries_tasks[name] = tasks_for_group(f"cold:{name}")
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    cal_pass_medians: list[float] = []
    for _ in range(STEADY_RUNS):  # interleaved steady passes
        # the one-pass covariance family memoizes its shared matrix
        # per (application, sf_dir) — clear it at PASS granularity so
        # each steady pass honestly pays the one corpus pass (charged
        # to the first family member it times) while the other two
        # readouts show the shared-pass win; letting the memo live
        # across passes would violate the no-cross-run-data-reuse
        # contract stated below
        from market_data_ingestor_go_spark.plans import queries as _q
        _q._COV_MEMO.clear()
        n_before = len(cal_samples)
        pass_dts: dict[str, float] = {}
        for i, name in enumerate(HEADLINE):
            if i % CAL_EVERY == 0:  # sample the host-speed measure
                timed_cal()
            run_loads[name].append(round(os.getloadavg()[0], 2))
            dt = timed(name)
            samples[name].append(dt)
            pass_dts[name] = dt
        # burst-robust pairing (r12): divide every sample in this pass
        # by the pass's MEDIAN calibration — one burst-hit cal sample
        # can no longer poison the ten queries nearest to it
        cal_p = statistics.median(cal_samples[n_before:])
        cal_pass_medians.append(round(cal_p, 3))
        for name, dt in pass_dts.items():
            ratios[name].append(dt / cal_p)

    steady = {n: round(min(s), 3) for n, s in samples.items()}
    steady_median = {n: round(statistics.median(s), 3)
                     for n, s in samples.items()}
    steady_stdev = {n: round(statistics.stdev(s), 3)
                    for n, s in samples.items()}
    # load-invariant per-query number: MEDIAN over passes of
    # (query_sec / own-pass median calibration_sec) — median, not min,
    # so one lucky load pocket can't set the round's number
    calibrated = {n: round(statistics.median(r), 3)
                  for n, r in ratios.items()}

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # auto-flag >30% per-query drift vs the previous round's artifact,
    # carrying the load context of THIS round's runs (sub-0.1 s
    # queries skipped — absolute noise dominates them). Compared on
    # CALIBRATED ratios when the previous round's committed
    # bench_detail.json carries them (load-invariant — host noise
    # divides out); raw steady seconds otherwise (pre-r11 artifacts).
    flags: list[dict] = []
    prev_round, prev_queries, basis = None, {}, "steady_sec"
    prev_raw: dict[str, float] = {}
    now_by_name = steady
    import glob
    here = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(here, "bench_detail.json")
    try:  # last round's committed detail (read BEFORE overwriting)
        prev_detail = json.load(open(detail_path))
        # like-for-like only: a calibrated comparison needs the SAME
        # pairing method on both sides (r12 changed min-of-nearest →
        # median-of-own-pass); method mismatch falls back to raw
        if (prev_detail.get("sf") == sf_val
                and prev_detail.get("queries_calibrated")
                and prev_detail.get("calibration_sec", {})
                .get("method") == CAL_METHOD):
            prev_queries = prev_detail["queries_calibrated"]
            prev_raw = prev_detail.get("queries", {})
            basis = "calibrated_ratio"
            now_by_name = calibrated
        elif prev_detail.get("sf") == sf_val:
            prev_queries = prev_detail.get("queries", {})
    except Exception:
        pass
    arts = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
    prev_artifact_queries: dict[str, float] = {}
    if arts:
        try:
            prev = json.load(open(arts[-1]))
            prev_round = prev.get("n")
            parsed = prev.get("parsed") or {}
            if (parsed.get("sf") == sf_val
                    or prev.get("sf") == sf_val):
                prev_artifact_queries = parsed.get("queries", {})
            # raw fallback, only comparable at the same scale factor
            if basis == "steady_sec" and not prev_queries:
                prev_queries = dict(prev_artifact_queries)
        except Exception:
            pass
    for name, now in now_by_name.items():
        old = prev_queries.get(name)
        if old is None or old < 0.1 or steady.get(name, 0) < 0.1:
            continue
        delta = (now - old) / old
        if abs(delta) <= 0.30:
            continue
        if basis == "calibrated_ratio":
            # burst-robustness (r12): a calibrated flag must be
            # CORROBORATED by the raw time moving the same direction —
            # a ratio that moved only because the calibration did is
            # instrument noise, not a regression
            raw_old = prev_raw.get(name)
            if raw_old and raw_old >= 0.1:
                raw_delta = (steady[name] - raw_old) / raw_old
                if raw_delta * delta <= 0 or abs(raw_delta) < 0.10:
                    continue
        flags.append({
            "query": name, "prev": old, "now": now,
            "basis": basis,
            "delta_pct": round(100 * delta, 1),
            "prev_round": prev_round,
            "samples": [round(s, 3) for s in samples[name]],
            "calibrated_per_run": [round(r, 3)
                                   for r in ratios[name]],
            "loadavg_per_run": run_loads[name],
        })
    flags.sort(key=lambda f: -abs(f["delta_pct"]))

    # r13 (closes the r12 verdict's ratchet blind spot): a SECOND flag
    # pass against the previous round's COMMITTED driver artifact
    # (BENCH_r{N-1}.json's parsed raw queries). The intra-round pass
    # above compares against the last committed bench_detail.json,
    # which is rewritten several times within a round — a query that
    # drifts +20% per bench commit never trips the 30% gate against
    # the PREVIOUS ROUND's closing number (that is exactly how
    # events_twap's +41% r11→r12 move on untouched code sailed through
    # with flags_vs_prev_round=[]). This pass is raw-basis (the driver
    # artifact carries no calibrated ratios), so it inherits the
    # documented host variance — read its entries WITH the attached
    # load context as triage pointers, not verdicts; the calibrated
    # intra-round list stays the load-invariant instrument.
    artifact_flags: list[dict] = []
    for name, now in steady.items():
        old = prev_artifact_queries.get(name)
        if old is None or old < 0.1 or now < 0.1:
            continue
        delta = (now - old) / old
        if abs(delta) <= 0.30:
            continue
        artifact_flags.append({
            "query": name, "prev": old, "now": now,
            "basis": "steady_sec_vs_round_artifact",
            "delta_pct": round(100 * delta, 1),
            "prev_round": prev_round,
            "samples": [round(s, 3) for s in samples[name]],
            "calibrated_per_run": [round(r, 3) for r in ratios[name]],
            "loadavg_per_run": run_loads[name],
        })
    artifact_flags.sort(key=lambda f: -abs(f["delta_pct"]))

    total = round(sum(steady.values()), 3)
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": steady,
        "queries_median": steady_median,
        "queries_stdev": steady_stdev,
        "queries_calibrated": calibrated,
        "calibrated_total": round(sum(calibrated.values()), 3),
        "calibration_sec": {
            "samples": cal_samples,
            "min": round(min(cal_samples), 3),
            "median": round(statistics.median(cal_samples), 3),
            "pass_medians": cal_pass_medians,
            "method": CAL_METHOD,
            "what": "fixed pure-CPU query (range->xxhash->sum, 8 "
                    "partitions, no I/O) interleaved every "
                    f"{CAL_EVERY} queries; queries_calibrated = "
                    "MEDIAN over passes of query_sec / own-pass "
                    "MEDIAN cal_sec (burst-robust, r12) — "
                    "cross-round comparisons should use these "
                    "(load-invariant); flags additionally require "
                    "the raw time to move the same direction; the "
                    "calibration's own cross-round ratio is the "
                    "host-speed delta",
        },
        "median_total_sec": round(sum(steady_median.values()), 3),
        "cold_total_sec": round(sum(cold.values()), 3),
        "runs_per_query": 1 + STEADY_RUNS,
        "aggregation": "min of 3 ROUND-ROBIN-interleaved steady passes "
                       "after 1 cold pass (median/stdev reported; cache "
                       "cleared between runs; 1-min loadavg per run)",
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "parallelism": spark.sparkContext.defaultParallelism,
        "queries_tasks": queries_tasks,
        "tasks_total": sum(queries_tasks.values()),
        "loadavg_cold": cold_load,
        "loadavg_steady": run_loads,
        "flags_vs_prev_round": flags,
        "flags_vs_prev_round_artifact": artifact_flags,
        "tier": tier,
        "sf": sf_val,
    }
    # Full detail: penultimate stdout line + sidecar file next to this
    # script. The driver's BENCH artifact keeps only the LAST 2000
    # chars of output and parses the final line as JSON — the full
    # per-query detail outgrew that in round 3 (observed: BENCH_r03+
    # "parsed": null), so the FINAL line below is a compact summary
    # hard-capped under the tail window, with the slowest queries kept
    # and the sub-millisecond ones dropped first if space runs out.
    # A tiered (partial) run must NOT overwrite bench_detail.json —
    # it is the committed intra-round flag baseline; active-mode
    # detail goes to a sidecar instead (r14).
    detail_name = ("bench_detail.json" if tier == "full"
                   else f"bench_detail_{tier}.json")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           detail_name), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail))

    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": dict(sorted(steady.items(), key=lambda kv: -kv[1])),
        "median_total_sec": detail["median_total_sec"],
        "calibrated_total": detail["calibrated_total"],
        "cal_sec_median": detail["calibration_sec"]["median"],
        "n_queries": len(steady),
        "queries_omitted": 0,
        # r16 (verdict #5): the fastest queries popped below never
        # DISAPPEAR from the contract any more — their seconds land in
        # fast_total, so value == sum(queries.values()) + fast_total
        # holds on every line and cross-round diffs stop reporting
        # phantom drops/adds of sub-cutoff queries.
        "fast_total": 0.0,
        # r16 (verdict #2): the scaling contract, readable from the
        # final line alone — the session's core count, the resulting
        # defaultParallelism, and the total tasks the headline set ran
        # (per-query task counts: queries_tasks in bench_detail.json).
        "cpus": detail["cpus"],
        "parallelism": detail["parallelism"],
        "tasks_total": detail["tasks_total"],
        "n_flags_vs_prev": len(flags),
        "n_flags_vs_prev_artifact": len(artifact_flags),
        "tier": tier,
        "sf": sf_val,
    }
    MAX_LINE = 1900  # driver tail window is 2000 chars
    line = json.dumps(compact, separators=(",", ":"))
    while len(line) > MAX_LINE and compact["queries"]:
        compact["queries"].popitem()  # fastest-last ordering above
        compact["queries_omitted"] = len(steady) - len(compact["queries"])
        compact["fast_total"] = round(
            total - sum(compact["queries"].values()), 3)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
