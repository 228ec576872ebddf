"""Physical-plan regression tests: the scale properties SCALING.md
claims must be visible in the plan, so they can't silently regress.

Each assertion pins the property that matters at 100 TB — shuffle
count, map-side rank pruning, column pruning, broadcast placement —
not the full plan text (which AQE is free to rearrange).
"""

from __future__ import annotations

import re

from market_data_ingestor_go_spark.plans.queries import ALL_QUERIES

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _count(plan: str, token: str) -> int:
    # exclude broadcast exchanges when counting shuffle exchanges
    if token == "Exchange":
        return len(re.findall(r"(?<!Broadcast)Exchange", plan))
    return plan.count(token)


def _scan_columns(plan: str, table: str) -> set[str]:
    """Columns actually read by the FileScan of ``table`` (ReadSchema
    is truncated in toString; the bracket list is not)."""
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\][^\n]*?([A-Za-z0-9_./-]+\.parquet)", plan):
        if table in m.group(2):
            return {c.split("#")[0] for c in m.group(1).split(",") if c}
    raise AssertionError(f"no FileScan of {table} in:\n{plan}")


def test_ohlc_is_one_shuffle_aggregate(spark):
    """events_ohlc_bars: open/close via min_by/max_by → ONE exchange,
    no Window/Sort over the raw events, and a pruned 4-column scan."""
    plan = _plan(ALL_QUERIES["events_ohlc_bars"](spark, SF))
    assert _count(plan, "Exchange") == 1, plan
    assert "Window" not in plan, plan
    assert "min_by" in plan and "max_by" in plan
    assert _scan_columns(plan, "events") == {
        "event_id", "ts", "event_type", "value"}


def test_ann_has_mapside_rank_pruning(spark):
    """knn_ann_hyperplane: WindowGroupLimit must appear BELOW each
    exchange (map-side top-k before the shuffle)."""
    plan = _plan(ALL_QUERIES["knn_ann_hyperplane"](spark, SF))
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_pack_chunks_single_shuffle(spark):
    """pack_sequences_chunked: one exchange (the stream partition) and
    a 2-column scan."""
    plan = _plan(ALL_QUERIES["pack_sequences_chunked"](spark, SF))
    assert _count(plan, "Exchange") == 1, plan
    assert _scan_columns(plan, "documents") == {"doc_id", "text"}


def test_q5_dims_broadcast(spark):
    """q5: every dimension joins as a broadcast; the only shuffle
    exchanges feed the aggregate, never a dim join."""
    plan = _plan(ALL_QUERIES["q5_region_nation_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan, plan


def test_q1_scan_prunes_columns(spark):
    """q1 reads exactly the 7 columns it needs from lineitem."""
    plan = _plan(ALL_QUERIES["q1_pricing_summary"](spark, SF))
    cols = _scan_columns(plan, "lineitem")
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_tax",
                    "l_returnflag", "l_linestatus", "l_shipdate"}, cols
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan


def test_minhash_signature_partial_agg(spark):
    """MinHash signatures partial-aggregate map-side: two
    HashAggregates around one exchange, no sort-based fallback."""
    from market_data_ingestor_go_spark.operators import dedup
    from market_data_ingestor_go_spark.sources.tables import load_table
    docs = load_table(spark, SF, "documents")
    sig = dedup.minhash_signatures(dedup.shingle_df(docs, "text", "doc_id"), 16)
    plan = _plan(sig)
    assert plan.count("HashAggregate") == 2, plan
    assert "SortAggregate" not in plan, plan
    assert "partial_min" in plan, plan


def test_banded_lsh_is_equi_join(spark):
    """Banded hyperplane LSH generates candidates through an equi-join
    on (band, bucket) — no cartesian/nested-loop pair scan anywhere in
    the plan (the whole point of the banding)."""
    from market_data_ingestor_go_spark.operators.cache import release_pinned
    plan = _plan(ALL_QUERIES["embedding_lsh_neardup"](spark, SF))
    release_pinned()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_rolling_neardup_is_equi_join(spark):
    """Shared-window near-dup candidates join on the window hash —
    equi-join, no all-pairs scan."""
    plan = _plan(ALL_QUERIES["rolling_fingerprint_neardup"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_contamination_gate_broadcasts_heldout(spark):
    """streaming/contamination.py per-batch plan: both the candidate
    join and the verification join must BROADCAST the held-out side —
    a shuffle of the static eval set per micro-batch would be a
    latency regression at every trigger."""
    from pyspark.sql import Row

    from market_data_ingestor_go_spark.sources.tables import load_table
    from market_data_ingestor_go_spark.streaming.contamination import (
        ContaminationGate)

    heldout = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta "
                            "theta iota kappa lambda mu nu xi")])
    gate = ContaminationGate(heldout, flags_path="/tmp/unused_flags")
    try:
        batch = load_table(spark, SF, "documents")
        plan = _plan(gate.check_batch(batch))
        # two explicit broadcasts: banded signatures + shingle sets
        assert plan.count("BroadcastExchange") >= 2, plan
        # the held-out side must never be hash-partitioned for a
        # sort-merge join
        assert "SortMergeJoin" not in plan, plan
    finally:
        gate.stop()


def test_runtime_bloom_filter_injects_on_selective_dim_join(spark):
    """Spark's InjectRuntimeFilter plants a bloom-filter reduction on
    the fact side of a shuffle join when the other side is small and
    selectively filtered — the q3/q18-shaped join at cluster scale.
    At the 100 TB defaults (creation side < 10 MB after filtering,
    application scan > 10 GB) the rule fires automatically; the size
    thresholds are lowered here so the fixture crosses them, pinning
    that the capability exists and our plans are shaped to receive it
    (equi-join + selective dim filter, nothing blocking injection)."""
    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    )}
    try:
        # force a shuffle join (broadcast joins don't need the filter)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold", "1KB")
        lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet") \
            .filter("o_orderpriority = '1-URGENT'")
        joined = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey) \
            .groupBy("o_orderpriority").count()
        optimized = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized, optimized
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_gapfill_single_raw_aggregate(spark):
    """events_gapfill_locf: the raw stream feeds ONE map-side-combined
    max_by aggregate (partial_max_by below the exchange); both its
    consumers (grid bounds + fill join) read the pinned bucket-grain
    table (InMemoryTableScan), the raw scan prunes to 4 columns, and
    no step degenerates to a cartesian."""
    from market_data_ingestor_go_spark.operators.cache import release_pinned

    try:
        plan = _plan(ALL_QUERIES["events_gapfill_locf"](spark, SF))
        assert "partial_max_by" in plan, plan
        assert plan.count("InMemoryTableScan") >= 2, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert _scan_columns(plan, "events") == {
            "event_id", "ts", "event_type", "value"}
    finally:
        release_pinned()


def test_hll_rollup_partial_aggregates(spark):
    """distinct_rollup_hll: both levels (cell build and union) are
    hash aggregates with map-side partials — sketches combine before
    every exchange, so the shuffle carries cells, not keys — and the
    scan is pruned to the three columns involved."""
    plan = _plan(ALL_QUERIES["distinct_rollup_hll"](spark, SF))
    assert plan.count("HashAggregate") == 4, plan   # 2 levels × (partial+final)
    assert "partial_hll_sketch_agg" in plan, plan
    assert "partial_hll_union_agg" in plan, plan
    assert "SortAggregate" not in plan, plan
    cols = _scan_columns(plan, "lineitem")
    assert cols == {"l_partkey", "l_returnflag", "l_shipdate"}, cols


def test_theta_overlap_joins_sketches_not_keys(spark):
    """source_overlap_theta: the pairwise stage joins the per-source
    SKETCH table (K rows) via broadcast nested loop on the < predicate
    — legal because both sides are sketch-sized — and BOTH self-join
    branches read the pinned sketch cache, so the corpus is scanned
    and aggregated exactly once (no shingle self-join anywhere)."""
    from market_data_ingestor_go_spark.operators.cache import release_pinned
    plan = _plan(ALL_QUERIES["source_overlap_theta"](spark, SF))
    released = release_pinned()
    assert released == 2, released   # shingle table + sketch table
    assert "partial_theta_sketch_agg" in plan, plan
    # both pairwise branches read the cached sketch table (2 scans),
    # whose build itself reads the cached shingle table (1 more)
    assert plan.count("InMemoryTableScan") >= 2, plan
    # the only join above the cached sketch table is the K-row BNLJ
    above_cache = plan.split("InMemoryTableScan")[0]
    assert above_cache.count("BroadcastNestedLoopJoin") == 1, plan
    assert "SortMergeJoin" not in above_cache, plan
    assert "ShuffledHashJoin" not in above_cache, plan


def test_variant_extract_single_aggregate(spark):
    """events_variant_extract: build→parse→extract all stay in one
    projection; the countDistinct expands to the standard two-level
    aggregate and nothing else shuffles."""
    plan = _plan(ALL_QUERIES["events_variant_extract"](spark, SF))
    assert "variant_get" in plan, plan
    assert _count(plan, "Exchange") <= 2, plan  # distinct-agg expansion
    assert "SortAggregate" not in plan, plan


def test_bloom_prefilter_is_scan_stage_predicate(spark):
    """bloom_semi_join: the compiled might-contain test must be a pure
    Filter over the big side's scan — no Generate (explode) and no
    extra join for the membership probe; the whole query keeps the
    plain semi join's join count (1) so the filter costs no shuffle."""
    from pyspark.sql import functions as F
    from market_data_ingestor_go_spark.operators.sketch import (
        bloom_build, bloom_might_contain)

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    part = spark.read.parquet(f"{SF}/part.parquet")
    keys = part.filter(F.col("p_size") >= 48).select("p_partkey")
    bloom = bloom_build(keys, "p_partkey", 1 << 14, 5)
    pre = li.filter(bloom_might_contain(bloom, F.col("l_partkey"),
                                        1 << 14, 5))
    plan = _plan(pre)
    assert "Generate" not in plan, plan       # no explode on probe side
    assert "Join" not in plan, plan           # membership is not a join
    assert _count(plan, "Exchange") == 0, plan

    full = _plan(ALL_QUERIES["bloom_semi_join_agg"](spark, SF))
    assert full.count("Join") <= 2, full      # verify semi join only


def test_passage_dedup_two_shuffles(spark):
    """passage_dedup_scrub: global passage counts come from a WINDOW
    over the digest (one exchange of the passage table), not a
    groupBy+join-back (two) — plus the per-doc aggregate. Total: 2
    shuffle exchanges, no Join, and a 3-column scan."""
    plan = _plan(ALL_QUERIES["passage_dedup_scrub"](spark, SF))
    assert _count(plan, "Exchange") == 2, plan
    assert "Join" not in plan, plan
    assert _scan_columns(plan, "documents") <= {"doc_id", "text"}, plan


def test_round5_additions_scale_shapes(spark):
    """Plan pins for the late-r5 queries: each keeps the minimal
    shuffle structure its SCALING.md entry claims."""
    # shard manifest: assignment is scan-bound — one exchange (the
    # final group), zero joins
    p = _plan(ALL_QUERIES["shard_manifest"](spark, SF))
    assert _count(p, "Exchange") == 1 and "Join" not in p, p

    # EWMA: the whole closed form rides ONE exchange on the key —
    # both window layers and the projection barrier share it
    p = _plan(ALL_QUERIES["events_ewma_smooth"](spark, SF))
    assert _count(p, "Exchange") == 1 and "Join" not in p, p

    # z-score: one aggregate exchange + the final group; the join
    # back is a broadcast (stats are |event types| rows)
    p = _plan(ALL_QUERIES["events_zscore_outliers"](spark, SF))
    assert _count(p, "Exchange") == 2, p
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p, p

    # frequency cap: one exchange on the group key
    p = _plan(ALL_QUERIES["source_cap_sample"](spark, SF))
    assert _count(p, "Exchange") == 1 and "Join" not in p, p


def test_round6_chunked_and_perf_fix_shapes(spark):
    """Plan pins for the round-6 work: the chunked window machinery is
    actually in the declared motif plan; the two bench-outlier fixes
    can't silently regress."""
    # motif: the chunked path is active — the sliding window
    # partitions by (key, chunk), never a whole-key partition; no
    # cartesian/BNLJ anywhere
    p = _plan(ALL_QUERIES["events_motif_search"](spark, SF))
    assert "__cid" in p, p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    # fuzzy join: CPU-bound scoring stage must not inherit the file
    # scan's partitioning — round-robin repartition feeds the join.
    # At this sf the planner auto-broadcasts the build side (no hint:
    # customer grows with sf, so past the auto threshold it must be
    # free to fall back to a shuffled join)
    p = _plan(ALL_QUERIES["fuzzy_name_block_join"](spark, SF))
    assert "RoundRobinPartitioning" in p, p
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p, p

    # gapfill interpolate: the forward-looking pass must be a GROWING
    # frame over the DESCENDING order (a shrinking
    # currentRow..unboundedFollowing frame is O(grid^2) per key)
    p = _plan(ALL_QUERIES["events_gapfill_interpolate"](spark, SF))
    assert "DESC" in p, p
    assert "unboundedfollowing" not in p.lower().replace(" ", ""), p


def test_lm_quality_family_shapes(spark):
    """LM-quality curation family (late r6): the scale claims the
    module doc makes must be plan-visible."""
    # doc_lm_quality: bigram formation is NARROW (zip-with-tail, no
    # per-doc Window), every MODEL side broadcasts, no cartesian. The
    # only sort-merge join allowed is the doc-spine LeftOuter (corpus
    # × per-doc scores on doc_id — two corpus-sized tables, so a
    # co-partitioned join IS the honest 100 TB shape; it happened to
    # broadcast before the r9 model pin only because of a size
    # mis-estimate on the unpinned aggregate).
    p = _plan(ALL_QUERIES["doc_lm_quality"](spark, SF))
    assert "Window" not in p, p
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastHashJoin") >= 4, p  # 2×vocab + bgc + ctx
    smj = [ln for ln in p.splitlines() if "SortMergeJoin" in ln]
    assert all("LeftOuter" in ln for ln in smj) and len(smj) <= 1, p

    # dsir: one bounded bucket aggregate, ratio table broadcast back,
    # corpus never sort-merge-joins
    p = _plan(ALL_QUERIES["dsir_importance_weights"](spark, SF))
    assert "Window" not in p, p
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p

    # column pruning reaches every scan of the family (n_chars/source
    # etc. must NOT be read where unused)
    for q, table, allowed in [
            ("doc_lm_quality", "documents", {"doc_id", "text", "lang"}),
            ("dsir_importance_weights", "documents",
             {"doc_id", "text", "lang"}),
            ("source_tv_drift", "documents", {"source", "text"}),
            ("jl_projection_distortion", "embeddings",
             {"vec_id", "embedding"})]:
        plan = _plan(ALL_QUERIES[q](spark, SF))
        for m in re.finditer(
                r"FileScan parquet \[([^\]]*)\][^\n]*?"
                r"([A-Za-z0-9_./-]+\.parquet)", plan):
            if table in m.group(2):
                cols = {c.split("#")[0] for c in m.group(1).split(",") if c}
                assert cols <= allowed, (q, cols)

    # tv drift: the only nested-loop join is the |groups|² spine over
    # the TOTALS aggregate (driver-scale). Guarded structurally, not
    # by absence of CartesianProduct alone (Spark renders the
    # inequality spine as BroadcastNestedLoopJoin): walk the executed
    # plan, and for EVERY BNLJ child require its topmost aggregate to
    # be keyed by the group column only — the corpus-vocab-sized
    # counts table aggregates on (g, term), so a regression that fed
    # it to a nested-loop join fails this key check.
    df = ALL_QUERIES["source_tv_drift"](spark, SF)
    p = _plan(df)
    assert "CartesianProduct" not in p, p

    def _kids(n):
        nm = n.nodeName()
        if nm.startswith("AdaptiveSparkPlan"):
            return [n.executedPlan()]   # AQE hides the tree from children()
        if "QueryStage" in nm:
            return [n.plan()]
        return [n.children().apply(i) for i in range(n.children().size())]

    def _walk(node, out):
        if "BroadcastNestedLoopJoin" in node.nodeName():
            out.append(node)
        for c in _kids(node):
            _walk(c, out)

    root = df._jdf.queryExecution().executedPlan()
    bnljs = []
    _walk(root, bnljs)
    assert bnljs, "expected the groups-spine BNLJ in:\n" + p
    for j in bnljs:
        for i in range(j.children().size()):
            sub = j.children().apply(i).toString()
            m = re.search(r"HashAggregate\(keys=\[([^\]]*)\]", sub)
            assert m, sub
            assert "term" not in m.group(1), (
                "nested-loop input's top aggregate is corpus-sized "
                "(keyed by term): " + m.group(1))


def test_q9_widest_join_tree_broadcasts_all_dims(spark):
    """q9 (r8): five-way join — every dim side broadcast, no
    sort-merge join; the only shuffle exchanges feed the two-key
    aggregate; lineitem scan pruned to exactly the 6 needed cols."""
    df = ALL_QUERIES["q9_product_profit"](spark, SF)
    df.collect()
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert _count(plan, "Exchange") <= 2, plan
    assert _scan_columns(plan, "lineitem") == {
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount"}, plan


def test_q11_scalar_threshold_is_broadcast_single_row(spark):
    """q11 (r8): the global total joins back as a broadcast of ONE
    row (nested-loop on the non-equi predicate is fine there); the
    corpus never shuffles for the threshold; lineitem pruned to 3
    columns."""
    df = ALL_QUERIES["q11_important_stock"](spark, SF)
    df.collect()
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert _scan_columns(plan, "lineitem") == {
        "l_partkey", "l_suppkey", "l_extendedprice"}, plan


def test_q16_q20_semi_anti_stay_broadcast(spark):
    """q16/q20 (r8): the exclusion anti-join and the promotion
    semi-join run as broadcast joins (supplier-grain ≪ corpus) and
    lineitem scans stay pruned."""
    for name, cols in (
            ("q16_supplier_part_counts", {"l_partkey", "l_suppkey"}),
            ("q20_part_promotion",
             {"l_partkey", "l_suppkey", "l_quantity", "l_shipdate"})):
        df = ALL_QUERIES[name](spark, SF)
        df.collect()
        plan = _plan(df)
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        assert _scan_columns(plan, "lineitem") == cols, (name, plan)


def test_dup_span_extents_shape(spark):
    """dup_span_extents: the global window-duplication count must
    partial-aggregate map-side before its shuffle, the island merge
    must be a doc_id-partitioned window (never a global one), and the
    documents scan must read only doc_id + text."""
    plan = _plan(ALL_QUERIES["dup_span_extents"](spark, SF))
    assert "partial_count" in plan, plan
    for m in re.finditer(r"windowspecdefinition\(([^,]*)", plan):
        assert "doc_id" in m.group(1), plan   # every window keyed by doc
    assert _scan_columns(plan, "documents") <= {"doc_id", "text"}, plan


def test_events_mad_outliers_shape(spark):
    """events_mad_outliers: the 5-row median/MAD tables are pinned
    (r9 — without the pin every reference replayed the window lineage:
    6 window passes / 4 scans observed), so the FINAL plan is one
    pruned events scan + two broadcast joins + one aggregate, with
    zero Window/Sort operators (the two rank-median passes ran once
    each inside the pinned builds, partitioned by event_type)."""
    plan = _plan(ALL_QUERIES["events_mad_outliers"](spark, SF))
    assert "Window" not in plan, plan
    assert "Sort [" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert len(re.findall(
        r"FileScan parquet \[[^\]]*\][^\n]*?events\.parquet", plan)) == 1, plan
    assert _scan_columns(plan, "events") <= {"event_type", "value"}, plan


def test_bm25_postings_prefilter_before_shuffle(spark):
    """doc_bm25_topk: the inverted-index promise — only postings
    matching the broadcast query vocabulary ever shuffle. The vocab
    filter must be a BroadcastHashJoin sitting DIRECTLY over the
    explode (no shuffle exchange between them), the corpus must be
    exploded exactly once (df comes from a window over tf, not a
    join-back that re-runs the scan->explode->agg lineage), the
    documents scan appears exactly twice (postings + corpus stats)
    reading only doc_id + text, and nothing corpus-sized sort-merge
    joins."""
    plan = _plan(ALL_QUERIES["doc_bm25_topk"](spark, SF))
    assert plan.count("Generate") == 1, plan
    assert len(re.findall(r"documents\.parquet", plan)) == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert _scan_columns(plan, "documents") == {"doc_id", "text"}, plan
    # the vocab join is the explode's direct parent: between the two
    # plan lines there is no shuffle (the filter runs map-side,
    # before any exchange sees a posting)
    g = plan.index("Generate")
    j = plan.rindex("BroadcastHashJoin [term", 0, g)
    assert "Exchange hashpartitioning" not in plan[j:g], plan[j:g]


def test_hybrid_rrf_arms_are_broadcast_topk(spark):
    """hybrid_rrf_retrieval: both arms score the corpus against
    BROADCAST queries (no corpus-sized shuffle for scoring), per-arm
    top-k is rank-pruned map-side (WindowGroupLimit Partial before
    the exchange), and the fuse itself never sort-merge joins —
    rank tables are q*arm_k rows."""
    plan = _plan(ALL_QUERIES["hybrid_rrf_retrieval"](spark, SF))
    # the ONLY sort-merge join is the FullOuter fuse of the two rank
    # tables (q*arm_k rows — model-sized; broadcast hash can't do
    # full outer); nothing corpus-sized ever sort-merge joins
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert len(smj) == 1 and "FullOuter" in smj[0], plan
    assert plan.count("WindowGroupLimit") >= 4, plan  # partial+final per arm
    assert "Partial" in plan, plan
    assert _scan_columns(plan, "documents") == {"doc_id", "text"}, plan
    assert _scan_columns(plan, "embeddings") == {"vec_id", "embedding"}, plan


def test_ks_drift_grid_is_value_domain_sized(spark):
    """source_ks_drift: the corpus is scanned/aggregated exactly once
    — the (g, x) histogram is pinned (localCheckpoint) before its
    many consumers, so the final plan contains ZERO documents scans
    (only ExistingRDD reads of the domain-sized histogram; before the
    pin the scan lineage re-ran 16x). Every window is keyed by the
    group column (per-group CDF, never a global cumulative)."""
    plan = _plan(ALL_QUERIES["source_ks_drift"](spark, SF))
    assert "documents.parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    for m in re.finditer(r"windowspecdefinition\(([^,]*)", plan):
        assert m.group(1).startswith("g#"), plan


def test_tv_drift_single_corpus_pass(spark):
    """source_tv_drift: same single-pass pin as the KS monitor — the
    (g, term) histogram is materialized once and every consumer reads
    the domain-sized table (6 corpus scans before the r9 pin)."""
    plan = _plan(ALL_QUERIES["source_tv_drift"](spark, SF))
    assert "documents.parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_chi2_drift_single_corpus_pass(spark):
    """source_chi2_drift: same single-pass pin as the KS/TV monitors
    — the (g, bin) histogram is materialized once (bin-table-sized)
    and its four consumers (totals, both pair-join sides, the spine)
    read the pinned table, never the corpus."""
    plan = _plan(ALL_QUERIES["source_chi2_drift"](spark, SF))
    assert "documents.parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_cohort_retention_shapes(spark):
    """events_cohort_retention: the scan reads only (ts, user_id);
    cohort sizes join broadcast (|days|-row side); no window over the
    event stream (the distinct + aggregates are the only exchanges)."""
    plan = _plan(ALL_QUERIES["events_cohort_retention"](spark, SF))
    assert _scan_columns(plan, "events") <= {"ts", "user_id"}, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_event_transitions_shapes(spark):
    """events_markov_transitions: scan pruned to the four needed
    columns; the lag window is user-keyed; row totals broadcast."""
    plan = _plan(ALL_QUERIES["events_markov_transitions"](spark, SF))
    assert _scan_columns(plan, "events") <= \
        {"ts", "user_id", "event_type", "event_id"}, plan
    assert "BroadcastHashJoin" in plan, plan
    for m in re.finditer(r"windowspecdefinition\(([^,]*)", plan):
        assert m.group(1).startswith("user_id#"), plan


def test_embedding_covariance_shapes(spark):
    """embedding_covariance: pair products form IN-ROW — no join
    pairs the corpus with itself (the only joins are d-row broadcasts
    of the per-dim sums); scan pruned to the vector column; no
    window. Pinned on the OPERATOR: the fixture query serves the
    one-pass family's memoized localCheckpoint (r12), whose truncated
    plan is by design a bounded-RDD scan, not the corpus pass.

    r16: the operator runs the exact-quantization Arrow kernel — same
    constraints, plus the corpus pass must be a MapInArrow node (no
    interpreted nested-transform lambda, no BatchEvalPython). The
    all-JVM composition the streaming covariance runs
    (covariance_from_sums over cov_pair_sums/cov_dim_sums) meets the
    same constraints with no Python node at all."""
    from market_data_ingestor_go_spark.operators.similarity import (
        cov_dim_sums, cov_pair_sums, covariance_from_sums,
        embedding_covariance)
    from market_data_ingestor_go_spark.sources.tables import load_table
    emb = load_table(spark, SF, "embeddings")
    forms = {"kernel": embedding_covariance(emb),
             "streaming": covariance_from_sums(cov_pair_sums(emb),
                                               cov_dim_sums(emb))}
    for name, cov in forms.items():
        plan = _plan(cov)
        assert "SortMergeJoin" not in plan, plan
        assert plan.count("BroadcastHashJoin") == 2, plan
        assert _scan_columns(plan, "embeddings") == {"embedding"}, plan
        assert "windowspecdefinition" not in plan, plan
        assert ("MapInArrow" in plan) == (name == "kernel"), plan
        assert "BatchEvalPython" not in plan, plan


def test_quality_signals_map_only(spark):
    """doc_quality_signals: a pure map-only pass — no exchange, no
    window, no join anywhere in the plan; scan pruned to (doc_id,
    text)."""
    plan = _plan(ALL_QUERIES["doc_quality_signals"](spark, SF))
    assert "Exchange" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "Join" not in plan, plan
    assert _scan_columns(plan, "documents") == {"doc_id", "text"}, plan


def test_cusum_changepoint_shapes(spark):
    """events_cusum_changepoint: scan pruned to the needed columns;
    every window (rank, cumulative, key totals) is keyed by the
    event_type alias — one key shuffle, no global window."""
    plan = _plan(ALL_QUERIES["events_cusum_changepoint"](spark, SF))
    assert _scan_columns(plan, "events") <= \
        {"ts", "event_id", "event_type", "value"}, plan
    for m in re.finditer(r"windowspecdefinition\(([^,]*)", plan):
        assert m.group(1).startswith("k#"), plan


def test_repetition_signals_single_scan_per_doc_windows(spark):
    """doc_repetition_signals: the corpus text is scanned once (the
    tokenized base is pinned; every gram pass reads the ExistingRDD),
    and every window is keyed by doc_id — no global exchange."""
    plan = _plan(ALL_QUERIES["doc_repetition_signals"](spark, SF))
    assert "documents.parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    for m in re.finditer(r"windowspecdefinition\(([^,]*)", plan):
        assert m.group(1).startswith("doc_id#"), plan


def test_pmi_topk_is_distributed_and_single_pass(spark):
    """doc_pmi_collocations (r10 fix): the global top-k is a
    distributed TakeOrderedAndProject (per-partition top-k, one k-row
    merge) — NOT the r9 single-partition row_number Window that
    sorted the whole min_count-pruned pair table in one task — and
    the only Window in the plan ranks the ≤k TakeOrdered survivors
    (it sits ABOVE the TakeOrdered in the tree). Both count tables
    are pinned, so the final plan reads ExistingRDDs and contains
    ZERO corpus scans (the explode lineage ran once per stream inside
    the checkpoint builds; ~5 replays observed before the pin)."""
    plan = _plan(ALL_QUERIES["doc_pmi_collocations"](spark, SF))
    assert "documents.parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Window [") == 1, plan
    # parent prints before child: the rank window consumes the
    # TakeOrdered output, never the raw pair table
    assert plan.index("Window [") < plan.index("TakeOrderedAndProject"), plan


def test_q15_max_is_broadcast_not_global_window(spark):
    """q15_top_supplier (r10 PMI-audit class): the global revenue max
    must be a partial-combining one-row aggregate broadcast back onto
    the supplier table — never a partition-less Window that sorts the
    supplier-count-sized aggregate in one task. The supplier
    aggregate is pinned, so the final plan replays zero lineitem
    scans."""
    plan = _plan(ALL_QUERIES["q15_top_supplier"](spark, SF))
    assert "Window" not in plan, plan
    assert "lineitem.parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ngram_novelty_reference_broadcasts(spark):
    """doc_ngram_novelty: the reference n-gram set must BROADCAST
    (membership is a map-side probe — the train corpus never shuffles
    to be checked); exactly two pruned documents scans (train + ref
    shingle explodes), nothing sort-merge joins."""
    plan = _plan(ALL_QUERIES["doc_ngram_novelty"](spark, SF))
    assert len(re.findall(r"documents\.parquet", plan)) == 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert _scan_columns(plan, "documents") == {"doc_id", "text"}, plan


def test_vocab_growth_two_scans_grid_broadcast(spark):
    """corpus_vocab_growth: one doc-level pass + one token pass (two
    pruned documents scans — every one of the 10 steps is served from
    the same term→min-bucket aggregate, never a per-step corpus
    scan); the step grid joins by broadcast (nested-loop on the
    inequality is fine — 10 rows); nothing sort-merge joins."""
    plan = _plan(ALL_QUERIES["corpus_vocab_growth"](spark, SF))
    assert len(re.findall(r"documents\.parquet", plan)) == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert _scan_columns(plan, "documents") == {"doc_id", "text"}, plan


def test_snapshot_diff_one_fullouter_join(spark):
    """corpus_snapshot_diff: the ONLY sort-merge join is the
    full-outer doc_id diff itself (broadcast can't do full outer);
    nothing else corpus-sized joins, and no text column survives past
    the scan projection (fingerprint + token count only)."""
    plan = _plan(ALL_QUERIES["corpus_snapshot_diff"](spark, SF))
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert len(smj) == 1 and "FullOuter" in smj[0], plan
    assert _scan_columns(plan, "documents") <= {
        "doc_id", "source", "text"}, plan


def test_snapshot_change_magnitude_two_pruned_scans(spark):
    """snapshot_change_magnitude: two pruned snapshot scans feeding
    one doc_id equi-join (broadcast at fixture scale; co-partitioned
    SMJ over bucketed snapshots at scale — the bucketing test), and
    only (doc_id, text) read."""
    plan = _plan(ALL_QUERIES["snapshot_change_magnitude"](spark, SF))
    assert len(re.findall(r"documents\.parquet", plan)) == 2, plan
    assert _scan_columns(plan, "documents") == {"doc_id", "text"}, plan


def test_eval_leak_spans_marking_is_broadcast(spark):
    """eval_leak_spans: the reference window set BROADCASTS (marking
    is map-side — train windows never shuffle to be checked), exactly
    two pruned documents scans (train + reference window explodes),
    and every Window is keyed by doc_id (the island merge is per-doc,
    never global)."""
    plan = _plan(ALL_QUERIES["eval_leak_spans"](spark, SF))
    assert len(re.findall(r"documents\.parquet", plan)) == 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    for m in re.finditer(r"windowspecdefinition\(([^,]*)", plan):
        assert m.group(1).startswith("doc_id#"), plan
    assert _scan_columns(plan, "documents") == {"doc_id", "text"}, plan


def test_eval_leak_scrub_reference_broadcast_and_per_doc(spark):
    """eval_leak_scrub: exactly three pruned documents scans (train
    windows, reference windows, the train join-back), every join
    broadcast (the reference window set for map-side marking, the
    leaked-doc-sized span table back onto the corpus — never a
    corpus-side sort-merge), and every Window keyed by doc_id (the
    island merge stays per-doc)."""
    plan = _plan(ALL_QUERIES["eval_leak_scrub"](spark, SF))
    assert len(re.findall(r"documents\.parquet", plan)) == 3, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    for m in re.finditer(r"windowspecdefinition\(([^,]*)", plan):
        assert m.group(1).startswith("doc_id#"), plan
    assert _scan_columns(plan, "documents") == {"doc_id", "text"}, plan


def test_crawl_delta_apply_single_full_outer_join(spark):
    """crawl_delta_apply: the merge is ONE full-outer doc_id
    sort-merge join (full-outer cannot broadcast; over doc_id-
    bucketed snapshots it is shuffle-free) and nothing else — three
    pruned documents scans (base + the delta's two fixture classes),
    each reading only (doc_id, source, text)."""
    plan = _plan(ALL_QUERIES["crawl_delta_apply"](spark, SF))
    assert len(re.findall(r"documents\.parquet", plan)) == 3, plan
    assert plan.count("SortMergeJoin") == 1, plan
    assert "full" in plan.lower(), plan
    assert _scan_columns(plan, "documents") == \
        {"doc_id", "source", "text"}, plan


def test_dup_span_scrub_per_doc_windows_and_pruned_scans(spark):
    """dup_span_scrub: exactly three pruned (doc_id, text) documents
    scans (the window table for the first-occurrence aggregate, the
    window table for the marked join-back, the corpus for
    reconstruction), and every Window keyed by doc_id — the island
    merge never goes global. The window-key exchange is the
    operator's one corpus-sized cost by design (docstring); join
    strategy is left to AQE (broadcast at fixture scale, shuffle at
    100 TB)."""
    plan = _plan(ALL_QUERIES["dup_span_scrub"](spark, SF))
    assert len(re.findall(r"documents\.parquet", plan)) == 3, plan
    for m in re.finditer(r"windowspecdefinition\(([^,]*)", plan):
        assert m.group(1).startswith("doc_id#"), plan
    assert _scan_columns(plan, "documents") == {"doc_id", "text"}, plan


def test_embedding_drift_pair_join_is_model_sized(spark):
    """source_embedding_drift: the corpus is dim-exploded and
    aggregated exactly once — the |groups|-row centroid table is
    pinned, so the final plan reads ExistingRDDs (ZERO embeddings
    scans) and the pair join is a broadcast nested-loop over
    group-count-sized sides, never a corpus sort-merge."""
    plan = _plan(ALL_QUERIES["source_embedding_drift"](spark, SF))
    assert "embeddings.parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_source_mix_weights_single_pass(spark):
    """source_mix_weights: ONE pruned documents scan feeding one
    aggregate exchange; the normalization window runs over the
    |groups|-row aggregate (partition-less is correct there — it is
    driver-sized by construction, the corpus_mix_weights shape)."""
    plan = _plan(ALL_QUERIES["source_mix_weights"](spark, SF))
    assert len(re.findall(r"documents\.parquet", plan)) == 1, plan
    assert _scan_columns(plan, "documents") == {"source", "text"}, plan


def test_bm25_from_index_serve_has_no_tokenize(spark):
    """doc_bm25_from_index: the serve plan touches ONLY the
    materialized postings table — zero Generate (no tokenize/explode
    at serve time), no documents scan, nothing sort-merge joins; the
    query-vocab filter is a broadcast join over the postings scan."""
    plan = _plan(ALL_QUERIES["doc_bm25_from_index"](spark, SF))
    assert "Generate" not in plan, plan
    assert "documents.parquet" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "bm25_postings" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bm25_from_index_prunes_term_partitions(spark):
    """r10: the fixture index is written PARTITIONED BY the md5 term
    bucket (r11: under the modulus-carrying name term_bkt16, so the
    serve path derives the bucket count from the schema and can never
    prune with the wrong modulus) and the serve path turns its query
    vocabulary into a driver-side partition-value IN-list — the
    postings scan must carry a PartitionFilters IN on term_bkt16
    selecting a PROPER subset of the 16 buckets (partition pruning:
    zero non-matching postings read, the docstring's scale claim as a
    plan artifact). The stats branch (corpus-global N/TOT) correctly
    scans ALL partitions but only (doc_id, dl)."""
    from market_data_ingestor_go_spark.operators.retrieval import (
        FIXTURE_QUERIES, N_TERM_BUCKETS, term_bucket)

    plan = _plan(ALL_QUERIES["doc_bm25_from_index"](spark, SF))
    m = re.search(r"PartitionFilters: \[term_bkt16#\d+ IN \(([^)]*)\)\]",
                  plan)
    assert m, plan
    got = sorted(int(x) for x in m.group(1).split(","))
    want = sorted({term_bucket(t) for _, t in set(FIXTURE_QUERIES)})
    assert got == want, (got, want)          # exactly the vocab's buckets
    assert 0 < len(got) < N_TERM_BUCKETS     # a proper subset prunes


def test_image_dhash_pairs_block_local(spark):
    """image_dhash_neardup: candidate pairs form ONLY via the
    pigeonhole block equi-join on (blk, bv) — never an all-pairs
    cartesian/nested-loop — and the documents scan feeding the image
    fixture prunes to (doc_id, text)."""
    df = ALL_QUERIES["image_dhash_neardup"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert _scan_columns(plan, "documents") <= {"doc_id", "text"}


def test_audio_afp_pairs_block_local(spark):
    """audio_afp_neardup: same pigeonhole posture as the image leg —
    no cartesian/nested-loop pair formation, pruned documents scan."""
    df = ALL_QUERIES["audio_afp_neardup"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert _scan_columns(plan, "documents") <= {"doc_id", "text"}


def test_video_frame_pairs_posting_join(spark):
    """video_frame_neardup: clip pairs form via the hash posting
    equi-join — no cartesian/nested-loop — over a pruned documents
    scan."""
    df = ALL_QUERIES["video_frame_neardup"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert _scan_columns(plan, "documents") <= {"doc_id", "text"}


def test_interval_overlap_is_bucketized_equi_join(spark):
    """interval_overlap_shipments: candidates come from the grid-cell
    equi-join — no cartesian/nested-loop anywhere — and both scans
    prune to the interval + key columns."""
    df = ALL_QUERIES["interval_overlap_shipments"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert _scan_columns(plan, "lineitem") <= {
        "l_orderkey", "l_linenumber", "l_partkey", "l_shipdate",
        "l_quantity"}
    assert _scan_columns(plan, "orders") <= {
        "o_orderkey", "o_orderpriority", "o_orderdate"}


def test_dq_profile_single_scan_expand(spark):
    """orders_dq_profile: ONE FileScan feeds every per-column
    aggregate — the multi-distinct plans as a single Expand pass
    (N+1 scans, one per COUNT(DISTINCT), would be the naive shape)."""
    df = ALL_QUERIES["orders_dq_profile"](spark, SF)
    plan = _plan(df)
    assert plan.count("FileScan") == 1, plan
    assert "Expand" in plan, plan


def test_dq_profile_approx_no_expand_single_scan(spark):
    """orders_dq_profile_approx: the HLL swap's whole point — ONE
    FileScan, NO Expand (plain mergeable aggregate; the exact twin
    needs the multi-distinct Expand pass), no per-value dedup
    exchange beyond the single 1-row aggregate."""
    df = ALL_QUERIES["orders_dq_profile_approx"](spark, SF)
    plan = _plan(df)
    assert plan.count("FileScan") == 1, plan
    assert "Expand" not in plan, plan


def test_benford_single_scan_no_second_pass(spark):
    """orders_benford_test: ONE FileScan pruned to the amount column
    (the r13 refactor derives the total from a window sum over the
    <=9-row count table, not a second corpus pass)."""
    df = ALL_QUERIES["orders_benford_test"](spark, SF)
    plan = _plan(df)
    assert plan.count("FileScan") == 1, plan
    assert _scan_columns(plan, "orders") <= {"o_totalprice"}


def test_session_funnel_windows_share_one_sort_exchange(spark):
    """events_session_funnel_paths: the session-boundary and
    per-session row-number windows both run under the user_id hash
    partitioning — exactly ONE exchange below the path aggregate
    (hashpartitioning(user_id) satisfies the (user_id, sess)
    clustering), plus the path-grain aggregate exchange; the top-20
    is TakeOrdered, never a global sort."""
    df = ALL_QUERIES["events_session_funnel_paths"](spark, SF)
    plan = _plan(df)
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_embedding_outliers_broadcast_and_group_limit(spark):
    """embedding_outlier_docs: the centroid table BROADCASTS back
    onto the corpus scan (map-only distance) and the per-group top-k
    prunes via WindowGroupLimit before the rank window."""
    df = ALL_QUERIES["embedding_outlier_docs"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_quality_floor_approx_has_no_sort_window(spark):
    """source_quality_floor_approx: the GK twin's whole point — no
    per-group rank window (the exact form's keyed sort), just plain
    mergeable aggregates + a broadcast join back."""
    df = ALL_QUERIES["source_quality_floor_approx"](spark, SF)
    plan = _plan(df)
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_cooccurrence_pair_join_is_user_equi(spark):
    """events_type_cooccurrence_lift: the pair generation is an
    equi-join on the user id (never a cartesian over types), the
    per-type counts attach by broadcast, and the ONLY nested-loop is
    the 1-row n_users denominator cross-join (the lazy scalar-row
    device — r14 fix for the eager plan-build-time count)."""
    df = ALL_QUERIES["events_type_cooccurrence_lift"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_fk_orphan_audit_plan_is_anti_joins(spark):
    """fk_orphan_audit: every edge is a key-only LEFT ANTI join —
    never a cartesian — and the tiny one-row count frames combine
    via the scalar-row nested-loop device only."""
    df = ALL_QUERIES["fk_orphan_audit"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("LeftAnti") >= 5, plan


def test_r14_analytics_plans_have_no_cartesian(spark):
    """The r14 analytics additions: pair/rank machinery must never
    degrade to a cartesian, and the only nested-loop joins are the
    tiny scalar-row devices (1-row count frames, |edges|-row unions).
    Pinned per query with the worst acceptable nested-loop count."""
    budget = {
        "customer_revenue_pareto": 0,
        "events_conversion_latency": 0,
        "events_user_growth_accounting": 0,
        "events_mannwhitney_value_test": 0,
        "docs_source_lang_diversity": 0,
        "orders_price_skew_kurtosis": 0,
        "fk_orphan_audit": 5,   # five 1-row tot×orph count cross-joins
    }
    for name, max_bnlj in budget.items():
        plan = _plan(ALL_QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, (name, plan)
        n = plan.count("BroadcastNestedLoopJoin")
        assert n <= max_bnlj, (name, n, plan)


def test_pareto_approx_has_no_sort_window(spark):
    """customer_revenue_pareto_approx: the GK twin's whole point — no
    per-segment rank window, just mergeable aggregates + a broadcast
    threshold join (the quality_floor_approx contract)."""
    df = ALL_QUERIES["customer_revenue_pareto_approx"](spark, SF)
    plan = _plan(df)
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_conversion_latency_approx_has_no_window(spark):
    """events_conversion_latency_approx: no global rank window — the
    quantiles come from one mergeable GK aggregate."""
    df = ALL_QUERIES["events_conversion_latency_approx"](spark, SF)
    plan = _plan(df)
    assert "Window" not in plan, plan
    assert "percentile_approx" in plan, plan


def test_r15_analytics_plans_have_no_cartesian(spark):
    """The r15 analytics additions: pair/rank machinery must never
    degrade to a cartesian; the only nested-loop joins are the tiny
    scalar/calendar-bounded devices (1-row tie/count frames, the
    Theil-Sen calendar² pair join over a broadcast day series).
    Pinned per query with the worst acceptable nested-loop count."""
    budget = {
        "nation_supplier_hhi": 0,
        "lineitem_qty_price_spearman": 0,
        "customer_sorted_neighborhood_pairs": 0,
        "events_hourly_seasonality": 0,
        "orders_open_backlog_days": 0,
        "orders_daily_autocorr": 0,
        "events_kruskal_value_test": 1,   # 1-row ties scalar frame
        "orders_revenue_runs_test": 1,    # 1-row median broadcast
        "orders_theilsen_trend": 3,       # calendar² day-pair join —
                                          # PINNED, so its BNLJ prints
                                          # at both InMemoryRelation
                                          # scan sites (ledger + target
                                          # chunk) but executes ONCE —
                                          # + 1-row n_days scalar
        "events_purchase_rate_ztest": 0,
        "customer_yoy_sign_test": 0,
        "docs_stratified_kfold": 0,
        "customer_reorder_rate": 0,
    }
    for name, max_bnlj in budget.items():
        plan = _plan(ALL_QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, (name, plan)
        n = plan.count("BroadcastNestedLoopJoin")
        assert n <= max_bnlj, (name, n, plan)


def test_fulfillment_lag_approx_has_no_window(spark):
    """orders_fulfillment_lag_approx: no per-priority rank window —
    the quantiles come from one mergeable GK aggregate."""
    df = ALL_QUERIES["orders_fulfillment_lag_approx"](spark, SF)
    plan = _plan(df)
    assert "Window" not in plan, plan
    assert "percentile_approx" in plan, plan


def test_snm_chunked_rank_is_partitioned(spark):
    """customer_sorted_neighborhood_pairs: the corpus-scale
    row_number window must partition by the chunk (no global
    unchunked sort of the name order feeds a window)."""
    df = ALL_QUERIES["customer_sorted_neighborhood_pairs"](spark, SF)
    plan = _plan(df)
    assert "chunk" in plan
    for line in plan.splitlines():
        if "Sort [snm_key" in line and "chunk" not in line:
            raise AssertionError(f"unchunked global sort: {line}")


def test_rank_spine_windows_are_chunked(spark):
    """r15: the Spearman/KW value-histogram rank spines must sort
    WITHIN floor(value/1024) chunks — the only SinglePartition
    windows left are the chunk-grain carry ledgers (bounded by the
    value range / 1024, never by the value domain)."""
    for name in ("lineitem_qty_price_spearman",
                 "events_kruskal_value_test"):
        plan = _plan(ALL_QUERIES[name](spark, SF))
        assert "__ck" in plan, name
        for line in plan.splitlines():
            if ("Sort [xv" in line or "Sort [l_quantity" in line
                    or "Sort [l_extendedprice" in line) \
                    and "__ck" not in line:
                raise AssertionError(f"{name}: unchunked value sort: "
                                     f"{line}")


def test_exact_rank_selections_are_chunked(spark):
    """r16: the three remaining exact global-rank paths now run the
    Theil-Sen chunk-ledger selection — no value-ordered sort of a
    row-count-sized frame feeds a rank window without a __ck chunk
    key ahead of it in the sort order. The only SinglePartition /
    per-group-serial windows left are the chunk-grain carry ledgers
    (bounded by value range / width, never by row count)."""
    checks = {
        # query -> value-sort prefixes that must only appear chunked
        "events_conversion_latency": ("Sort [lat",),
        "customer_revenue_pareto": ("Sort [c_mktsegment", "Sort [spend"),
        "source_quality_floor": ("Sort [g", "Sort [m", "Sort [n_tok"),
    }
    for name, prefixes in checks.items():
        plan = _plan(ALL_QUERIES[name](spark, SF))
        assert "__ck" in plan, name
        for line in plan.splitlines():
            for p in prefixes:
                if p in line and "__ck" not in line:
                    raise AssertionError(
                        f"{name}: unchunked value-rank sort: {line}")


def test_quality_floor_is_histogram_grain(spark):
    """r16: source_quality_floor derives everything from the
    (source, n_tok) histogram — exactly ONE corpus-grain exchange
    (the histogram aggregate); every other exchange and window runs
    at histogram/ledger grain, and no row_number remains."""
    plan = _plan(ALL_QUERIES["source_quality_floor"](spark, SF))
    assert "row_number" not in plan, plan


def test_theilsen_rank_spine_is_chunked(spark):
    """r15 optimization round: the Theil-Sen median-slope selection
    must sort pair rows WITHIN floor(slope/1024) chunks — the former
    global row_number window serialized all |days|²/2 pair rows
    through ONE task (and a second global count window re-exchanged
    them). The only SinglePartition window left is the chunk-grain
    carry ledger (bounded by slope range / 1024, never by the pair
    count)."""
    plan = _plan(ALL_QUERIES["orders_theilsen_trend"](spark, SF))
    assert "__ck" in plan, plan
    for line in plan.splitlines():
        if "Sort [slope" in line:
            raise AssertionError(f"unchunked global slope sort: {line}")
