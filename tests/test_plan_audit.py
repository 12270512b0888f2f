"""Plan-health gate: run tools/measure.py's auditor over headline
driver queries so scan-count / pushdown / join-strategy regressions
fail the suite loudly instead of silently shipping a 100 TB-hostile
plan. (The audit tool existed since round 2; this wires it into CI —
VERDICT r2 item 9.)
"""

import re

import pytest

from tools.measure import audit

#: queries whose plans we pin invariants on; dedup entries are excluded
#: from scan asserts (they return eagerly-materialized pair sets, so
#: their plans are ExistingRDD scans by design)
HEADLINE = [
    "search_term",
    "search_bm25",
    "q1_pricing",
    "q3_top_revenue",
    "dedup_exact",
    "knn_bruteforce",
    "token_budget_pack",
    "text_quality",
    "text_gopher_rules",
    "source_token_profile",
]


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        # execute first: AQE only materializes join strategies and
        # whole-stage-codegen spans in the FINAL plan
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # AQE's toString appends the pre-execution plan after the
        # final one; auditing both would double every count
        plan = plan.split("== Initial Plan ==")[0]
        out[name] = audit(plan)
    return out


def test_no_unbounded_cartesian_products(plans):
    """CartesianProduct (non-broadcast) is the canonical scale
    killer; broadcast nested-loop against a bounded side is the only
    acceptable cross shape."""
    for name, a in plans.items():
        assert "CartesianProduct" not in a["joins"], (name, a)


def test_filters_reach_the_parquet_scan(plans):
    # a filtering query whose predicate never reaches the scan reads
    # the whole table at 100 TB
    assert plans["search_term"]["pushed_scans"] >= 1, plans["search_term"]
    assert plans["q1_pricing"]["pushed_scans"] >= 1, plans["q1_pricing"]


def test_single_scan_per_table(plans):
    # q1 touches lineitem once; a plan that scans it twice doubled
    # the dominant cost
    assert plans["q1_pricing"]["scans"] == 1, plans["q1_pricing"]
    # token_budget_pack: one documents scan, one window shuffle
    assert plans["token_budget_pack"]["scans"] == 1, plans["token_budget_pack"]


def test_broadcast_where_hinted(plans):
    # knn broadcasts the query side — corpus must never shuffle for a
    # pointwise scoring pass
    assert "BroadcastNestedLoopJoin" in plans["knn_bruteforce"]["joins"], (
        plans["knn_bruteforce"]
    )


def test_whole_stage_codegen_present(plans):
    # the scoring/agg pipelines must stay JVM-side: at least one WSCG
    # span in every headline plan (0 would mean everything fell off
    # codegen, e.g. a row-at-a-time Python UDF crept into the path)
    for name in ("search_term", "q1_pricing", "text_quality", "search_bm25"):
        assert plans[name]["wscg_spans"] >= 1, (name, plans[name])


#: round-6 additions with pinned plan invariants of their own
ROUND6 = ["chunk_documents", "quantize_embeddings", "text_token_stats", "decontaminate"]


@pytest.fixture(scope="module")
def plans6(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND6:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        out[name] = audit(plan.split("== Initial Plan ==")[0])
    return out


def test_narrow_ops_have_no_shuffle(plans6):
    """Chunking, quantization and token stats are single-scan narrow
    projections — any Exchange means a shuffle crept into a pass that
    must stream at 100 TB."""
    for name in ("chunk_documents", "quantize_embeddings", "text_token_stats"):
        a = plans6[name]
        assert a["scans"] == 1, (name, a)
        assert a["exchanges"] == 0, (name, a)
        assert a["wscg_spans"] >= 1, (name, a)


def test_decontaminate_joins_are_broadcast(plans6):
    """The benchmark gram set must broadcast — a shuffled join here
    would move the corpus n-gram fan-out."""
    a = plans6["decontaminate"]
    assert "BroadcastHashJoin" in a["joins"], a
    assert "SortMergeJoin" not in a["joins"] and "CartesianProduct" not in a["joins"], a


#: round-6 batch-2 additions (interval join / fusion / analytics)
ROUND6B = ["event_conversions", "hybrid_search_rrf", "cohort_retention", "text_dup_ngrams"]


@pytest.fixture(scope="module")
def plans6b(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND6B:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        out[name] = audit(plan.split("== Initial Plan ==")[0])
    return out


def test_interval_join_is_an_equi_join(plans6b):
    """window_join exists precisely to avoid the range-join
    cartesian/nested-loop shape: the pair production must plan as an
    equi-join on (key, bucket) — a BroadcastNestedLoopJoin or
    CartesianProduct here means the bucketing stopped reaching the
    join keys and every per-key pair would materialize at scale."""
    a = plans6b["event_conversions"]
    assert "CartesianProduct" not in a["joins"], a
    assert "BroadcastNestedLoopJoin" not in a["joins"], a
    assert any(
        j in a["joins"] for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    ), a


def test_hybrid_fusion_join_stays_small(plans6b):
    """The RRF fusion join runs over two top-pool lists; the only
    unbounded-side cross shape allowed in the plan is the
    broadcast-queries kNN scan."""
    a = plans6b["hybrid_search_rrf"]
    assert "CartesianProduct" not in a["joins"], a


def test_analytics_joins_never_cartesian(plans6b):
    for name in ("cohort_retention", "text_dup_ngrams"):
        a = plans6b[name]
        assert "CartesianProduct" not in a["joins"], (name, a)
        assert "BroadcastNestedLoopJoin" not in a["joins"], (name, a)


#: round-7 additions (corpus profiling / clustering / calibration)
ROUND7 = [
    "length_histogram",
    "zipf_profile",
    "kmeans_embeddings",
    "cluster_size_histogram",
    "minhash_calibration",
]


@pytest.fixture(scope="module")
def plans7(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND7:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        out[name] = audit(plan.split("== Initial Plan ==")[0])
    return out


def test_round7_entries_never_cartesian(plans7):
    """The only cross shape any of these may plan is a broadcast
    against a bounded side (zipf's one-row fit, kmeans' literal
    centroid matrix) — a CartesianProduct is always a bug."""
    for name, a in plans7.items():
        assert "CartesianProduct" not in a["joins"], (name, a)


def test_length_histogram_one_scan(plans7):
    """One documents scan; the window runs over the group-bucket
    AGGREGATE (|sources| x ~64 rows), so exchanges stay small-keyed —
    but the corpus itself must be read exactly once."""
    a = plans7["length_histogram"]
    assert a["scans"] == 1, a
    assert a["wscg_spans"] >= 1, a


def test_kmeans_final_assignment_is_narrow(plans7):
    """The returned frame is the assignment under LITERAL final
    centroids: one corpus scan, zero exchanges (the Lloyd rounds'
    aggregations ran during training, not in this plan)."""
    a = plans7["kmeans_embeddings"]
    assert a["scans"] == 1, a
    assert a["exchanges"] == 0, a
    assert a["wscg_spans"] >= 1, a


def test_zipf_fit_is_broadcast(plans7):
    """The one-row OLS fit joins back by broadcast — a shuffled or
    cartesian fusion of a 1-row frame means the explicit broadcast
    hint fell off."""
    a = plans7["zipf_profile"]
    assert "SortMergeJoin" not in a["joins"], a
    assert "CartesianProduct" not in a["joins"], a


#: round-7 batch-2 additions (canonicalization / profiling / diff)
ROUND7B = ["normalize_text", "script_profile", "snapshot_diff"]


@pytest.fixture(scope="module")
def plans7b(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND7B:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        out[name] = audit(plan.split("== Initial Plan ==")[0])
    return out


def test_profiling_passes_are_narrow(plans7b):
    """normalize_text (ICU NFC through ``reflect`` — the Arrow UDF
    when the text holds an unassigned code point — plus a JVM regex
    chain) and script_profile (pure JVM regex counting) are per-row
    maps: one documents scan, zero exchanges."""
    for name in ("normalize_text", "script_profile"):
        a = plans7b[name]
        assert a["scans"] == 1, (name, a)
        assert a["exchanges"] == 0, (name, a)


def test_snapshot_diff_joins_slim_hash_frames(plans7b):
    """The diff's full-outer join must be a real equi-join over the
    hash projections — never a cartesian/nested-loop (digests
    shuffle, documents don't)."""
    a = plans7b["snapshot_diff"]
    assert "CartesianProduct" not in a["joins"], a
    assert "BroadcastNestedLoopJoin" not in a["joins"], a


#: round-7 batch-3 additions (packing / audio)
ROUND7C = ["pack_sequences", "multimodal_audio_meta", "multimodal_audio_energy"]


@pytest.fixture(scope="module")
def plans7c(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND7C:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        out[name] = audit(plan.split("== Initial Plan ==")[0])
    return out


def test_pack_sequences_one_scan_one_window_shuffle(plans7c):
    """Concat-and-split packing is one documents scan plus exactly
    the per-shard window exchange — a second exchange would mean the
    cumsum went through a global ordered window."""
    a = plans7c["pack_sequences"]
    assert a["scans"] == 1, a
    assert a["exchanges"] == 1, a


def test_audio_passes_are_narrow(plans7c):
    """Audio meta and window energy are single-scan mapInPandas
    passes: blobs cross to Python once per Arrow batch and never
    shuffle."""
    for name in ("multimodal_audio_meta", "multimodal_audio_energy"):
        a = plans7c[name]
        assert a["scans"] == 1, (name, a)
        assert a["exchanges"] == 0, (name, a)


def test_search_bm25_entry_reads_manifest_stats(spark, sf_dir):
    """The scored-search DRIVER ENTRY must take the manifest-stats
    path (VERDICT r7 directive 3): its plan reads the commit-time
    ``_stats`` parquets (identified by their fixed read schema) and
    runs NO second corpus scan for statistics — exactly one data
    FileScan plus one stats FileScan."""
    import __spark_entry__ as entry

    df = entry.queries()["search_bm25"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    n_stats = plan.count("struct<field:string,term:string")
    assert n_stats == 1, "entry did not read the stats parquets"
    assert plan.count("FileScan") == 2, (
        "expected exactly one data scan + one stats scan"
    )


def test_knn_graph_is_equi_join_topk(spark, sf_dir):
    """The corpus self-join must stay an EQUI join on the bucket key
    (never cartesian / nested-loop over the corpus), and the per-node
    top-k must execute with WindowGroupLimit (partial top-k before
    the shuffle) so no task collects a node's full candidate list."""
    import __spark_entry__ as entry

    df = entry.queries()["knn_graph"](spark, sf_dir)
    # finalize_cached materializes eagerly; audit the LAST materialized
    # plan through the session's execution listener instead: re-derive
    # the lazy plan directly from the operator with the same inputs
    from toshokan_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # similarity imported finalize_cached by name — patch ITS binding
    orig = similarity.finalize_cached
    similarity.finalize_cached = lambda out, *cached: out
    try:
        lazy = similarity.knn_graph(emb, k=5, num_planes=8, hash_family="lcg")
    finally:
        similarity.finalize_cached = orig
    try:
        plan = lazy._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
        assert "WindowGroupLimit" in plan, "top-k lost the group-limit pushdown"
        assert df.count() > 0
    finally:
        # the patched finalize skipped the operator's own unpersist
        spark.catalog.clearCache()


def test_substring_spans_plan_is_join_shaped(spark, sf_dir):
    """exact_substring_spans must stay on the aggregation+equi-join
    path: no cartesian/nested-loop anywhere, and no window keyed on
    the gram (gram frequency is heavy-tailed — the doc-keyed interval
    window is the only one allowed)."""
    import __spark_entry__ as entry

    df = entry.queries()["substring_spans"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for seg in plan.split("windowspecdefinition(")[1:]:
        spec = seg.split(")")[0]
        assert "g#" not in spec.split(",")[0], (
            "window partitioned by gram: " + spec
        )


#: round-8 model-application entries (hashed-feature classifier, DSIR)
ROUND8 = ["quality_classifier", "dsir_weights"]


@pytest.fixture(scope="module")
def plans8(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND8:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        out[name] = audit(plan.split("== Initial Plan ==")[0])
    return out


def test_model_application_weight_joins_are_broadcast(plans8):
    """The O(dim) weight / log-ratio tables must broadcast — a
    shuffled join here would move the corpus feature stream for a
    model-sized side; and nothing may plan cartesian."""
    a = plans8["quality_classifier"]
    assert "BroadcastHashJoin" in a["joins"], a
    assert "CartesianProduct" not in a["joins"], a
    b = plans8["dsir_weights"]
    assert "CartesianProduct" not in b["joins"], b


def test_semantic_decontaminate_plans_no_join(spark, sf_dir):
    """The eval set is inlined as literal vectors, so the corpus pass
    must plan ZERO join operators and exactly one parquet scan — any
    join here means the model-sized side stopped being inlined and a
    shuffle of the corpus snuck in."""
    import __spark_entry__ as entry

    df = entry.queries()["semantic_decontaminate"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    a = audit(plan.split("== Initial Plan ==")[0])
    assert a["joins"] == "-", a
    assert a["scans"] == 1, a


def test_line_dedup_plan_shape(spark, sf_dir):
    """strip_boilerplate_lines: no cartesian/nested-loop anywhere,
    and no window operator at all — frequency is a partial-aggregated
    groupBy and reassembly a per-doc aggregation, so a window in this
    plan means a serializing regression."""
    import __spark_entry__ as entry

    df = entry.queries()["line_dedup"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "windowspecdefinition(" not in plan, "unexpected window"


def test_dsir_select_uses_distributed_topk(spark, sf_dir):
    """The A-ES selection must plan TakeOrderedAndProject (distributed
    top-k) with NO standalone Sort — a global sort materializing the
    whole scored corpus is the scale regression this pins against.
    The one allowed Window is the post-limit rank over k rows."""
    import __spark_entry__ as entry

    df = entry.queries()["dsir_select"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Window") <= 1
    import re as _re
    assert not _re.search(r"\bSort \[", plan), "global sort crept in"


#: round-9 additions with pinned plan invariants
ROUND9 = ["epoch_expand", "shard_balance", "tokenizer_fertility", "repeat_plan"]


@pytest.fixture(scope="module")
def plans9(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND9:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        out[name] = audit(plan.split("== Initial Plan ==")[0])
    return out


def test_epoch_expand_plan_broadcasts_and_never_windows(plans9):
    """The expansion joins the corpus against the SOURCE-count-sized
    plan frame: that join must broadcast (shuffling the corpus for a
    model-sized side is the classic inversion) and the whole path
    carries no window or cartesian — fan-out is explode-only."""
    a = plans9["epoch_expand"]
    assert "BroadcastHashJoin" in a["joins"], a
    assert "CartesianProduct" not in a["joins"], a
    assert "SortMergeJoin" not in a["joins"], a


def test_shard_balance_is_two_level_aggregate(plans9):
    """Hash sharding + balance: one corpus scan into a partial-agg
    groupBy (materialized once — the per-shard frame feeds both the
    mean and the join, so without the checkpoint the corpus scans
    twice), then a 1-row broadcast mean. The FINAL plan is join
    arithmetic over the checkpointed shard-sized frame: no parquet
    re-scan, no sort-merge, no cartesian."""
    a = plans9["shard_balance"]
    assert a["scans"] <= 1, a
    assert "SortMergeJoin" not in a["joins"], a
    assert "CartesianProduct" not in a["joins"], a


def test_repeat_plan_is_model_sized(plans9):
    """The repetition plan aggregates the corpus once to a per-source
    frame; everything after is arithmetic over that model-sized
    frame — no cartesian, no window."""
    a = plans9["repeat_plan"]
    assert "CartesianProduct" not in a["joins"], a


def test_tokenizer_fertility_single_pass_no_join(plans9):
    """Language key and byte length ride the token-count projection —
    the per-language report must plan with NO join at all (the id
    self-join it replaced shuffled the corpus twice) and exactly one
    corpus scan."""
    a = plans9["tokenizer_fertility"]
    assert a["joins"] == "-", a
    assert a["scans"] == 1, a


#: round-9 search/embedding additions with pinned plan invariants
ROUND9B = [
    "search_stats_manifest",
    "search_extended_stats",
    "search_histogram",
    "search_ranges",
    "search_time_travel",
    "search_significant_terms",
    "embedding_covariance",
    "bitext_margin",
]


@pytest.fixture(scope="module")
def plans9b(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND9B:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        out[name] = audit(plan.split("== Initial Plan ==")[0])
    return out


def test_manifest_stats_scans_nothing(plans9b):
    """The match-all stats panel is MANIFEST-ONLY: the executed plan
    must contain ZERO parquet scans — the entire answer is driver-side
    additive-stat arithmetic over a 1-row local frame. This is the
    whole point of the commit-time [count, decimal-sum] bookkeeping."""
    a = plans9b["search_stats_manifest"]
    assert a["scans"] == 0, a
    assert a["joins"] == "-", a


def test_hit_set_panels_single_scan_no_join(plans9b):
    """extended-stats / numeric-histogram / range aggs are one corpus
    scan into a partial aggregate — no join, no window, no cartesian;
    the single exchange is the aggregation combine."""
    for name in ("search_extended_stats", "search_histogram",
                 "search_ranges"):
        a = plans9b[name]
        assert a["scans"] == 1, (name, a)
        assert a["joins"] == "-", (name, a)


def test_time_travel_scans_only_the_snapshot(plans9b):
    """at_version=2 manifests exactly one segment — the scan count
    must not include the later segment's data."""
    a = plans9b["search_time_travel"]
    assert a["scans"] == 1, a
    assert a["joins"] == "-", a


def test_significant_terms_background_is_metadata(plans9b):
    """The background model reads the stats parquet(s); only the hit
    set is tokenized. Joins stay broadcast (hit-vocab-sized fg against
    vocab-sized bg + two 1-row totals) — a sort-merge join here would
    mean the vocabulary frames are being shuffled like corpora."""
    a = plans9b["search_significant_terms"]
    assert "SortMergeJoin" not in a["joins"], a
    assert "CartesianProduct" not in a["joins"], a
    # documents tokenize pass + all-columns-pruned fg count pass +
    # stats parquet read twice (per-term df + the 1-row totals)
    assert a["scans"] <= 4, a


def test_covariance_single_scan_no_join(plans9b):
    """Exact covariance: the D-sized first moments are collected at
    call time and re-enter as an indexed literal array, so the
    RETURNED plan is ONE corpus scan into the (i,j)-keyed partial
    aggregate — no join at all (a join against the model-sized means
    frame would re-execute that pass once per reference)."""
    a = plans9b["embedding_covariance"]
    assert a["scans"] == 1, a
    assert a["joins"] == "-", a


def test_bitext_margin_broadcast_knn_no_cartesian(plans9b):
    """Both kNN passes broadcast the query side over an un-shuffled
    corpus (BroadcastNestedLoopJoin is the expected cross shape);
    the margin combine joins per-vector aggregate frames — no
    CartesianProduct anywhere."""
    a = plans9b["bitext_margin"]
    assert "CartesianProduct" not in a["joins"], a
    assert "BroadcastNestedLoopJoin" in a["joins"] or \
        "BroadcastHashJoin" in a["joins"], a


def test_quality_ensemble_windows_are_coarse_bucketed(spark):
    """Every rank window inside the ensemble must be partitioned by
    (group, __coarse) — the two-level prefix discipline; a constant-
    group window without __coarse would serialize the whole corpus
    through ONE task per signal."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from toshokan_spark.operators.text import quality_ensemble

    df = spark.createDataFrame(
        [Row(doc_id=i, a=float(i % 7), b=float(i % 3)) for i in range(40)]
    )
    out = quality_ensemble(
        df,
        [("a", F.col("a")), ("b", F.col("b"))],
        id_col="doc_id",
        materialize=False,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    specs = [
        seg.split(")")[0]
        for seg in plan.split("windowspecdefinition(")[1:]
    ]
    assert specs, "ensemble plan lost its rank windows"
    for spec in specs:
        assert "__coarse" in spec, (
            "rank window without __coarse — single-task global sort: "
            + spec
        )


def test_search_deletes_is_one_antifiltered_scan(spark, sf_dir):
    """The tombstone compiles INTO the scan predicate: one parquet
    scan, no join, and the filter reaches the scan (pushed)."""
    import __spark_entry__ as entry

    df = entry.queries()["search_deletes"](spark, sf_dir)
    df.collect()
    a = audit(
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert a["pushed_scans"] >= 1, a


# -- round 10: composed panel / approx twins / sketch-only cardinality


ROUND10 = [
    "search_panel",
    "search_percentiles_approx",
    "search_percentiles_by_approx",
    "search_cardinality_sketch",
]


@pytest.fixture(scope="module")
def plans10(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND10:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        phys = plan.split("== Initial Plan ==")[0]
        out[name] = (audit(phys), phys)
    return out


def test_search_panel_is_one_scan(plans10):
    """The composed panel (facets + histogram + stats + percentiles)
    is GROUPING SETS over ONE scan of the hit set — Expand + one
    partial-aggregated exchange, no join; the per-section CLI used to
    pay one scan per section (VERDICT r9 directive 6)."""
    a, phys = plans10["search_panel"]
    assert a["scans"] == 1, a
    assert a["joins"] == "-", a
    assert "Expand" in phys, "grouping-sets Expand missing from plan"


def test_percentile_approx_twins_single_scan_no_join(plans10):
    """The approx panels keep the exact panels' shape: one scan into
    a partial aggregate, no join — only the aggregation function
    (bounded-memory GK summary) changed."""
    for name in ("search_percentiles_approx",
                 "search_percentiles_by_approx"):
        a, phys = plans10[name]
        assert a["scans"] == 1, (name, a)
        assert a["joins"] == "-", (name, a)
        assert "approx_percentile" in phys or "percentile_approx" in phys, (
            name, "approx aggregate missing from plan")


def test_cardinality_sketch_only_never_counts_distinct(plans10):
    """Sketch-only mode must not pay the exact-distinct exchange of
    the raw key space (VERDICT r9 directive 5): no count(distinct)
    anywhere in the plan — the only dedup is the map-side-partial
    HashAggregate over int64 POLY HASHES feeding the bottom-k."""
    a, phys = plans10["search_cardinality_sketch"]
    assert "count(distinct" not in phys.lower(), phys[:2000]
    # the 1-row bottom-k frame joins back by broadcast, never shuffled
    assert "SortMergeJoin" not in phys, phys[:2000]


# -- round 10 batch 2: ES-aggregation extensions + TPC-H additions


ROUND10B = [
    "search_composite",
    "search_rare_terms",
    "search_filters",
    "search_multi_terms",
    "search_pipeline_aggs",
    "q4_order_priority",
    "q21_suppliers_kept_waiting",
]


@pytest.fixture(scope="module")
def plans10b(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND10B:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        phys = plan.split("== Initial Plan ==")[0]
        out[name] = (audit(phys), phys, plan)
    return out


def test_composite_page_is_takeordered_after_range_prune(plans10b):
    """Composite pagination: the after-key range filter prunes before
    the groupBy and the page cut is a distributed TakeOrdered — a
    billion-bucket terms space is never globally sorted."""
    a, phys, _ = plans10b["search_composite"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert "TakeOrderedAndProject" in phys, "page cut is not top-k"
    assert "Sort " not in phys.replace("TakeOrderedAndProject", ""), (
        "unexpected global sort in the composite page")


def test_rare_terms_single_exchange_no_sort(plans10b):
    """Rare terms: one partial-aggregated exchange on the term key,
    the tail filter on the aggregated frame, no ordering at all."""
    a, phys, _ = plans10b["search_rare_terms"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert "TakeOrderedAndProject" not in phys and "Sort " not in phys, (
        "rare-terms must not rank the bucket table")


def test_filters_agg_is_one_scan_no_join(plans10b):
    """N named filter buckets = ONE conditional-aggregation pass;
    bucket count never adds scans or joins."""
    a, phys, _ = plans10b["search_filters"]
    assert a["scans"] == 1, a
    assert a["joins"] == "-", a


def test_multi_terms_is_takeordered(plans10b):
    a, phys, _ = plans10b["search_multi_terms"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert "TakeOrderedAndProject" in phys, "bucket cut is not top-k"


def test_pipeline_aggs_window_is_post_aggregation(plans10b):
    """The derivative/cumulative/moving windows run over the ALREADY
    AGGREGATED histogram frame: exactly one scan, and the Window node
    sits above the final HashAggregate (bucket-sized input), never
    over raw hits."""
    a, phys, _ = plans10b["search_pipeline_aggs"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    w = phys.find("Window")
    agg = phys.rfind("HashAggregate")
    assert w != -1 and agg != -1 and w < agg, (
        "Window must consume the aggregated histogram (tree prints "
        "top-down: the Window node belongs above the HashAggregate)")


def test_q4_exists_is_semi_join_with_residual(plans10b):
    """TPC-H Q4's correlated EXISTS compiles to ONE left-semi hash
    join on the order key with the lateness inequality as a residual
    — no aggregation of the lineitem side, no cartesian."""
    a, phys, _ = plans10b["q4_order_priority"]
    assert "LeftSemi" in phys, "EXISTS did not become a semi join"
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys


def test_q21_self_joins_stay_keyed(plans10b):
    """Q21's EXISTS/NOT-EXISTS lineitem self-joins must stay hash
    joins on the order key (semi + anti), never nested-loop.

    Checked on the FULL plan string (Initial Plan included): at tiny
    SFs AQE's empty-relation propagation can collapse the final plan
    to an EmptyRelation, which says nothing about the join strategy
    — the initial plan still pins it."""
    a, phys, full = plans10b["q21_suppliers_kept_waiting"]
    assert "LeftSemi" in full and "LeftAnti" in full, full[:1500]
    assert "CartesianProduct" not in full
    assert "BroadcastNestedLoopJoin" not in full


# -- round 10 batch 3: PQ / metric panels / auto histogram


ROUND10C = [
    "knn_pq",
    "search_weighted_avg",
    "search_mad",
    "search_adjacency",
    "search_auto_histogram",
    "c4_line_filters",
]


@pytest.fixture(scope="module")
def plans10c(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND10C:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        phys = plan.split("== Initial Plan ==")[0]
        out[name] = (audit(phys), phys, plan)
    return out


def test_knn_pq_is_one_scan_broadcast_takeordered(plans10c):
    """PQ encode+ADC: the codebook enters as folded literals (no
    codebook join), the query is a 1-row broadcast, the cut is a
    TakeOrdered — the corpus never shuffles before the top-k."""
    a, phys, full = plans10c["knn_pq"]
    assert "CartesianProduct" not in full
    assert "SortMergeJoin" not in full, "corpus shuffled for a 1-row query"
    assert "TakeOrderedAndProject" in full, "PQ cut is not top-k"


def test_metric_panels_single_pass(plans10c):
    """weighted_avg: one conditional-agg scan, no join. adjacency:
    one scan regardless of bucket count. c4 line filters: narrow
    single-scan projection, zero exchanges."""
    a, phys, _ = plans10c["search_weighted_avg"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    a, phys, _ = plans10c["search_adjacency"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    a, phys, _ = plans10c["c4_line_filters"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert a["exchanges"] == 0, a


def test_mad_is_two_pass_broadcast_never_window(plans10c):
    """MAD needs the inner median first — two scans by definition,
    the median re-entering by broadcast; a Window over the hit set
    would serialize it through one task."""
    a, phys, full = plans10c["search_mad"]
    assert a["scans"] == 2, a
    assert "BroadcastHashJoin" in full or "BroadcastNestedLoopJoin" in full, (
        "median must re-enter as a broadcast")
    assert "Window" not in full, "hit-set window in the MAD plan"


def test_auto_histogram_body_is_one_scan(plans10c):
    """The RETURNED auto-histogram plan is the standard single-scan
    histogram (the 1-row min/max rung pick ran at call time)."""
    a, phys, _ = plans10c["search_auto_histogram"]
    assert a["scans"] == 1 and a["joins"] == "-", a


# -- round 12: bucket pipeline stages, web curation, TPC-H partsupp


ROUND12 = [
    "dedup_incremental_url",
    "search_serial_diff",
    "search_histogram_filled",
    "search_highlight",
    "train_quality_classifier",
    "knn_pq_persisted",
    "langid_classifier",
    "search_after",
    "search_bucket_selector",
    "search_bucket_sort",
    "url_dedup",
    "domain_filter",
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q20_potential_promotion",
]


@pytest.fixture(scope="module")
def plans12(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND12:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        phys = plan.split("== Initial Plan ==")[0]
        out[name] = (audit(phys), phys, plan)
    return out


def test_bucket_selector_is_post_aggregation_filter(plans12):
    """bucket_selector = HAVING: the metric filter sits ABOVE the
    final HashAggregate (bucket-sized input) and adds nothing to the
    histogram's single partial-aggregated exchange — no join, no
    window, no extra scan."""
    a, phys, _ = plans12["search_bucket_selector"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert a["exchanges"] == 1, a
    assert "Window" not in phys, "pipeline stage must not use a window"
    f = phys.find("Filter")
    agg = phys.find("HashAggregate")
    assert f != -1 and agg != -1 and f < agg, (
        "bucket filter must sit above the aggregate (tree prints "
        "top-down)")


def test_bucket_sort_page_is_takeordered(plans12):
    """bucket_sort's sort+from/size compiles to one distributed
    TakeOrdered over the aggregated bucket frame — the bucket table
    is never globally sorted."""
    a, phys, _ = plans12["search_bucket_sort"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert "TakeOrderedAndProject" in phys, "page cut is not top-k"
    assert "Sort " not in phys.replace("TakeOrderedAndProject", ""), (
        "unexpected global sort in the bucket page")


def test_url_dedup_single_exchange_partial_agg(plans12):
    """Canonical-URL dedup: one documents scan, map-side partial
    aggregation (duplicates collapse before the single canonical-URL
    exchange), top-k output cut."""
    a, phys, _ = plans12["url_dedup"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert phys.count("HashAggregate") >= 2, (
        "missing map-side partial aggregate")
    assert "TakeOrderedAndProject" in phys, "output cut is not top-k"


def test_domain_filter_is_broadcast_anti_never_shuffles_corpus(plans12):
    """The blocklist membership test is a broadcast LEFT ANTI hash
    join — the corpus side must not sort-merge (which would shuffle
    every document by domain)."""
    a, phys, _ = plans12["domain_filter"]
    assert "BroadcastHashJoin" in phys and "LeftAnti" in phys, (
        "blocklist join is not a broadcast anti join")
    assert "SortMergeJoin" not in phys, "corpus shuffled for the blocklist"


def test_partsupp_queries_broadcast_never_cartesian(plans12):
    """The TPC-H partsupp trio: derived partsupp's 1-row/4-row cross
    joins broadcast (BNLJ against a bounded side — the accepted
    shape); every dim join is a broadcast hash join; nothing
    sort-merges or cartesians."""
    for name in ("q2_min_cost_supplier", "q9_product_type_profit",
                 "q20_potential_promotion"):
        a, phys, _ = plans12[name]
        assert "CartesianProduct" not in phys, (name, a)
        assert "SortMergeJoin" not in phys, (name, a)
        assert "BroadcastHashJoin" in phys, (name, a)
    # Q2's 100-row page is a distributed top-k
    assert "TakeOrderedAndProject" in plans12["q2_min_cost_supplier"][1]


def test_search_after_cursor_pushes_and_cut_is_takeordered(plans12):
    """search_after: the keyset cursor is a range prune BEFORE the
    top-k — the sort-value disjunction reaches the parquet scan's
    PushedFilters (zone maps skip already-paged data) and the page
    cut is one distributed TakeOrdered. No global sort, no offset
    discard."""
    a, phys, _ = plans12["search_after"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert "TakeOrderedAndProject" in phys, "page cut is not top-k"
    assert re.search(r"PushedFilters: \[.*LessThan\(value,500", phys), (
        "cursor range did not push to the scan")


def test_langid_classifier_broadcast_model_no_python(plans12):
    """Trained langid: the weight table re-enters only by broadcast
    (the corpus never shuffles for the model), there is no
    per-row Python (the whole path is JVM column algebra), no
    window, and no sort-merge join anywhere."""
    a, phys, _ = plans12["langid_classifier"]
    assert "BroadcastHashJoin" in phys, "model join is not a broadcast"
    assert "SortMergeJoin" not in phys, phys[:1500]
    assert "Window" not in phys, "unexpected window in the argmax"
    assert "EvalPython" not in phys, "Python crept into the langid path"


def test_knn_pq_persisted_reads_codes_only(plans12):
    """The persisted-codes ADC query must be ONE scan of the 16-byte
    code columns — never the vectors: no join (the LUT is literal),
    a TakeOrdered cut, and no embedding column in any ReadSchema."""
    a, phys, _ = plans12["knn_pq_persisted"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert "TakeOrderedAndProject" in phys, "cut is not top-k"
    assert "embedding" not in phys, "query-time plan touched the vectors"


def test_serial_diff_window_is_post_aggregation(plans12):
    """serial_diff joins the derivative/cumulative windows over the
    ALREADY AGGREGATED bucket frame: one scan, one exchange, the
    Window above the HashAggregate."""
    a, phys, _ = plans12["search_serial_diff"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    w, agg = phys.find("Window"), phys.rfind("HashAggregate")
    assert w != -1 and agg != -1 and w < agg, "window not post-agg"


def test_histogram_fill_spine_is_broadcast(plans12):
    """The empty-bucket spine (a sequence off the histogram's own
    1-row min/max) joins back by BROADCAST — gap filling must never
    sort-merge the bucket frame."""
    a, phys, _ = plans12["search_histogram_filled"]
    assert "BroadcastHashJoin" in phys, "spine join is not broadcast"
    assert "SortMergeJoin" not in phys, phys[:1500]
    assert "Window" not in phys


def test_incremental_url_dedup_no_smj_no_window(plans12):
    """The store probe and the batch-first tiebreak are hash joins
    over batch-sized frames — no sort-merge, no window, no Python."""
    a, phys, _ = plans12["dedup_incremental_url"]
    assert "SortMergeJoin" not in phys, phys[:1500]
    assert "Window" not in phys
    assert "EvalPython" not in phys


def test_train_classifier_broadcast_weights_no_python(plans12):
    """Training + apply: the weight/gradient tables re-enter only by
    broadcast (O(dim) frames), nothing sort-merges, and the whole
    descent is JVM column algebra."""
    a, phys, _ = plans12["train_quality_classifier"]
    assert "BroadcastHashJoin" in phys
    assert "SortMergeJoin" not in phys, phys[:1500]
    assert "EvalPython" not in phys


def test_highlight_is_zero_exchange_projection(plans12):
    """Highlighting is one narrow regex projection over the pushed
    hit scan — no exchange, no join, no Python."""
    a, phys, _ = plans12["search_highlight"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert a["exchanges"] == 0, a
    assert "EvalPython" not in phys


# -- round 13: refine rerank, hard negatives, pagerank, sketch set
#    ops, field collapsing


ROUND13 = [
    "knn_pq_rerank",
    "hard_negatives",
    "audience_overlap",
    "search_collapse",
]


@pytest.fixture(scope="module")
def plans13(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND13:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        phys = plan.split("== Initial Plan ==")[0]
        out[name] = (audit(phys), phys, plan)
    return out


def test_knn_pq_rerank_shortlist_broadcasts_both_cuts_topk(plans13):
    """Refine rerank: the 40-row shortlist re-enters the raw-vector
    scan by BROADCAST (the corpus never shuffles for the refine), the
    only nested-loop is the 1-row query broadcast, and both stage
    cuts are distributed TakeOrdereds — no sort-merge join, no
    global sort."""
    _a, phys, _ = plans13["knn_pq_rerank"]
    assert "BroadcastHashJoin" in phys, "shortlist join is not broadcast"
    assert "SortMergeJoin" not in phys, "corpus shuffled for the refine"
    assert "CartesianProduct" not in phys
    assert phys.count("TakeOrderedAndProject") >= 2, (
        "stage cuts are not distributed top-k")


def test_hard_negatives_anchors_broadcast_rank_is_group_limit(plans13):
    """Hard-negative mining: anchors enter as a broadcast
    nested-loop (model-sized query set, corpus unshuffled), the
    per-anchor top-k executes as WindowGroupLimit (partial top-k
    before the one anchor-keyed exchange), and no Python touches the
    scoring path."""
    _a, phys, _ = plans13["hard_negatives"]
    assert "BroadcastNestedLoopJoin" in phys, "anchors not broadcast"
    assert "SortMergeJoin" not in phys
    assert "WindowGroupLimit" in phys, "rank filter not a group limit"
    assert "EvalPython" not in phys, "Python crept into the scoring"


def test_audience_overlap_sketch_paths_are_topk(plans13):
    """Sketch set ops: every sketch input is a k-row distributed
    TakeOrdered of deduped hashes (the 100 TB path); the single
    sort-merge is the exact-calibration full-outer join, which the
    sketch-only production mode drops."""
    _a, phys, _ = plans13["audience_overlap"]
    assert phys.count("TakeOrderedAndProject") >= 3, (
        "bottom-k sketches are not distributed top-k")
    assert "EvalPython" not in phys
    assert phys.count("SortMergeJoin") <= 1, (
        "only the exact-calibration join may sort-merge")


def test_search_collapse_one_exchange_one_window_pass(plans13):
    """Field collapsing: winner + inner-hit count share ONE
    group-keyed exchange and one window pass, and the collapsed page
    is a distributed TakeOrdered — never a global sort."""
    a, phys, _ = plans13["search_collapse"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert a["exchanges"] == 1, a
    assert "TakeOrderedAndProject" in phys, "page cut is not top-k"
    assert "SortMergeJoin" not in phys


ROUND13B = ["search_suggest", "search_spell_correct", "search_sibling_aggs"]


@pytest.fixture(scope="module")
def plans13b(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND13B:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        phys = plan.split("== Initial Plan ==")[0]
        out[name] = (audit(phys), phys, plan)
    return out


def test_suggest_prefix_filter_before_frequency_exchange(plans13b):
    """Completion suggester: one scan, the prefix filter sits below
    the frequency aggregate (only prefix-matching tokens reach the
    exchange), map-side partial aggregation, top-k output cut."""
    a, phys, _ = plans13b["search_suggest"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert "TakeOrderedAndProject" in phys
    f = phys.find("Filter")
    agg = phys.rfind("HashAggregate")
    assert f != -1 and agg != -1 and f > agg, (
        "prefix filter must sit below the final aggregate "
        "(tree prints top-down)")


def test_spell_correct_no_join_banded_filter(plans13b):
    """Term suggester: vocabulary pass + banded levenshtein are one
    scan with no join at all — the correction never shuffles
    anything but the vocab-sized frequency exchange."""
    a, phys, _ = plans13b["search_spell_correct"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert "TakeOrderedAndProject" in phys


def test_sibling_aggs_two_level_aggregate_no_window(plans13b):
    """Sibling stage: histogram exchange + a 1-row final aggregate —
    no window, no join, no sort; the bucket frame reduces in one
    pass."""
    a, phys, _ = plans13b["search_sibling_aggs"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert "Window" not in phys, "sibling stage must not use a window"


ROUND13C = [
    "search_more_like_this",
    "search_multi_match",
    "search_dis_max",
    "search_function_score",
    "search_terms_set",
    "search_wildcard",
]


@pytest.fixture(scope="module")
def plans13c(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND13C:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        phys = plan.split("== Initial Plan ==")[0]
        out[name] = (audit(phys), phys, plan)
    return out


def test_more_like_this_is_one_scored_scan(plans13c):
    """MLT's scored plan is the proven with_bm25 shape: ONE corpus
    scan joined to a 1-row broadcast stats aggregate, output cut by
    TakeOrdered — the interesting-term probes run as separate
    model-sized jobs and never appear here."""
    a, phys, _ = plans13c["search_more_like_this"]
    assert "CartesianProduct" not in a["joins"], a
    assert phys.count("BroadcastNestedLoopJoin") <= 2, (
        "only the 1-row stats broadcast may cross-join")
    assert "SortMergeJoin" not in phys
    assert "TakeOrderedAndProject" in phys, "top-k must not global-sort"


def test_multi_match_and_dis_max_join_match_sets(plans13c):
    """Per-field / per-clause score projections each scan once and
    broadcast their 1-row stats; the combiner joins MATCH SETS (not
    the corpus) and the final cut is TakeOrdered."""
    for name in ("search_multi_match", "search_dis_max"):
        a, phys, _ = plans13c[name]
        assert "CartesianProduct" not in a["joins"], (name, a)
        assert "TakeOrderedAndProject" in phys, name
        # exactly two scored sides -> at most one non-broadcast join
        assert phys.count("SortMergeJoin") <= 1, name


def test_function_score_single_pass_no_join(plans13c):
    """Decay × factor scoring is pure column algebra: one scan, zero
    joins, TakeOrdered output — and the event_type filter reaches
    the parquet scan."""
    a, phys, _ = plans13c["search_function_score"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert "TakeOrderedAndProject" in phys
    assert re.search(
        r"PushedFilters: \[[^\]]*EqualNullSafe\(event_type,purchase", phys
    ), "event_type filter must push to the scan"


def test_terms_set_zero_exchange(plans13c):
    """terms_set folds the term list into an array_intersect: one
    scan, no join, no exchange at all."""
    a, phys, _ = plans13c["search_terms_set"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert "Exchange" not in phys, "terms_set must not shuffle"


def test_wildcard_composes_with_pushdown(plans13c):
    """The glob clause runs in codegen; the numeric clause still
    reaches the scan as a pushed filter (same composition rule the
    regexp query pins)."""
    a, phys, _ = plans13c["search_wildcard"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(value,250", phys), (
        "value bound must push to the scan")


def test_compiled_term_and_range_leaves_push_to_scan(spark, sf_dir):
    """The query compiler emits pushdown-translatable leaves: raw
    term equality as EqualNullSafe (identical truth table to
    coalesce(=, false)) and range bounds as bare comparisons — both
    must reach the parquet scan's PushedFilters so row-group pruning
    works at index scale. A coalesce() wrapper here would silently
    disable source filtering repo-wide."""
    import __spark_entry__ as entry

    import io
    from contextlib import redirect_stdout

    ev = entry._t(spark, sf_dir, "events")
    df = entry._search(
        ev, entry.EVENTS_CONFIG,
        "event_type:purchase AND value:[100 TO 200}",
    )
    df.collect()
    # formatted mode prints the FULL PushedFilters list (the plain
    # toString truncates long filter lists mid-entry)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    phys = buf.getvalue()
    assert re.search(
        r"PushedFilters: \[[^\]]*EqualNullSafe\(event_type,purchase", phys
    ), phys
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(value,100", phys
    ), phys
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(value,200", phys), phys


ROUND13D = [
    "search_boxplot",
    "search_string_stats",
    "search_t_test",
    "search_diversified_sampler",
]


@pytest.fixture(scope="module")
def plans13d(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND13D:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        phys = plan.split("== Initial Plan ==")[0]
        out[name] = (audit(phys), phys, plan)
    return out


def test_boxplot_two_passes_one_row_broadcast(plans13d):
    """Boxplot: the quartile row re-enters as a 1-row broadcast for
    the whisker pass — no sort-merge join, no cartesian against an
    unbounded side."""
    a, phys, _ = plans13d["search_boxplot"]
    assert "CartesianProduct" not in a["joins"], a
    assert "SortMergeJoin" not in phys
    assert "BroadcastNestedLoopJoin" in phys, "quartile row must broadcast"


def test_string_stats_alphabet_sized_exchange(plans13d):
    """string_stats: the char distribution hash-aggregates map-side
    (partial_count below the exchange) so the shuffle carries at most
    |alphabet| rows per partition; the entropy fold is a 1-row
    post-aggregation projection."""
    a, phys, _ = plans13d["search_string_stats"]
    assert "CartesianProduct" not in a["joins"], a
    assert "SortMergeJoin" not in phys
    assert phys.count("partial_count") >= 1 or "partial" in phys, (
        "char counts must partial-aggregate map-side")


def test_t_test_is_one_conditional_scan(plans13d):
    """t_test: both populations' moments come from ONE conditional-
    aggregation pass — one scan, zero joins."""
    a, phys, _ = plans13d["search_t_test"]
    assert a["scans"] == 1 and a["joins"] == "-", a


def test_diversified_sampler_quota_is_group_limit(plans13d):
    """diversified_sampler: the per-group quota plans as a
    WindowGroupLimit (rank<=K inside the window operator) and the
    final cut is a distributed TakeOrdered — nothing global-sorts
    the hit set."""
    a, phys, _ = plans13d["search_diversified_sampler"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert "WindowGroupLimit" in phys, "quota must push into the window"
    assert "TakeOrderedAndProject" in phys


ROUND13E = ["mmr_rerank", "knn_filtered", "search_categorize_text"]


@pytest.fixture(scope="module")
def plans13e(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND13E:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        phys = plan.split("== Initial Plan ==")[0]
        out[name] = (audit(phys), phys, plan)
    return out


def test_mmr_greedy_stage_is_pool_sized(plans13e):
    """MMR: corpus work is the broadcast-query scan + TakeOrdered
    pool cut; the pandas greedy runs AFTER the pool cut (input is
    pool×pool, never corpus-sized) and every join is a broadcast."""
    a, phys, _ = plans13e["mmr_rerank"]
    assert "CartesianProduct" not in a["joins"], a
    assert "SortMergeJoin" not in phys
    assert "TakeOrderedAndProject" in phys, "pool cut must be top-k"
    assert "FlatMapGroupsInPandas" in phys, "greedy must be the Arrow stage"
    # the pandas stage consumes the limited pool, not the scan:
    # TakeOrdered appears below it in the printed tree
    assert phys.find("FlatMapGroupsInPandas") < phys.find(
        "TakeOrderedAndProject"
    )


def test_knn_filtered_prefilters_at_scan(plans13e):
    """Filtered vector search: the label filter reaches the parquet
    scan (pre-filter, the recall-correct ES kNN semantics) and the
    only cross shape is the 1-row query broadcast."""
    a, phys, _ = plans13e["knn_filtered"]
    assert "CartesianProduct" not in a["joins"], a
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(label,3", phys), (
        "label pre-filter must push to the scan")
    assert "TakeOrderedAndProject" in phys


def test_categorize_text_one_signature_exchange(plans13e):
    """categorize_text: one scan, the signature groupBy partial-
    aggregates map-side, output cut is TakeOrdered."""
    a, phys, _ = plans13e["search_categorize_text"]
    assert a["scans"] == 1 and a["joins"] == "-", a
    assert "TakeOrderedAndProject" in phys


ROUND13F = [
    "search_cumulative_cardinality",
    "search_ks_test",
    "search_ip_range",
]


@pytest.fixture(scope="module")
def plans13f(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in ROUND13F:
        df = qs[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        phys = plan.split("== Initial Plan ==")[0]
        out[name] = (audit(phys), phys, plan)
    return out


def test_cumulative_cardinality_first_seen_shape(plans13f):
    """cumulative_cardinality: the first-seen decomposition — one
    key-space exchange (the honest cardinality cost) whose histogram
    broadcast-joins the bucket spine; NO per-bucket distinct union,
    no sort-merge join."""
    a, phys, _ = plans13f["search_cumulative_cardinality"]
    assert "CartesianProduct" not in a["joins"], a
    assert "SortMergeJoin" not in phys
    assert "BroadcastHashJoin" in phys, "spine join must broadcast"
    assert "expand" not in phys.lower(), "no distinct-expand fallback"


def test_ks_test_one_conditional_scan(plans13f):
    """KS: both populations' bucket counts from ONE conditional scan;
    the ECDF window runs over the metadata-sized bucket frame and the
    totals re-enter as a 1-row broadcast."""
    a, phys, _ = plans13f["search_ks_test"]
    assert "CartesianProduct" not in a["joins"], a
    assert "SortMergeJoin" not in phys
    assert phys.count("Scan parquet") <= 2, a


def test_ip_range_compiles_on_the_hex_key(plans13f):
    """The ip range must compile against the IPv6-mapped hex key
    (totally ordered — a dotted-quad string compare would misorder
    the cross-octet range), and the term clause must push to the
    scan BELOW the Arrow key stage so only matching rows pay the
    Python crossing."""
    a, phys, _ = plans13f["search_ip_range"]
    # the bounds are the ipv6-mapped literals of 10.3.200.0 / 10.4.55.255
    assert "ffff0a03c800" in phys, "lo bound must be the hex key literal"
    assert "ffff0a0437ff" in phys, "hi bound must be the hex key literal"
    assert a["joins"] == "-", a
    arrow = phys.find("ArrowEvalPython")
    scan_filter = phys.find("<=> purchase")
    assert arrow != -1 and scan_filter != -1 and scan_filter > arrow, (
        "term filter must evaluate below the Arrow key stage")


def test_phrase_suggest_counts_stay_distributed(spark, sf_dir):
    """phrase_suggest: the LM count tables are restricted to the
    candidate pairs BEFORE broadcasting (the bigram table is
    vocabulary-squared-sized at corpus scale) — every join in the
    scoring chain must be a broadcast, nothing sort-merges."""
    import __spark_entry__ as entry

    df = entry.queries()["search_phrase_suggest"](spark, sf_dir)
    df.collect()
    phys = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    assert "SortMergeJoin" not in phys
    assert "CartesianProduct" not in phys
    assert "BroadcastHashJoin" in phys
    assert "TakeOrderedAndProject" in phys


def test_span_near_plan_is_linear(spark, sf_dir):
    """span_near (r14 rebuild): the executed plan must contain the
    single-pass aggregate fold, NOT the r13 staged-positions shape
    whose pushed filter re-tokenized the document per probed
    position. Pins: zero `element_at` probes (the quadratic marker)
    and a bounded tokenize count — the fold tokenizes once per
    expression evaluation (filter + project), never per position."""
    import __spark_entry__ as entry

    df = entry.queries()["search_span_near"](spark, sf_dir)
    df.collect()
    phys = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    assert "element_at(" not in phys, "positional re-probe is back"
    n_split = phys.count("split(")
    assert 1 <= n_split <= 4, (
        f"tokenize appears {n_split}x — expected a constant count "
        "(one per expression evaluation), not one per position"
    )
    assert "CartesianProduct" not in phys
    assert phys.count("Exchange") == 0, "span_near must be shuffle-free"


def test_more_like_this_reads_manifest_stats(spark, sf_dir):
    """The more_like_this DRIVER ENTRY must take the manifest-stats
    path (VERDICT r13 directive 5): the returned plan reads the
    commit-time ``_stats`` parquets (fixed read schema) for N/Σdl/df
    and runs exactly ONE corpus scan — the scoring pass. The seed
    fetch and term-selection df probe are separate model-sized jobs
    that also answer from the stats parquets (asserted indirectly:
    were they corpus aggs, the oracle timing gate and this scan count
    would both break)."""
    import __spark_entry__ as entry

    df = entry.queries()["search_more_like_this"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    n_stats = plan.count("struct<field:string,term:string")
    assert n_stats == 1, "entry did not read the stats parquets"
    assert plan.count("FileScan") == 2, (
        "expected exactly one data scan + one stats scan"
    )


def test_multi_match_reads_per_field_manifest_stats(spark, sf_dir):
    """multi_match DRIVER ENTRY over the index path: each scored
    field reads its OWN rows from the commit-time ``_stats`` parquets
    (two stats scans, one per field) and runs one corpus scan per
    field — no full-corpus tokenize+agg for statistics anywhere in
    the plan."""
    import __spark_entry__ as entry

    df = entry.queries()["search_multi_match"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    n_stats = plan.count("struct<field:string,term:string")
    assert n_stats == 2, f"expected 2 per-field stats scans, saw {n_stats}"
    assert plan.count("FileScan") == 4, (
        "expected 2 data scans (one per scored field) + 2 stats scans"
    )


def test_matrix_stats_is_one_scan(spark, sf_dir):
    """matrix_stats: all k(k+1)/2 moment sums land in ONE aggregate
    over ONE scan, and the pair matrix derives from that single row
    via explode — a per-pair union would re-plan the aggregation per
    branch (3 scans observed before the fix)."""
    import __spark_entry__ as entry

    df = entry.queries()["search_matrix_stats"](spark, sf_dir)
    df.collect()
    phys = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    assert phys.count("FileScan") == 1
    assert phys.count("Union") == 0


def test_boosting_tokenizes_once(spark, sf_dir):
    """boosting_query (r15 fix, VERDICT r14 directive 6): the
    negative-match predicate and the BM25 scorer must read the SAME
    staged token array (``with_bm25(tokens_col=...)``) — the r14
    shape tokenized every row twice (once for ``arrays_overlap``,
    once inside the scorer), a full second pass over every text cell
    at corpus scale. Pin: the executed plan evaluates tokenize at
    most twice (one staged expression x filter+project evaluation),
    not 2x that."""
    import __spark_entry__ as entry

    df = entry.queries()["search_boosting"](spark, sf_dir)
    df.collect()
    phys = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    n_split = phys.count("split(")
    assert 1 <= n_split <= 2, (
        f"tokenize appears {n_split}x — the negative predicate must "
        "reuse the scorer's token column, not re-tokenize"
    )
    assert "CartesianProduct" not in phys


def test_rank_distance_pinned_single_tokenize_audit(spark, sf_dir):
    """The rest of the r14 relevance family (rank_feature,
    distance_feature, pinned) each call the scorer exactly once and
    stage no token-array predicate of their own, so their plans must
    show the same bounded tokenize count as boosting — this is the
    VERDICT r14 directive-6 audit, pinned so a future feature
    expression can't quietly add a second per-row tokenize."""
    import __spark_entry__ as entry

    # pinned's bound is 3: its matched-pins anti-join branch
    # re-evaluates the scorer, but over the id-IN-pruned scan — a
    # pin-list-sized row set, not a second corpus pass
    for name, bound in (("search_rank_feature", 2),
                        ("search_distance_feature", 2),
                        ("search_pinned", 3)):
        df = entry.queries()[name](spark, sf_dir)
        df.collect()
        phys = df._jdf.queryExecution().executedPlan().toString().split(
            "== Initial Plan ==")[0]
        n_split = phys.count("split(")
        assert 1 <= n_split <= bound, f"{name}: tokenize appears {n_split}x"


def test_frequent_item_sets_no_corpus_self_join(spark, sf_dir):
    """frequent_item_sets: pairs HOF-explode from each transaction's
    sorted item array — the executed plan must contain no join at all
    (a corpus self-join on group is the shape this operator exists to
    avoid) and exactly one scan."""
    import __spark_entry__ as entry

    df = entry.queries()["search_frequent_item_sets"](spark, sf_dir)
    df.collect()
    phys = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    assert "SortMergeJoin" not in phys
    assert "ShuffledHashJoin" not in phys
    assert "CartesianProduct" not in phys
    assert phys.count("FileScan") == 1


def test_change_point_one_scan_bounded_window(spark, sf_dir):
    """change_point: ONE corpus scan builds the bucket series; the
    split search is windows + one argmax aggregate over the
    bucket-count-bounded frame (the deliberate bounded pass every
    pipeline agg takes), never a second scan or a join."""
    import __spark_entry__ as entry

    df = entry.queries()["search_change_point"](spark, sf_dir)
    df.collect()
    phys = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    assert phys.count("FileScan") == 1
    assert "SortMergeJoin" not in phys
    assert "BroadcastNestedLoopJoin" in phys or \
        "CartesianProduct" not in phys  # 1-row totals broadcast only


def test_moving_fn_and_normalize_one_scan(spark, sf_dir):
    """moving_fn / normalize (r16): ONE corpus scan builds the date
    histogram; every window stage runs over the bucket-count-bounded
    frame (the pipeline_histogram discipline) — no second scan, no
    join, no corpus-sized exchange beyond the histogram groupBy."""
    import __spark_entry__ as entry

    for name in ("search_moving_fn", "search_normalize"):
        df = entry.queries()[name](spark, sf_dir)
        df.collect()
        phys = df._jdf.queryExecution().executedPlan().toString().split(
            "== Initial Plan ==")[0]
        assert phys.count("FileScan") == 1, name
        assert "SortMergeJoin" not in phys, name
        assert "CartesianProduct" not in phys, name


def test_local_checkpoint_runs_through_aqe(spark):
    """``finalize_cached`` and the curate stages materialize with a
    bare eager ``localCheckpoint()`` on the premise that the
    checkpoint executes the ADAPTIVE plan: a join + aggregate over 64
    shuffle partitions must come back as AQE's final plan with its
    shuffle reads coalesced to a handful of partitions. A Spark
    upgrade that checkpoints the non-adaptive plan fails here instead
    of silently running every pair operator at full shuffle width."""
    from pyspark.sql import functions as F

    keys = ("spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force a shuffle join
    try:
        a = spark.range(2000).select((F.col("id") % 97).alias("k"), F.col("id").alias("v"))
        b = spark.range(97).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        df = a.join(b, "k").groupBy("w").agg(F.sum("v").alias("s"))
        cp = df.localCheckpoint()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan isFinalPlan=true" in plan, plan
        assert "AQEShuffleRead coalesced" in plan, plan
        assert cp.rdd.getNumPartitions() <= 4
        assert cp.count() == 97
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
