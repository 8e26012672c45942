"""Physical-plan regression tests: pin the scale-critical plan
properties (no nested-loop joins on big relations, parquet pushdown,
window group-limit pruning) so a future refactor can't silently trade
a hash join for a BroadcastNestedLoopJoin — the class of regression
that is invisible at fixture scale and fatal at 100 TB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.plan_guard import assert_no_lambda_resplit
from tiki_data_pipeline_spark.io import load_table
from tiki_data_pipeline_spark.operators import curation as CU
from tiki_data_pipeline_spark.operators import dedup as DD
from tiki_data_pipeline_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


# Queries over SF-scaled relations where an accidental nested-loop or
# cartesian plan would be a 100 TB scale killer. Fixture-dim queries
# (category_*) are exempt: their inputs are bounded by construction.
NO_NESTED_LOOP = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "vw_top_products_revenue",
    "doc_simhash_near_dup",  # pigeonhole equi-join, not an all-pairs scan
    "doc_minhash_lsh_near_dup",
    "doc_ngram_jaccard_pairs",
    "embedding_near_dup_lsh",
    "doc_decontamination",
    "corpus_curation_pipeline",
    "latest_order_per_customer",
    "doc_pii_redaction",
    "events_windowed_topk",
    "daily_revenue_7d_ma",
    "embedding_ann_index_topk",
]


@pytest.mark.parametrize("name", NO_NESTED_LOOP)
def test_no_nested_loop_join(spark, name):
    plan = _plan(spark, name)
    assert "BroadcastNestedLoopJoin" not in plan, name
    assert "CartesianProduct" not in plan, name


# Queries where a nested-loop/cartesian IS the design because the
# nested side is BOUNDED by construction (a handful of query ids,
# k centroids, 5 price segments, 1-row KPI blocks) — the corpus side
# is still scanned exactly once.
BOUNDED_SIDE_NESTED_LOOP = {
    "dim_price_segment_build",     # 1-row crossJoin
    "embedding_topk_cosine",       # broadcast query set × corpus (brute force)
    "embedding_near_dup_pairs",    # bounded block-pair non-equi join
    "embedding_ann_ivf_topk",      # query × k-centroid crossJoin
    "embedding_knn_classify",      # composes brute-force top-k
}


def test_no_unexpected_nested_loops_across_entire_registry(spark):
    """Registry-wide sweep: any new query that plans a nested-loop or
    cartesian join on an unbounded side must either be fixed or added
    to the documented allowlist above."""
    unexpected = []
    for name, fn in QUERIES.items():
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        if (
            "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
        ) and name not in BOUNDED_SIDE_NESTED_LOOP:
            unexpected.append(name)
    assert unexpected == [], unexpected


def test_price_segment_range_join_is_compiled_away(spark):
    """The segment range join is non-equi by nature; since r9 it is
    compiled to a codegen'd CASE chain over the bounded interval dim
    (operators/rangejoin.py) — NO nested-loop operator may appear,
    and the fact must still enter via a hash equi-join on l_partkey."""
    for name in ("vw_price_segment_analysis", "price_segment_join"):
        plan = _plan(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    plan = _plan(spark, "vw_price_segment_analysis")
    assert any(
        "Join" in l and "l_partkey" in l and "NestedLoop" not in l
        for l in plan.splitlines()
    )


def test_parquet_filter_pushdown(spark):
    """A filtered fact scan must reach parquet as PushedFilters, and
    the scan schema must be pruned to the referenced columns."""
    plan = _plan(spark, "q5_region_revenue")
    assert "PushedFilters: [" in plan
    # lineitem scan must not read all 16 columns for this 4-column use
    for line in plan.splitlines():
        if "ReadSchema" in line and "l_orderkey" in line:
            assert "l_comment" not in line and "l_shipmode" not in line


def test_window_group_limit_pruning(spark):
    """rank-filter top-N must compile to WindowGroupLimit so each map
    task pre-prunes to its local top-N before the stratum shuffle."""
    assert "WindowGroupLimit" in _plan(spark, "doc_sample_fixed_per_stratum")


@pytest.mark.parametrize("name", ["dim_product_build", "dim_seller_build"])
def test_sf_scaled_dims_have_no_global_window(spark, name):
    """SF-scaled dim surrogate keys come from the distributed
    two-phase rank — a window with an EMPTY partition spec collapses
    the whole dim into one task and must never reappear."""
    plan = _plan(spark, name)
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "_pid" in line, f"global (unpartitioned) window in {name}: {line}"


# (query, max hash-partition exchanges): one shuffle per groupBy/window
# family plus AQE coalescing — a higher count means someone added an
# accidental repartition or turned a broadcast join into a shuffle join.
EXCHANGE_BUDGETS = [
    ("q1_pricing_summary", 1),       # one agg shuffle
    ("topk_brands", 1),              # one count shuffle (top-k via sort)
    ("vw_daily_sales", 2),           # agg + COUNT(DISTINCT) second phase
    ("order_status_breakdown", 1),   # one agg shuffle
    ("doc_token_counts", 0),         # narrow map: NO shuffle at all
    ("doc_text_stats", 0),           # narrow map
    ("doc_pii_redaction", 0),        # narrow map (+ fixture union)
    ("events_windowed_topk", 2),     # agg + window rank
    ("daily_revenue_7d_ma", 2),      # per-day agg + range window
]


@pytest.mark.parametrize("name,budget", EXCHANGE_BUDGETS)
def test_exchange_budgets(spark, name, budget):
    plan = _plan(spark, name)
    n = plan.count("Exchange hashpartitioning")
    assert n <= budget, f"{name}: {n} hash exchanges (budget {budget})\n{plan}"


def test_exchange_count_exact_dedup(spark):
    """Exact dedup is ONE hash-aggregate shuffle — more exchanges mean
    someone added an accidental repartition or join."""
    plan = _plan(spark, "doc_exact_dedup")
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_incremental_dedup_plan_prunes_and_broadcasts(spark):
    """The incremental dedup serve plan must (a) scan the persisted
    index exactly once with dynamic partition pruning on band, and
    (b) broadcast the batch band-signature side — the shape that keeps
    a corpus-scale store from ever being shuffled."""
    plan = _plan(spark, "doc_incremental_near_dup")
    assert "BroadcastHashJoin" in plan, plan
    # the index FileScan itself must carry the dynamic band filter
    index_scans = [
        l
        for l in plan.splitlines()
        if "FileScan" in l and "band" in l and "dynamicpruning" in l
    ]
    assert index_scans, plan


# Generators over PROJECTED ATTRIBUTES trip InferFiltersFromGenerate:
# Spark infers a size()>0 filter with the generating expression
# INLINED and pushes it below the fan-out repartition — the whole
# corpus then evaluates the expensive expression (md5 token hashing,
# gram construction) on ONE core before fanning out. Round 10's bench
# gate caught doc_duplicate_span_stats at 31× from exactly this; the
# fix is to hand generators the EXPRESSION (or the _outer variant).
# This test pins the class: no hash/tokenize work may appear inside a
# Filter in the corpus-scan region of these plans.
EXPENSIVE_FILTER_MARKERS = ("md5(", "xxhash64(", "aggregate(slice(")
NO_EXPENSIVE_INFERRED_FILTER = [
    "doc_duplicate_span_stats",
    "doc_span_removal",
    "doc_span_removal_variable",
    "doc_dsir_weights",
    "doc_dsir_sample",
]


# The span family hashes each corpus token exactly ONCE (r14): the
# per-doc window-hash array is materialized via localCheckpoint
# (dedup._span_warr) and every consumer — the df aggregate, the
# coverage/occurrence stream, the cut tail — reads the stored
# attribute. Pin it structurally: the SERVE plan of each span query
# must contain zero hash work (the expensive pipeline lives entirely
# inside the one checkpointed pass, which downstream plans see as a
# LogicalRDD scan). This supersedes the r10–r13 ReusedExchange pin on
# the stats query: the shared (doc, hash, n_occ) inventory exchange
# it guarded shuffled the FULL occurrence stream (95.9 s of the
# 5M-doc stats run) and is gone.
SINGLE_HASH_PASS = [
    "doc_duplicate_span_stats",
    "doc_span_removal",
    "doc_span_removal_variable",
    "doc_incremental_span_removal",
]


@pytest.mark.parametrize("name", SINGLE_HASH_PASS)
def test_span_serve_plan_hashes_nothing(spark, name):
    df = QUERIES[name](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    bad = [
        m
        for m in ("md5(", "xxhash64(", "aggregate(slice(", "roll(")
        if m in plan
    ]
    assert bad == [], f"{name}: hash work leaked into the serve plan: {bad}"


@pytest.mark.parametrize("name", NO_EXPENSIVE_INFERRED_FILTER)
def test_no_expensive_expression_inside_filter(spark, name):
    df = QUERIES[name](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    bad = [
        line.strip()[:160]
        for line in plan.splitlines()
        if "Filter " in line
        and any(m in line for m in EXPENSIVE_FILTER_MARKERS)
    ]
    assert bad == [], f"{name}: expensive work inlined into a Filter: {bad}"


def _docs(spark):
    return load_table(spark, SF, "documents")


def _pipeline_repetition(spark):
    """The corpus pipeline's repetition stage: an anti-join against the
    flagged ids, so the flag filter is pushed below the projections."""
    docs = _docs(spark)
    flagged = CU.repetition_stats(docs).filter(F.col("flag_repetitive") == 1)
    return docs.join(flagged.select("doc_id"), "doc_id", "left_anti")


def _dsir_bucketize(hash_mode):
    def build(spark):
        prep, buckets = CU._dsir_featurizer(hash_mode, 1024, "text")
        return prep(_docs(spark), F.col("doc_id")).select("doc_id", buckets())

    return build


# Token-array operators whose lambdas must never re-tokenize the text
# per element (tests/plan_guard.py). The filtered and anti-join forms
# matter most: a filter on a derived column is pushed below the
# projection that materialized the token array and inlines its split.
NO_LAMBDA_RESPLIT = {
    "pipeline_repetition": _pipeline_repetition,
    "doc_repetition_filter": lambda s: QUERIES["doc_repetition_filter"](s, SF),
    "corpus_curation_pipeline": (
        lambda s: QUERIES["corpus_curation_pipeline"](s, SF)
    ),
    "dsir_bucketize_md5": _dsir_bucketize("md5"),
    "dsir_bucketize_xxhash64": _dsir_bucketize("xxhash64"),
    "filtered_word_entropy": lambda s: CU.word_entropy(_docs(s)).filter(
        F.col("entropy_bits") < 3
    ),
    "filtered_shingles": lambda s: DD.shingles(_docs(s)).filter(
        F.col("shingle").startswith("a")
    ),
}


@pytest.mark.parametrize("name", sorted(NO_LAMBDA_RESPLIT))
def test_no_per_element_retokenize(spark, name):
    assert_no_lambda_resplit(NO_LAMBDA_RESPLIT[name](spark))
