"""Physical-plan shape regression tests (SURVEY §4 / 100 TB discipline).

Correctness tests can't catch a plan that silently starts shuffling the
fact table or stops pushing a filter — these pin the plan properties the
scale design depends on. Counts are textual on the non-AQE plan (stable
across runs; the AQE printer hides codegen/exchange structure inside
query stages).
"""

from __future__ import annotations

import re

import pytest

from audience_finder_pro_spark.queries import QUERIES


@pytest.fixture()
def no_aqe(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def _plan(spark, name, sf):
    # bypass the prepared-plan cache: a memoized DataFrame may have been
    # planned under AQE by an earlier test, hiding the structure under test
    fn = QUERIES[name]
    fn = getattr(fn, "__wrapped__", fn)
    return fn(spark, sf)._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_pushed_to_scan(spark, sf_smoke, no_aqe):
    plan = _plan(spark, "q01_pricing_summary", sf_smoke)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan


def test_q01_single_exchange_partial_agg(spark, sf_smoke, no_aqe):
    # The plain TPC-H-Q1 constituent: exactly one shuffle, map-side combined.
    plan = _plan(spark, "q01_pricing_plain", sf_smoke)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_q01_merged_carrier_three_exchanges(spark, sf_smoke, no_aqe):
    """Merge #17 carrier = plain leg (1 exchange) ∪ salted leg (two-level
    agg: salt shuffle + final shuffle = 2). Anything beyond 3 means a leg
    lost its map-side combine or the union added a shuffle."""
    plan = _plan(spark, "q01_pricing_summary", sf_smoke)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 3
    assert "Union" in plan


def test_q02_star_join_all_broadcast_locally(spark, sf_smoke, no_aqe):
    """At fixture scale every dim fits the broadcast threshold: the fact side
    must not shuffle for any join in either leg of the merged carrier
    (merge #16: 4 star-join BHJs on the df leg + 2 on the sql leg)."""
    plan = _plan(spark, "q02_revenue_by_nation", sf_smoke)
    assert len(re.findall(r"BroadcastHashJoin", plan)) == 6
    assert "SortMergeJoin" not in plan


def test_q03_heap_topk_not_full_sort(spark, sf_smoke, no_aqe):
    plan = _plan(spark, "q03_top_orders_plain", sf_smoke)
    assert "TakeOrderedAndProject" in plan


def test_q03_merged_carrier_keeps_heap_topk(spark, sf_smoke, no_aqe):
    # Merge #18 carrier: the 'top' leg must still be a heap top-k (no full
    # sort) and the 'cross' leg a nested-loop over the 5-row region dim.
    plan = _plan(spark, "q03_top_orders", sf_smoke)
    assert "TakeOrderedAndProject" in plan
    assert "Union" in plan


def test_q04_exists_becomes_semi_join(spark, sf_smoke, no_aqe):
    plan = _plan(spark, "q04_semi_anti_join", sf_smoke)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_signal_scan_no_join_for_keyword_match(spark, sf_smoke, no_aqe):
    """The plan-time-constant keyword match must stay a projection: the only
    joins allowed are the comment⇄post attach (and whatever AQE turns them
    into) — no BroadcastNestedLoopJoin / CartesianProduct from keywords."""
    plan = _plan(spark, "signal_scan", sf_smoke)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_signal_scan_month_time_window_pushed_to_scan(spark, sf_smoke, no_aqe):
    """The time_filter window is rewritten onto the monotone post_id key
    (plans/audience._min_post, bound as :min_post) and must reach the
    parquet scan as a PushedFilter on doc_id — a created_ts filter on the
    derived column would not push."""
    plan = _plan(spark, "signal_scan_month", sf_smoke)
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(doc_id,", plan), plan[:800]


def test_ann_lsh_no_interpreted_hyperplane_regen(spark, sf_smoke, no_aqe):
    """Sign-LSH hyperplanes are plan-time constants: bucketing must not
    regenerate them per row via sequence()+xxhash64 inside HOF lambdas
    (the round-1 form paid dim×bits×tables interpreted calls per row).
    The only remaining lambdas allowed are the exact-cosine rerank folds
    over the (small) candidate set."""
    plan = _plan(spark, "ann_lsh_topk", sf_smoke)
    assert "xxhash64" not in plan, "hyperplane hash evaluated per row"
    assert "sequence(" not in plan, "per-row hyperplane index generation"


def test_column_pruning_reaches_scan(spark, sf_smoke, no_aqe):
    """q13 (rollup + gsets + pivot + cube legs) touches 4 of lineitem's 16
    columns, 3 of orders' 9, 2 of customer's 8 — every scan must prune to
    its leg's referenced columns, never read the full table."""
    plan = _plan(spark, "q13_rollup_gsets", sf_smoke)
    want_by_prefix = {
        "l_": {"l_quantity", "l_returnflag", "l_linestatus", "l_extendedprice"},
        "o_": {"o_custkey", "o_orderpriority", "o_totalprice"},
        "c_": {"c_custkey", "c_mktsegment"},
    }
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan[:500]
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",")}
        prefix = next(iter(cols))[:2]
        assert cols <= want_by_prefix[prefix], cols


def test_mixture_split_is_shuffle_free_pruned_projection(spark, sf_smoke, no_aqe):
    """The mixture/split ASSIGNMENT must stay ONE codegen projection: no
    exchange, and the scan reads only the two referenced columns. The
    declared query grew an 'eval' leg in the r8 merge (which legitimately
    pays the stratified window's exchange), so the invariant is asserted
    on the assignment operators directly — the same expressions the
    merged frame's 'mixture' rows carry."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.sampling import hash_split, mixture_sample
    from audience_finder_pro_spark.session import load_table

    docs = load_table(spark, sf_smoke, "documents")
    weight = F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit(1.0)
    ).otherwise(F.lit(0.3))
    out = mixture_sample(hash_split(docs, "doc_id"), weight, "doc_id").select(
        "doc_id", "source", "split", "sampled"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "sampling must not shuffle"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:500]
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert set(cols) == {"doc_id", "source"}


def test_quality_signals_single_tokenize(spark, sf_smoke, no_aqe):
    """All repetition metrics derive from ONE zip-sliced token stream in
    ONE pipeline with no window and no sort: gram_stream's explode plus
    the (kind, gram) stack are the only two Generates, and the only wide
    exchanges are the two-level aggregate's own — both fed by map-side
    partial aggregation, so the wire carries combined (doc, kind, gram)
    counts, never raw token rows. (The r5 localCheckpoint form paid 6
    full-stream shuffles; the first r6 form kept a window that shuffled
    and sorted every token row.)"""
    plan = _plan(spark, "quality_signals", sf_smoke)
    assert plan.count("Generate explode") == 2, plan[:800]
    assert plan.count("Generate posexplode") == 0, plan[:800]
    assert "Window" not in plan and "Sort" not in plan, plan[:800]
    assert plan.count("Scan ExistingRDD") == 0, plan[:800]
    wide = re.findall(
        r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)", plan
    )
    assert wide == ["hashpartitioning", "hashpartitioning"], wide


def test_ann_ivf_probe_declared_query_prunes_buckets(spark, sf_smoke, no_aqe):
    """The declared serving-path query must keep static bucket pruning:
    its corpus scan reads only the probed lists' buckets."""
    plan = _plan(spark, "ann_ivf_probe", sf_smoke)
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, "bucketed scan must report bucket pruning"
    assert int(m.group(1)) < int(m.group(2)) == 32


def test_ann_topk_window_is_two_stage(spark, sf_smoke, no_aqe):
    """The exact top-k rerank must keep Spark's InferWindowGroupLimit
    two-stage shape: a map-side WindowGroupLimit(Partial) BEFORE the
    exchange prunes each input partition to k rows per query, so the
    shuffle carries ≤ n_partitions × n_queries × k rows — never the full
    n_queries × corpus scored set (op/similarity._exact_topk)."""
    plan = _plan(spark, "ann_cosine_topk", sf_smoke)
    assert re.search(r"WindowGroupLimit .*row_number.*Partial", plan), plan[:1200]
    assert re.search(r"WindowGroupLimit .*row_number.*Final", plan)


def test_ann_ivf_probe_window_reuses_join_partitioning(spark, sf_smoke, no_aqe):
    """The probe's broadcast join preserves hashpartitioning(query_id)
    from the probe-selection window, so the final top-k window needs NO
    second exchange — exactly one hashpartitioning exchange in the whole
    serving plan (regression: an opaque barrier between join and window,
    e.g. a mapInPandas pre-prune, forces a second one)."""
    plan = _plan(spark, "ann_ivf_probe", sf_smoke)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_pack_documents_no_single_partition_window(spark, sf_smoke, no_aqe):
    """The global packing stream must run as the distributed two-pass
    prefix sum (operators/packing.pack_sequences): no Exchange
    SinglePartition anywhere in the plan — the bin_pos window hashes on
    the high-cardinality bin_id instead."""
    plan = _plan(spark, "pack_documents", sf_smoke)
    assert "Exchange SinglePartition" not in plan
    assert "MapInPandas" in plan  # the narrow offset+cumsum pass


def test_text_profile_single_projection(spark, sf_smoke, no_aqe):
    """The merged text tier (text_stats + lang_id) must keep both
    constituents' zero-shuffle shape: one scan, no join, no aggregate,
    no exchange beyond the fan_out parallelism shim."""
    plan = _plan(spark, "text_profile", sf_smoke)
    assert "Exchange hashpartitioning" not in plan, plan[:800]
    assert "Join" not in plan
    assert "Aggregate" not in plan
    assert plan.count("ReadSchema") == 1
