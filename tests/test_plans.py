"""Physical-plan regression guard: the critical plan shapes from
scripts/explain_audit.py, enforced in the test suite at sf0.001 so a
rewrite that silently degrades a plan (lost broadcast, nested-loop
fallback, extra shuffle, un-fused Python stages) fails CI, not just the
out-of-band audit script."""

from __future__ import annotations

import pytest

from vector_db_ingestor_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"

# (key, expectation) — a fast, high-signal subset of explain_audit.AUDITS;
# sf0.001 keeps each case sub-second.  AQE may legitimately differ at
# tiny scale for size-based choices (broadcast thresholds), so only
# size-independent shapes are pinned here.
CASES = [
    ("q_sql_tpch_q4", "semi_join"),
    ("q_sql_tpch_q17", "no_nested_loop"),
    ("q_sql_tpch_q19", "no_nested_loop"),
    ("q_vector_fns", "no_shuffle"),
    ("q_vec_quantize", "no_shuffle"),
    ("q_pii_redact", "no_shuffle"),
    ("q_sort_limit", "take_ordered"),
    ("q_topk_cosine", "take_ordered"),
    ("q_ingest_pipeline", "fused_python"),
    ("q_chunk_explode", "fused_python"),
    # one Arrow fingerprint pass over the corpus: the band self-join
    # must reuse its exchange (shuffle_hash pin) and the inferred
    # join-key null filter must not re-evaluate the kernel
    # (coalesce(fp, 0) — round-5 fix, operators/dedup.py)
    ("q_dedup_simhash", "fused_python"),
    # round-5 retrieval suite: both hybrid channel shortlists are heap
    # top-n; the MMR greedy is ONE FlatMapGroupsInPandas over the
    # checkpointed shortlist (its TakeOrdered scan runs once in the
    # checkpoint lineage, outside the final plan string)
    ("q_hybrid_rrf", "take_ordered"),
    ("q_topk_mmr", "fused_python"),
    # the whole 3-probe batch re-ranks through ONE grouped Arrow node
    ("q_topk_mmr_batch", "fused_python"),
    ("q_vec_pq_adc", "take_ordered"),
    # the final encode (post-training) is a projection riding the scan
    ("q_vec_pq_train", "no_shuffle"),
    ("q_ann_ivf_train", "no_shuffle"),
    # round-7 TPC-H completion: the correlated/negated subqueries must
    # decorrelate to hash joins, never nested loops
    ("q_sql_tpch_q2", "no_nested_loop"),
    ("q_sql_tpch_q16", "no_nested_loop"),
    ("q_sql_tpch_q20", "semi_join"),
    ("q_sql_tpch_q21", "semi_join"),
]


def _executed_plan(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize("key,shape", CASES)
def test_plan_shape(spark, key, shape):
    plan = _executed_plan(QUERIES[key](spark, SF_DIR))
    if shape == "semi_join":
        assert "LeftSemi" in plan or "SemiJoin" in plan, plan
    elif shape == "no_nested_loop":
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
    elif shape == "no_shuffle":
        n = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert n == 0, f"{n} shuffle exchanges in {key}"
    elif shape == "take_ordered":
        assert "TakeOrderedAndProject" in plan, plan
    elif shape == "fused_python":
        n = (
            plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
        )
        assert n <= 1, f"{n} python eval nodes in {key}"
    else:  # pragma: no cover
        raise AssertionError(f"unknown shape {shape}")


def test_bucketed_join_and_agg_are_shuffle_free(spark, tmp_path):
    """The bucketed-layout story (operators/joins.py bucketed_write):
    two tables co-bucketed on the join key must join AND aggregate
    with ZERO shuffle exchanges — the scans themselves satisfy the
    required distribution.  Results are pinned equal to the unbucketed
    plans, so the layout is purely a plan optimization."""
    from vector_db_ingestor_spark.operators.joins import (
        bucketed_join,
        bucketed_write,
    )
    from vector_db_ingestor_spark.tables import load_table

    orders = load_table(spark, SF_DIR, "orders")
    customer = load_table(spark, SF_DIR, "customer")
    try:
        bucketed_write(
            orders, "b_orders", "o_custkey", n_buckets=8,
            path=str(tmp_path / "b_orders"),
        )
        bucketed_write(
            customer, "b_customer", "c_custkey", n_buckets=8,
            path=str(tmp_path / "b_customer"),
        )
        joined = bucketed_join(
            spark,
            "b_orders",
            "b_customer",
            spark.table("b_orders")["o_custkey"]
            == spark.table("b_customer")["c_custkey"],
        ).select("o_orderkey", "c_name")
        plan = _executed_plan(joined)
        n = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert n == 0, f"bucketed join shuffled:\n{plan}"
        assert "SortMergeJoin" in plan, plan

        want = (
            orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
            .select("o_orderkey", "c_name")
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, want.collect())
        )

        agg = spark.table("b_orders").groupBy("o_custkey").count()
        plan = _executed_plan(agg)
        n = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert n == 0, f"bucketed agg shuffled:\n{plan}"
        assert agg.count() == orders.select("o_custkey").distinct().count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


# keys built ahead of their declaration: same plan pins as
# scripts/explain_audit.py's AUDITS, enforced in CI at sf0.001 so a
# rewrite cannot degrade their plans
QUEUE_CASES = [
    ("q_ann_ivf_filtered", "take_ordered"),
    # escalation's 1-row depth decision is a deliberate broadcast
    # cross join (the scalar-model pattern), so pin the top-k fusion
    ("q_ann_ivf_escalate", "take_ordered"),
    ("q_multimodal_dedup", "no_nested_loop"),
    ("q_multimodal_manifest", "no_nested_loop"),
    ("q_join_asof_tolerance", "no_nested_loop"),
    ("q_join_asof_nearest", "no_nested_loop"),
    ("q_jsonl_ingest", "no_shuffle"),
    ("q_csv_ingest", "no_shuffle"),
    ("q_ann_nprobe_curve", "take_ordered"),
    # temperature's 1-row total is a deliberate broadcast cross join
    # (scalar-model pattern), so pin the map-side partial agg instead
    ("q_url_curation", "no_shuffle"),
    ("q_html_extract", "fused_python"),
    ("q_join_interval", "no_nested_loop"),
    ("q_graph_pagerank", "no_nested_loop"),
    ("q_ann_ivfpq_refine", "take_ordered"),
    ("q_sketch_cms", "no_nested_loop"),
    ("q_warc_ingest", "no_nested_loop"),
    ("q_dedup_url", "no_nested_loop"),
    ("q_topk_matryoshka", "take_ordered"),
    # round-12 queue (r16-r20 windows); hits/bpe/tokens_per_source/kmv
    # are pinned in explain_audit AUDITS instead — their
    # deliberate 1-row broadcast cross join (scalar-model pattern, or
    # kmv's constant-key union-leg join that Catalyst folds to a
    # trivial 1x1 nested loop) fails a naive no_nested_loop check
    ("q_sample_reservoir", "no_nested_loop"),
    ("q_dedup_passage", "take_ordered"),
    ("q_dedup_containment", "no_nested_loop"),
    ("q_agg_decay", "no_nested_loop"),
    ("q_stats_ab", "no_nested_loop"),
    ("q_join_spatial", "no_nested_loop"),
    ("q_vec_pq_quality", "no_nested_loop"),
    ("q_curation_pipeline", "no_nested_loop"),
]


@pytest.mark.parametrize("key,shape", QUEUE_CASES)
def test_queued_plan_shape(spark, key, shape):
    plan = _executed_plan(QUERIES[key](spark, SF_DIR))
    if shape == "no_nested_loop":
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
    elif shape == "no_shuffle":
        n = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert n == 0, f"{n} shuffle exchanges in {key}"
    elif shape == "take_ordered":
        assert "TakeOrderedAndProject" in plan, plan
    elif shape == "fused_python":
        n = (
            plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
        )
        assert n <= 1, f"{n} python eval nodes in {key}"
    else:  # pragma: no cover
        raise AssertionError(f"unknown shape {shape}")
