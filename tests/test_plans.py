"""Physical-plan quality gates (100 TB readiness, SURVEY.md §4).

Asserts the plans Catalyst produces are the plans we designed for:
- parquet scans prune columns (ReadSchema) and push filters down,
- dimension joins broadcast (no shuffle of the fact side),
- the fused kernel pass never shuffles the node stream,
- analytics aggregations keep partial (map-side) aggregation.
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_text_quality_column_pruning(spark):
    from joern_spark.analytics.text import text_quality

    plan = _plan(text_quality(spark, SF))
    # only doc_id + text read from a 5-column table
    assert "ReadSchema" in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read and "text" in read
    assert "n_chars" not in read and "source" not in read


def test_filter_pushdown_to_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = docs.filter(F.col("lang") == "en").select("doc_id")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan or \
           "PushedFilters: [*IsNotNull(lang), *EqualTo(lang,en)]" in plan


def test_orders_by_nation_broadcasts_dims(spark):
    from joern_spark.analytics.relational import orders_by_nation

    plan = _plan(orders_by_nation(spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_fused_kernels_shuffle_free(spark):
    from joern_spark.corpus import fixture_docs_df
    from joern_spark.operators.ast_pass import parse_docs, split_rows
    from joern_spark.operators.method_kernels import fused_method_kernels

    docs = fixture_docs_df(spark)
    nodes, _, _ = split_rows(parse_docs(docs))
    k = fused_method_kernels(nodes, fits=True)
    plan = _plan(k)
    # the fact dimensions are broadcast build sides (their own aggregates
    # may exchange); the node stream itself is never shuffled
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert k.rdd.getNumPartitions() == nodes.rdd.getNumPartitions()


def test_static_linker_broadcasts_method_dim(spark, cpg, no_auto_broadcast):
    """The static-dispatch candidates of the call pool join the METHOD dim
    map-side when the run decides it fits, with Catalyst's own size-based
    broadcast off."""
    from joern_spark.operators.callgraph import _static_candidates

    plan = _plan(_static_candidates(cpg.nodes, fits=True))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_partial_aggregation_present(spark):
    from joern_spark.analytics.dedup import dedup_exact

    plan = _plan(dedup_exact(spark, SF))
    # partial (map-side) HashAggregate before the exchange, final after
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_pricing_summary_scan_quality(spark):
    from joern_spark.analytics.relational import pricing_summary

    plan = _plan(pricing_summary(spark, SF))
    # date filter reaches the parquet scan; shipdate never leaves the scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "partial_sum" in plan  # map-side combine before the exchange
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read  # unused columns pruned


def test_anti_join_stays_broadcast(spark):
    from joern_spark.analytics.relational import customers_without_orders

    plan = _plan(customers_without_orders(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_fallback_callgraph_plan_no_window(spark, cpg, cpg_hints):
    """The call arbitration must never plan a Window(partitionBy src): the
    window shuffles + sorts the full candidate union and buffers every src
    group (measured 9x task-CPU inflation at 32 cores, round 3). The one-pass
    aggregate arbitration is the only acceptable plan at 100x scale."""
    from joern_spark.operators.callgraph import candidate_pool, link_calls

    pool = candidate_pool(cpg.nodes, cpg.edges, fits=True)
    plan = _plan(link_calls(cpg.nodes, cpg.edges, cpg_hints, pool, fits=True))
    assert "Window" not in plan, f"arbitration planned a window:\n{plan}"

