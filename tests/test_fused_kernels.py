"""Fused kernel pass ≡ the cogrouped reference passes: identical edge multisets.

The fusion is a physical optimization only (one mapInArrow vs three cogrouped
applyInPandas passes) — every (src, dst, kind, variable) edge must match
exactly. The over-budget configuration (shuffle joins for the kernel's
cross-document facts) must produce the same triples as the default run.
"""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from joern_spark.corpus import fixture_docs_df
from joern_spark.operators.ast_pass import parse_docs, split_rows
from joern_spark.operators.base_passes import method_stubs, parameter_out_pass
from joern_spark.operators.cfg_pass import cfg_pass
from joern_spark.operators.dominators import dominator_pass
from joern_spark.operators.method_kernels import fused_method_kernels
from joern_spark.operators.reaching_def import reaching_def_pass
from joern_spark.pipeline import run_pipeline


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _edges(df):
    return Counter((r["src"], r["dst"], r["kind"], r["variable"])
                   for r in df.collect())


@pytest.fixture(scope="module")
def parsed(spark):
    rows = parse_docs(fixture_docs_df(spark).repartition(4, "doc_id")).persist()
    rows.count()
    nodes0, edges0, _ = split_rows(rows)
    yield nodes0, edges0
    rows.unpersist()


def test_fused_equals_separate(parsed):
    nodes0, edges0 = parsed
    fused = _edges(fused_method_kernels(nodes0, fits=True)
                   .filter(F.col("kind") != "_TYPE_HINT"))

    # reaching_def_pass expects the stub methods and paramOut rows the
    # pipeline's vocabulary frames add to the parse output
    m_stubs, _ = method_stubs(nodes0, edges0)
    param_outs, _ = parameter_out_pass(nodes0)
    nodes = nodes0.unionByName(m_stubs).unionByName(param_outs)
    cfg = cfg_pass(nodes0).persist()
    plain = _edges(cfg.unionByName(dominator_pass(nodes0, cfg))
                   .unionByName(reaching_def_pass(nodes, cfg)))
    cfg.unpersist()

    missing, extra = plain - fused, fused - plain
    assert not missing, f"fused missing {len(missing)}: {list(missing)[:5]}"
    assert not extra, f"fused extra {len(extra)}: {list(extra)[:5]}"
    assert {k for _, _, k, _ in fused} == {
        "CFG", "DOMINATE", "POST_DOMINATE", "CDG", "REACHING_DEF"}


def test_over_budget_shuffle_joins_end_to_end(spark, cpg, monkeypatch,
                                              no_auto_broadcast):
    """Force the at-scale configuration end to end: a zero broadcast budget
    (the kernel's fact joins and the linkers' dim joins all plan shuffle
    joins, the kernel input is re-clustered by doc) with Catalyst's own
    size-based broadcast off. The triple multiset must equal the default
    run's — this is exactly what executes at 100x corpus scale."""
    import joern_spark.operators.method_kernels as mk
    from joern_spark.operators import dims

    plans = []

    def spy(*args, **kw):
        k = orig(*args, **kw)
        plans.append(_plan(k))
        return k

    orig = mk.fused_method_kernels
    monkeypatch.setattr(mk, "fused_method_kernels", spy)
    monkeypatch.setattr(dims, "MAX_BROADCAST_DIM", 0)
    with dims.dim_fits_hint(False):
        res = run_pipeline(spark, fixture_docs_df(spark), n_parts=4)

    assert res.stats["kernel_fits"] is False
    [plan] = plans
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan, plan

    got = Counter(tuple(r) for r in res.triples.select("subj", "pred", "obj").collect())
    want = Counter(tuple(r) for r in cpg.triples.select("subj", "pred", "obj").collect())
    missing, extra = want - got, got - want
    assert not missing, f"shuffle-join run missing {len(missing)}: {list(missing)[:5]}"
    assert not extra, f"shuffle-join run extra {len(extra)}: {list(extra)[:5]}"
