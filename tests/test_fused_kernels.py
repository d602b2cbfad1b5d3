"""Fused kernel pass ≡ the per-method functions run in plain Python: identical
edge multisets.

The kernel is one partition-local mapInArrow over the per-method functions;
its own work is the doc-contiguous grouping, the cross-document fact joins
(``callee_internal``) and the synthesized paramOut rows. The test groups the
parse output by method in Python, derives those facts independently (METHOD
rows, ``parameter_out_pass``), and compares every (src, dst, kind, variable)
edge. The over-budget configuration (shuffle joins for the kernel's
cross-document facts) must produce the same triples as the default run.
"""

from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from joern_spark.corpus import fixture_docs_df
from joern_spark.operators.ast_pass import parse_docs, split_rows
from joern_spark.operators.base_passes import parameter_out_pass
from joern_spark.operators.cfg_pass import cfg_edges_for_method
from joern_spark.operators.dominators import dominator_edges_for_method
from joern_spark.operators.method_kernels import fused_method_kernels
from joern_spark.operators.reaching_def import reaching_def_edges_for_method
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
    nodes0, _, _ = split_rows(rows)
    yield nodes0
    rows.unpersist()


def _per_method_edges(nodes0) -> Counter:
    """CFG, DOMINATE/POST_DOMINATE/CDG and REACHING_DEF edges of every method,
    the per-method functions called on rows grouped in plain Python."""
    rows = [r.asDict() for r in nodes0.collect()]
    # a full name is internal when any non-external METHOD has it
    internal = {r["full_name"] for r in rows
                if r["kind"] == "METHOD" and not r["is_external"]}
    by_method = defaultdict(list)
    for r in rows:
        if r["method_id"] is None:
            continue
        if r["kind"] == "CALL":
            r["callee_internal"] = True if r["full_name"] in internal else None
        by_method[r["method_id"]].append(r)
    param_outs = defaultdict(list)
    for r in parameter_out_pass(nodes0).collect():
        param_outs[r["method_id"]].append(r.asDict())

    out = Counter()
    for mid, mrows in by_method.items():
        cfg = cfg_edges_for_method(mrows)
        out.update((s, d, "CFG", "") for s, d in cfg)
        out.update((s, d, k, "")
                   for s, d, k in dominator_edges_for_method(mrows, cfg))
        out.update((s, d, "REACHING_DEF", v) for s, d, v in
                   reaching_def_edges_for_method(mrows + param_outs[mid], cfg))
    return out


def test_fused_equals_separate(parsed):
    nodes0 = parsed
    fused = _edges(fused_method_kernels(nodes0, fits=True)
                   .filter(F.col("kind") != "_TYPE_HINT"))
    plain = _per_method_edges(nodes0)

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
    res = run_pipeline(spark, fixture_docs_df(spark), n_parts=4)

    assert res.stats["kernel_fits"] is False
    [plan] = plans
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan, plan

    got = Counter(tuple(r) for r in res.triples.select("subj", "pred", "obj").collect())
    want = Counter(tuple(r) for r in cpg.triples.select("subj", "pred", "obj").collect())
    missing, extra = want - got, got - want
    assert not missing, f"shuffle-join run missing {len(missing)}: {list(missing)[:5]}"
    assert not extra, f"shuffle-join run extra {len(extra)}: {list(extra)[:5]}"
