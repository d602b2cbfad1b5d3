"""Broadcast-budget dispatch (operators/dims.py): every dim join must flip
to a shuffle join when the run decides the dimensions exceed the budget —
degrade, don't die (VERDICT round-2 'unconditional broadcast'
anti-pattern)."""

from collections import Counter

import pyspark.sql.functions as F
import pytest

from joern_spark.corpus import docs_df, skew_corpus, split_code_spans
from joern_spark.operators import dims
from joern_spark.operators.ast_pass import parse_docs, split_rows
from joern_spark.operators.base_passes import (
    method_stubs,
    vocabulary,
    vocabulary_edges,
)
from joern_spark.operators.callgraph import (
    candidate_pool,
    link_calls,
    method_ref_linker,
)
from joern_spark.operators.type_recovery import field_access_linker
from tests.conftest import kernel_hints
from tests.reference_impls import naive_call_linker, static_call_linker


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("fits", [True, False])
def test_budgeted_broadcast_follows_fits(spark, no_auto_broadcast, fits):
    dim = spark.range(5).select(F.col("id").alias("k"))
    fact = spark.range(50).select(F.col("id").alias("k"))
    j = fact.join(dims.budgeted_broadcast(dim, fits), "k")
    assert ("BroadcastHashJoin" in _plan(j)) == fits


def _linkers(nodes, edges, hints, fits) -> dict:
    static = static_call_linker(nodes, fits)
    pool = candidate_pool(nodes, edges, fits=fits)
    return {
        "static": static,
        "naive": naive_call_linker(nodes, static, fits),
        "method_ref": method_ref_linker(nodes, fits=fits),
        "field_access": field_access_linker(nodes, edges, hints, fits=fits),
        "link_calls": link_calls(nodes, edges, hints, pool, fits=fits),
    }


@pytest.mark.parametrize("fits", [True, False])
def test_linkers_respect_budget(cpg_nodes_edges, skew_nodes_edges,
                                no_auto_broadcast, fits):
    """Each linker's dim join follows the run's ``fits`` decision: broadcast
    when the vocabulary fits, shuffle join when it doesn't — and produces
    the SAME rows either way, on the fixture corpus and on the hot-key skew
    corpus (printf/malloc called from every document)."""
    for graph in (cpg_nodes_edges, skew_nodes_edges):
        frames = _linkers(*graph, fits)
        other = _linkers(*graph, not fits)
        for name, df in frames.items():
            p = _plan(df)
            if fits:
                assert "BroadcastHashJoin" in p, name
            else:
                assert "BroadcastHashJoin" not in p, (name, p[:2000])
            assert (Counter(map(tuple, df.collect()))
                    == Counter(map(tuple, other[name].collect()))), name


def test_link_calls_matches_sequential_chain(cpg_nodes_edges,
                                            arbitration_nodes_edges):
    """The one-pass arbitration window returns exactly the edges the
    sequential static→dynamic→hint→naive chain (with prefer-internal
    pruning) produces, on the fixture corpus and on the arbitration corpus
    (a CHA external stub beside an internal CHA candidate; a hint-linked
    call with naive matches other than the hint's target)."""
    from tests.reference_impls import (
        dynamic_call_linker,
        prefer_internal_call_edges,
        type_hint_call_linker,
    )

    for nodes, edges, hints in (cpg_nodes_edges, arbitration_nodes_edges):
        static = static_call_linker(nodes, True)
        ambiguous = dynamic_call_linker(nodes, edges, True)
        ambiguous = ambiguous.unionByName(type_hint_call_linker(
            nodes, edges, static.unionByName(ambiguous), hints, True))
        ambiguous = ambiguous.unionByName(
            naive_call_linker(nodes, static.unionByName(ambiguous), True))
        chain = static.unionByName(prefer_internal_call_edges(ambiguous, nodes))
        fused = link_calls(nodes, edges, hints,
                           candidate_pool(nodes, edges, fits=True), fits=True)
        a = {tuple(r) for r in chain.collect()}
        b = {tuple(r) for r in fused.collect()}
        assert a == b


# Two arbitration conditions the fixture corpus does not reach:
# - Cha.java: `b.m()` has CHA candidates Base.m (internal) and Sub.m (the
#   external stub that `s.m()` creates), so its CHA external is pruned by the
#   internal CHA candidate alone (``f_dyn_int``), not by a hint link;
# - hint.js: `x.run()` has no static or CHA candidate (its full name has no
#   receiver type), links A.run through x's recovered type, and bare-name
#   matches both A.run and B.run, so its naive rows are dropped only because
#   the hint linked the call (``hint_kept``).
_ARBITRATION_DOCS = {
    "arb/Cha.java": ("class Base { void m() {} }\nclass Sub extends Base {}\n"
                     "class Use {\n  void f(Sub s) { s.m(); }\n"
                     "  void g(Base b) { b.m(); }\n}"),
    "arb/hint.js": ("class A { run() { return 1; } }\n"
                    "class B { run() { return 2; } }\n"
                    "function f() { let y = new A(); let x = y; x.run(); }"),
}


@pytest.fixture(scope="module")
def arbitration_nodes_edges(spark):
    """The arbitration corpus with its vocabulary (TYPE rows for the
    inheritance closure, method stubs), checkpointed."""
    docs = docs_df(spark, [{"doc_id": k, "spans": split_code_spans(v, 1)}
                           for k, v in _ARBITRATION_DOCS.items()])
    rows = parse_docs(docs).persist()
    nodes, edges, _ = split_rows(rows)
    vocab = vocabulary(nodes, edges, fits=True)
    graph = (nodes.unionByName(vocab).localCheckpoint(),
             edges.unionByName(vocabulary_edges(vocab, nodes, fits=True))
             .localCheckpoint(),
             kernel_hints(nodes).localCheckpoint())
    rows.unpersist()
    return graph


@pytest.fixture(scope="module")
def cpg_nodes_edges(cpg, cpg_hints):
    return cpg.nodes, cpg.edges, cpg_hints


@pytest.fixture(scope="module")
def skew_nodes_edges(spark):
    """The hot-key skew corpus, checkpointed so the plans under test hold
    only the linkers' own joins (the stub pass and the kernel broadcast
    upstream)."""
    rows = parse_docs(docs_df(spark, skew_corpus(60), partitions=4)).persist()
    nodes, edges, _ = split_rows(rows)
    stubs = method_stubs(nodes, edges, fits=True)
    graph = (nodes.unionByName(stubs).localCheckpoint(),
             edges.unionByName(vocabulary_edges(stubs, nodes, fits=True))
             .localCheckpoint(),
             kernel_hints(nodes).localCheckpoint())
    rows.unpersist()
    return graph
