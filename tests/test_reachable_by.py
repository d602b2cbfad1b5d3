"""reachableBy engine tests.

Mirrors the reference's DataFlowTests
(c2cpg/src/test/.../dataflow/DataFlowTests.scala): parameter-to-return
reachability in flow(), interprocedural literal→callee-argument flow in
test.c (crossing one call boundary, k-limit semantics of Engine.scala:322).
"""

import pytest

from joern_spark.dataflow import FlowEngine, reachable_by_flows
from joern_spark.query import Cpg
from tests.conftest import F1, F2, F3


@pytest.fixture(scope="session")
def q(cpg):
    return Cpg(nodes=cpg.nodes, edges=cpg.edges)


def test_param_reaches_return(cpg, q):
    sources = q.parameter("^p0$").ids()
    ret_df = q.method_return().to_df()
    flow_ret = ret_df.filter(ret_df["doc_id"] == F1).select("node_id")
    hits = FlowEngine(cpg.nodes, cpg.edges).flow(flow_ret, sources)
    assert hits.count() >= 1


def test_identifier_chain_reaches_return(cpg, q, g):
    # a (from a = p0) reaches flow's METHOD_RETURN through b, z, x
    nodes = g.doc_nodes(F1)
    a_ids = nodes[(nodes["kind"] == "IDENTIFIER") & (nodes["name"] == "a")]
    ret = nodes[nodes["kind"] == "METHOD_RETURN"]
    spark = cpg.nodes.sparkSession
    sources = spark.createDataFrame([(int(i),) for i in a_ids.index], "node_id long")
    sinks = spark.createDataFrame([(int(i),) for i in ret.index], "node_id long")
    hits = FlowEngine(cpg.nodes, cpg.edges).flow(sinks, sources)
    assert hits.count() >= 1


def test_interprocedural_literal_to_callee(cpg, g):
    # 42 at the main() call site flows into print_number's parameter and on
    # into printf(x)'s argument — one interprocedural hop (param ← arg)
    nodes = g.doc_nodes(F3)
    lit = nodes[(nodes["kind"] == "LITERAL") & (nodes["code"] == "42")]
    x_arg = nodes[(nodes["kind"] == "IDENTIFIER") & (nodes["name"] == "x")]
    spark = cpg.nodes.sparkSession
    sources = spark.createDataFrame([(int(i),) for i in lit.index], "node_id long")
    sinks = spark.createDataFrame([(int(i),) for i in x_arg.index], "node_id long")
    hits = FlowEngine(cpg.nodes, cpg.edges).flow(sinks, sources)
    assert hits.count() >= 1


def test_k_limit_blocks_deep_flows(cpg, g):
    # with max_call_depth=0 the interprocedural hop is forbidden → no hit
    nodes = g.doc_nodes(F3)
    lit = nodes[(nodes["kind"] == "LITERAL") & (nodes["code"] == "42")]
    x_arg = nodes[(nodes["kind"] == "IDENTIFIER") & (nodes["name"] == "x")]
    spark = cpg.nodes.sparkSession
    sources = spark.createDataFrame([(int(i),) for i in lit.index], "node_id long")
    sinks = spark.createDataFrame([(int(i),) for i in x_arg.index], "node_id long")
    hits = FlowEngine(cpg.nodes, cpg.edges).flow(sinks, sources,
                                                 max_call_depth=0)
    assert hits.count() == 0


def test_reference_flow_goldens(cpg, q):
    """DataFlowTests goldens (DataFlowTests.scala:40-66), compared at the
    reference's flowToResultPairs granularity where the rendering rules
    coincide with ours:
    - identifier flows into free(p)'s argument: exactly 6 (node-level),
    - z flows into flow()'s METHOD_RETURN: exactly 3 (statement-level),
    - identifier flows into flow()'s METHOD_RETURN: reference prints 8;
      our statement-level rendering merges one pair -> 7 (and the raw
      path set is a strict superset: 12 >= 8)."""
    from pyspark.sql import functions as F

    from joern_spark.dataflow import flow_result_pairs, reachable_by_flows

    sinks = q.call("^free$").argument().ids()
    sources = q.identifier().to_df().filter(F.col("doc_id") == F2).select("node_id")
    flows = reachable_by_flows(cpg.nodes, cpg.edges, sinks, sources)
    assert len(flow_result_pairs(cpg.nodes, flows, statement_level=False)) == 6

    ret = q.method_return().to_df().filter(F.col("doc_id") == F1).select("node_id")
    zs = q.identifier("^z$").to_df().filter(F.col("doc_id") == F1).select("node_id")
    zflows = reachable_by_flows(cpg.nodes, cpg.edges, ret, zs)
    assert len(flow_result_pairs(cpg.nodes, zflows)) == 3

    idents = q.identifier().to_df().filter(F.col("doc_id") == F1).select("node_id")
    flows2 = reachable_by_flows(cpg.nodes, cpg.edges, ret, idents)
    assert len(flows2) >= 8
    assert len(flow_result_pairs(cpg.nodes, flows2)) in (7, 8)


def test_interprocedural_literal_to_callee_flows(cpg, g):
    """Flows-API mirror of test_interprocedural_literal_to_callee (round-2
    ADVICE): when the SOURCE is exactly the hop's landing node (the caller
    argument 42), the path must still be returned — the path walk ends a
    path at every source it reaches, hop landings included."""
    nodes = g.doc_nodes(F3)
    lit = nodes[(nodes["kind"] == "LITERAL") & (nodes["code"] == "42")]
    x_arg = nodes[(nodes["kind"] == "IDENTIFIER") & (nodes["name"] == "x")]
    spark = cpg.nodes.sparkSession
    sources = spark.createDataFrame([(int(i),) for i in lit.index], "node_id long")
    sinks = spark.createDataFrame([(int(i),) for i in x_arg.index], "node_id long")
    paths = reachable_by_flows(cpg.nodes, cpg.edges, sinks, sources)
    lit_ids = {int(i) for i in lit.index}
    x_ids = {int(i) for i in x_arg.index}
    assert any(p[0] in lit_ids and p[-1] in x_ids for p in paths)


def test_flows_path_reconstruction(cpg, g):
    nodes = g.doc_nodes(F1)
    p0 = nodes[nodes["kind"] == "METHOD_PARAMETER_IN"]
    ret = nodes[nodes["kind"] == "METHOD_RETURN"]
    spark = cpg.nodes.sparkSession
    sources = spark.createDataFrame([(int(i),) for i in p0.index], "node_id long")
    sinks = spark.createDataFrame([(int(i),) for i in ret.index], "node_id long")
    paths = reachable_by_flows(cpg.nodes, cpg.edges, sinks, sources)
    assert len(paths) >= 1
    # every returned path starts at the source and ends at the sink
    assert all(p[0] in set(int(i) for i in p0.index) for p in paths)
    assert all(p[-1] in set(int(i) for i in ret.index) for p in paths)


@pytest.fixture(scope="module")
def two_caller_cpg(spark):
    """Two callers of the same identity function — the unrealizable
    cross-caller flow detector fixture (TaskCreator.scala:54-100)."""
    from joern_spark.corpus import docs_df
    from joern_spark.pipeline import run_pipeline

    src = (
        "int id2(int x) { return x; }\n"
        "void caller_a() { int a = id2(1); sink_a(a); }\n"
        "void caller_b() { int b = id2(2); sink_b(b); }\n"
    )
    docs = docs_df(spark, [{"doc_id": "twocaller", "spans": [
        {"kind": "code", "text": src, "media_ref": "", "offset": 0}]}])
    return run_pipeline(spark, docs, n_parts=2)


def test_realizable_paths_no_cross_caller_flow(two_caller_cpg):
    """A flow entering id2 from caller_b's call site must exit back to
    caller_b only: literal 2 reaches sink_b's argument, literal 1 does NOT
    (the call-site stack kills the caller_a→id2→caller_b path)."""
    import pyspark.sql.functions as F

    res = two_caller_cpg
    spark = res.nodes.sparkSession
    lits = {r["code"]: r["node_id"] for r in
            res.nodes.filter(F.col("kind") == "LITERAL").collect()}
    sink_b_args = [r["node_id"] for r in res.nodes.filter(
        (F.col("kind") == "IDENTIFIER") & (F.col("name") == "b")
    ).join(
        res.edges.filter(F.col("kind") == "ARGUMENT")
        .select(F.col("dst").alias("node_id")), "node_id"
    ).collect()]
    assert sink_b_args and "1" in lits and "2" in lits
    sinks = spark.createDataFrame([(i,) for i in sink_b_args], "node_id long")
    sources = spark.createDataFrame(
        [(lits["1"],), (lits["2"],)], "node_id long")
    paths = reachable_by_flows(res.nodes, res.edges, sinks, sources)
    heads = {p[0] for p in paths}
    assert lits["2"] in heads, "realizable caller_b flow must survive"
    assert lits["1"] not in heads, \
        "unrealizable caller_a->id2->caller_b path must be filtered"


def test_flow_engine_matches_reachable_by(cpg, q, monkeypatch):
    """``FlowEngine.flow`` (``reachableBy``) returns the same
    (source_id, sink_id) set under both of ``frontier.expand``'s plans,
    including the k-limit at depth 0: the broadcast walk of one engine
    against the checkpointed loop of an engine built over the budget."""
    from joern_spark.operators import dims

    sinks = q.call().argument().ids()
    sources = q.literal().ids()

    def pairs(df):
        return {(r[0], r[1]) for r in df.collect()}

    broadcast_eng = FlowEngine(cpg.nodes, cpg.edges)
    got = {d: pairs(broadcast_eng.flow(sinks, sources, max_call_depth=d))
           for d in (4, 0)}
    monkeypatch.setattr(dims, "MAX_BROADCAST_DIM", 0)
    loop_eng = FlowEngine(cpg.nodes, cpg.edges)
    for d in (4, 0):
        assert pairs(loop_eng.flow(sinks, sources, max_call_depth=d)) == got[d], d
    assert got[4]  # non-vacuous on the fixture corpus
    assert len(got[0]) < len(got[4])  # depth 0 takes no interprocedural hop


def test_flows_same_under_both_expand_plans(cpg, q, monkeypatch):
    """``FlowEngine.flows`` walks the sub-graph ``frontier.expand`` returns;
    over the broadcast budget expand runs its checkpointed loop, and the
    paths do not change."""
    from pyspark.sql import functions as F

    from joern_spark.operators import dims

    ret = q.method_return().to_df().filter(F.col("doc_id") == F1).select("node_id")
    idents = q.identifier().to_df().filter(F.col("doc_id") == F1).select("node_id")
    want = reachable_by_flows(cpg.nodes, cpg.edges, ret, idents)
    monkeypatch.setattr(dims, "MAX_BROADCAST_DIM", 0)
    assert reachable_by_flows(cpg.nodes, cpg.edges, ret, idents) == want
    assert want


def test_flows_path_cap_truncates_per_sink(cpg, q, monkeypatch):
    """A sink's walk stops after ``MAX_SINK_PATHS`` paths: at a cap of 1
    every sink that reaches a source keeps exactly one source→sink path."""
    from joern_spark import dataflow

    sinks = q.call().argument().ids()
    sources = q.identifier().ids()
    full = dataflow.FlowEngine(cpg.nodes, cpg.edges).flows(sinks, sources)
    monkeypatch.setattr(dataflow, "MAX_SINK_PATHS", 1)
    capped = dataflow.FlowEngine(cpg.nodes, cpg.edges).flows(sinks, sources) \
        .collect()
    source_ids = {r["node_id"] for r in sources.collect()}
    assert len(capped) == len({r["sink_id"] for r in capped})
    assert {r["sink_id"] for r in capped} == \
        {r["sink_id"] for r in full.select("sink_id").distinct().collect()}
    assert all(r["path"][0] in source_ids and r["path"][-1] == r["sink_id"]
               for r in capped)


def test_flows_k_limit(cpg, g):
    """Flows twin of test_k_limit_blocks_deep_flows: 42 reaches printf's x
    through exactly one interprocedural hop, so a call depth of 0 finds no
    path and a call depth of 1 finds it."""
    nodes = g.doc_nodes(F3)
    lit = nodes[(nodes["kind"] == "LITERAL") & (nodes["code"] == "42")]
    x_arg = nodes[(nodes["kind"] == "IDENTIFIER") & (nodes["name"] == "x")]
    spark = cpg.nodes.sparkSession
    sources = spark.createDataFrame([(int(i),) for i in lit.index], "node_id long")
    sinks = spark.createDataFrame([(int(i),) for i in x_arg.index], "node_id long")
    assert reachable_by_flows(cpg.nodes, cpg.edges, sinks, sources,
                              max_call_depth=0) == []
    paths = reachable_by_flows(cpg.nodes, cpg.edges, sinks, sources,
                               max_call_depth=1)
    assert paths and all(p[0] in {int(i) for i in lit.index} for p in paths)


def test_flows_keep_longest_path_per_head(spark):
    """Of one head's paths to a sink, flows keeps the longest, and of equally
    long ones the smallest (``Engine.scala:154-179``): node 1 reaches node 3
    directly, through 2 and through 4."""
    nodes = spark.createDataFrame(
        [(i, "IDENTIFIER", 100, None, i) for i in (1, 2, 3, 4)],
        "node_id long, kind string, method_id long, argument_index int, "
        "order int")
    edges = spark.createDataFrame(
        [(1, 3, "REACHING_DEF"), (1, 2, "REACHING_DEF"), (2, 3, "REACHING_DEF"),
         (1, 4, "REACHING_DEF"), (4, 3, "REACHING_DEF")],
        "src long, dst long, kind string")

    def ids(i):
        return spark.createDataFrame([(i,)], "node_id long")

    assert reachable_by_flows(nodes, edges, ids(3), ids(1)) == [[1, 2, 3]]
