"""Interprocedural backward taint reachability — ``reachableBy`` and
``reachableByFlows`` over one backward step relation.

Reference: the task-parallel engine in
``dataflowengineoss/.../queryengine/Engine.scala:43-268`` +
``TaskCreator.scala:26-135`` — per-sink backward DFS over in-REACHING_DEF
edges within a method, jumping interprocedurally at parameters (to caller
arguments) and at call sites (into callee returns), k-limited at
``maxCallDepth = 4`` (``Engine.scala:322``), with a realizable call-site
stack.

Spark shape: :class:`FlowEngine` builds one tagged step relation per graph,
  reversed REACHING_DEF (cost 0)  ∪  param→arg hop  ∪  call→return hop (cost 1),
so every query of a bundle walks the same relation, which is the path-cache
sharing the reference implements by hand
(``EngineConfig.shareCacheBetweenTasks``).

- :meth:`FlowEngine.flow` (``reachableBy``) is ONE ``frontier.expand`` keyed
  by ``sink_id`` with ``max_depth = max_call_depth``. Under the broadcast
  budget each flow is a lazy frame that runs inside its consumer's job; over
  it, expand's checkpointed loop runs the rounds.
- :meth:`FlowEngine.flows` (``reachableByFlows``) first finds each sink's
  backward sub-graph with the same ``expand``, then walks each sink's paths
  with all of its rows in one task (``frontier.map_groups``), as the
  reference runs one task per sink: the cheap reachability pass decides
  which rows the costly path walk ever sees.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from .operators.frontier import BATCH_ROWS, arrow_batch, expand, map_groups

MAX_CALL_DEPTH = 4  # Engine.scala:322

# paths one sink's walk emits before it stops, a safety valve against path
# explosion; reaching it writes a line to the worker's stderr
MAX_SINK_PATHS = 4000

_FLOWS_SCHEMA = StructType([StructField("sink_id", LongType()),
                            StructField("path", ArrayType(LongType()))])


def _edges_of(edges: DataFrame, kind: str) -> DataFrame:
    return edges.filter(F.col("kind") == kind)


def interproc_back_edges_tagged(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Backward interprocedural hops with call-site provenance
    (node_id, prev_id, hop_kind, call_id):

    - ``hop_kind='arg'``: callee param ← caller argument at call ``call_id``
      (backward traversal EXITS the callee) — the path walk must pop a
      matching call site, or have an empty stack (``TaskCreator.scala:54-70``
      Case 1 / Case 2);
    - ``hop_kind='ret'``: call-site ← callee RETURN/METHOD_RETURN (backward
      traversal ENTERS the callee) — the path walk pushes ``call_id``
      (``TaskCreator.scala:131-135`` ``call :: callSiteStack``).
    """
    call_edges = _edges_of(edges, "CALL").select(
        F.col("src").alias("call_id"), F.col("dst").alias("callee_id")
    )
    arg_edges = _edges_of(edges, "ARGUMENT").select(
        F.col("src").alias("call_id"), F.col("dst").alias("arg_id")
    )
    n = nodes.select("node_id", "kind", "method_id", "argument_index", "order")

    # param (METHOD m, index i) ← argument (call→m, argument_index i)
    params = n.filter(F.col("kind") == "METHOD_PARAMETER_IN").select(
        F.col("node_id").alias("param_id"),
        F.col("method_id").alias("callee_id"),
        F.col("order").alias("p_index"),
    )
    args = arg_edges.join(
        n.select(F.col("node_id").alias("arg_id"),
                 F.col("argument_index").alias("a_index")),
        "arg_id",
    )
    param_to_arg = (
        params.join(call_edges, "callee_id")
        .join(args, "call_id")
        .filter(F.col("p_index") == F.col("a_index"))
        .select(F.col("param_id").alias("node_id"),
                F.col("arg_id").alias("prev_id"),
                F.lit("arg").alias("hop_kind"), "call_id")
        .distinct()
    )

    # call-site result ← callee's RETURN/METHOD_RETURN (arg-taints-return dual)
    returns = n.filter(F.col("kind").isin("RETURN", "METHOD_RETURN")).select(
        F.col("node_id").alias("ret_id"), F.col("method_id").alias("callee_id")
    )
    call_to_return = (
        call_edges.join(returns, "callee_id")
        .select(F.col("call_id").alias("node_id"),
                F.col("ret_id").alias("prev_id"),
                F.lit("ret").alias("hop_kind"),
                F.col("call_id"))
        .distinct()
    )
    return param_to_arg.unionByName(call_to_return)


class FlowEngine:
    """``reachableBy`` and ``reachableByFlows`` over one graph, shared across
    a scan bundle.

    The engine builds the backward step relation once, tagged:
    ``(node_id, next_id, cost, hop_kind, call_id)``, reversed REACHING_DEF at
    cost 0 with null tags ∪ ``interproc_back_edges_tagged`` at cost 1 (depth
    counts interprocedural hops only, the reference's k-limit). ``step`` is
    its untagged projection. Every :meth:`flow` call and every sub-graph of
    :meth:`flows` is one ``frontier.expand`` keyed by ``sink_id`` over that
    same ``step`` frame, so under the broadcast budget the step is fetched
    and broadcast once per engine, and each call is a lazy frame that runs
    inside its consumer's job (the reference's shared path cache,
    ``EngineConfig.shareCacheBetweenTasks``, ``Engine.scala:43-268``).
    """

    def __init__(self, nodes: DataFrame, edges: DataFrame):
        rd_back = _edges_of(edges, "REACHING_DEF").select(
            F.col("dst").alias("node_id"), F.col("src").alias("next_id"),
            F.lit(0).alias("cost"), F.lit(None).cast("string").alias("hop_kind"),
            F.lit(None).cast("long").alias("call_id"))
        hops = interproc_back_edges_tagged(nodes, edges).select(
            "node_id", F.col("prev_id").alias("next_id"), F.lit(1).alias("cost"),
            "hop_kind", "call_id")
        self.tagged = rd_back.unionByName(hops)
        self.step = self.tagged.select("node_id", "next_id", "cost")

    def _visited(self, sinks: DataFrame, max_depth: int | None) -> DataFrame:
        seed = sinks.select("node_id", F.col("node_id").alias("sink_id"),
                            F.lit(0).alias("depth"))
        return expand(seed, self.step, ["sink_id"], max_depth=max_depth)

    def flow(self, sinks: DataFrame, sources: DataFrame,
             max_call_depth: int = MAX_CALL_DEPTH) -> DataFrame:
        """(source_id, sink_id) pairs: every node whose value flows into a
        sink (reached backwards, at most ``max_call_depth`` interprocedural
        hops) that is also a source. Lazy; composes with other flows."""
        visited = self._visited(sinks, max_call_depth)
        # visited holds each (sink_id, node_id) once, so the pairs are distinct
        return visited.join(sources.select("node_id").distinct(), "node_id") \
            .select(F.col("node_id").alias("source_id"), "sink_id")

    def flows(self, sinks: DataFrame, sources: DataFrame,
              max_call_depth: int = MAX_CALL_DEPTH) -> DataFrame:
        """``reachableByFlows``: (sink_id, path array<long>) with forward
        source→sink node paths, the longest per (head, sink)
        (``Engine.scala:154-179``). Lazy.

        Each sink's rows are its backward sub-graph, the step edges out of
        every node ``expand`` reaches from it, and the sources among those
        nodes; only sinks that reach some source are walked. The sub-graph
        is unbounded: an ``expand`` depth is the round that first reached a
        node, not its fewest hops, so a ``max_call_depth`` bound could drop
        a node that a realizable path within the bound passes through. The
        walk enforces the bound itself (:func:`_path_walker`).
        """
        visited = self._visited(sinks, None).select("sink_id", "node_id")
        marks = visited.join(sources.select("node_id").distinct(), "node_id")
        rows = (
            visited.join(self.tagged, "node_id")
            .unionByName(marks, allowMissingColumns=True)
            .join(marks.select("sink_id").distinct(), "sink_id", "left_semi")
        )
        return map_groups(rows, ["sink_id"],
                          _path_walker(max_call_depth, MAX_SINK_PATHS),
                          _FLOWS_SCHEMA)


def _path_walker(max_call_depth: int, cap: int):
    """Per-sink DFS over the sink's sub-graph rows (a row with a null
    ``next_id`` marks a source). A REACHING_DEF step may not revisit a node
    of the current method segment, which restarts at every hop. A hop is
    taken while fewer than ``max_call_depth`` were: ``ret`` pushes its call
    site, ``arg`` needs an empty stack or that call site on top and pops it
    (``TaskCreator.scala:54-135``). Every source reached ends a path, the
    sink and hop landings included, and the walk goes on past it."""

    def walk(groups):
        out: list[list] = [[], []]
        for (sink,), rows in groups:
            rd: dict = {}
            hops: dict = {}
            sources = set()
            for r in rows:
                n, m = r["node_id"], r["next_id"]
                if m is None:
                    sources.add(n)
                elif r["cost"] == 0:
                    rd.setdefault(n, []).append(m)
                else:
                    hops.setdefault(n, []).append((m, r["hop_kind"], r["call_id"]))
            for adj in (rd, hops):
                for v in adj.values():
                    v.sort()
            best: dict = {}  # head → forward path, longest then smallest
            emitted = 0
            # (node, backward path, current segment, call-site stack, hops)
            stack = [(sink, (sink,), frozenset((sink,)), (), 0)]
            while stack:
                n, path, seg, calls, k = stack.pop()
                if n in sources:
                    if emitted == cap:
                        print(f"FlowEngine.flows stopped sink {sink} at "
                              f"MAX_SINK_PATHS={cap}; its paths are truncated",
                              file=sys.stderr)
                        break
                    emitted += 1
                    fwd = path[::-1]
                    old = best.get(n)
                    if old is None or (-len(fwd), fwd) < (-len(old), old):
                        best[n] = fwd
                for m in rd.get(n, ()):
                    if m not in seg:
                        stack.append((m, path + (m,), seg | {m}, calls, k))
                if k < max_call_depth:
                    for m, kind, call in hops.get(n, ()):
                        if kind == "ret":
                            nxt = calls + (call,)
                        elif not calls or calls[-1] == call:
                            nxt = calls[:-1]
                        else:
                            continue
                        stack.append((m, path + (m,), frozenset((m,)), nxt, k + 1))
            for p in best.values():
                out[0].append(sink)
                out[1].append(list(p))
            if len(out[0]) >= BATCH_ROWS:
                yield arrow_batch(out, _FLOWS_SCHEMA)
                out = [[], []]
        if out[0]:
            yield arrow_batch(out, _FLOWS_SCHEMA)

    return walk


def flow_result_pairs(nodes: DataFrame, paths: list[list[int]],
                      statement_level: bool = True) -> list[tuple]:
    """Map node-id paths to (code, line) tuples and dedup — the reference's
    ``flowToResultPairs`` comparison granularity (DataFlowTests.scala:46-60):
    each element renders as its enclosing statement's code (an identifier
    inside ``a = p0`` prints as ``a = p0``), consecutive duplicates collapse,
    and identical printed paths dedup.

    Metadata is fetched by BOUNDED semi-joins: only the path nodes and their
    parent chains (≤ a few rounds of a broadcast join each) ever reach the
    driver — never the whole nodes table.
    """
    spark = nodes.sparkSession
    meta: dict[int, dict] = {}
    need = sorted({int(n) for p in paths for n in p})
    for _ in range(32):
        if not need:
            break
        probe = spark.createDataFrame([(i,) for i in need], "node_id long")
        rows = (
            nodes.join(F.broadcast(probe), "node_id")
            .select("node_id", "code", "line", "kind", "parent_id")
            .collect()
        )
        for r in rows:
            meta[r["node_id"]] = r
        need = sorted({
            int(r["parent_id"]) for r in rows
            if r["parent_id"] is not None and r["parent_id"] not in meta
        })
    _STMT_PARENTS = {"BLOCK", "CONTROL_STRUCTURE", "METHOD", "JUMP_TARGET"}

    def stmt(nid):
        r = meta.get(nid)
        if r is None:
            return ("?", -1)
        if not statement_level:
            return (r["code"], r["line"])
        cur = r
        for _ in range(30):
            parent = meta.get(cur["parent_id"])
            if parent is None or parent["kind"] in _STMT_PARENTS:
                break
            cur = parent
        return (cur["code"], cur["line"])

    reps = set()
    for p in paths:
        rep = []
        for n in p:
            s = stmt(n)
            if not rep or rep[-1] != s:
                rep.append(s)
        reps.add(tuple(rep))
    return sorted(reps)


def reachable_by_flows(nodes: DataFrame, edges: DataFrame,
                       sinks: DataFrame, sources: DataFrame,
                       max_call_depth: int = MAX_CALL_DEPTH,
                       max_paths: int = 10000) -> list[list[int]]:
    """List-of-paths facade over :meth:`FlowEngine.flows` (tests/goldens).
    Only the ≤``max_paths`` final paths reach the driver."""
    rows = (
        FlowEngine(nodes, edges).flows(sinks, sources, max_call_depth)
        .limit(max_paths).collect()
    )
    return sorted([int(n) for n in r["path"]] for r in rows)
