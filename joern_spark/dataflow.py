"""Interprocedural backward taint reachability — ``reachableBy`` as bounded
iterative DataFrame joins.

Reference: the task-parallel engine in
``dataflowengineoss/.../queryengine/Engine.scala:43-268`` +
``TaskCreator.scala:26-100`` — per-sink backward DFS over in-REACHING_DEF
edges within a method, jumping interprocedurally at parameters (to caller
arguments) and at call sites (into callee returns), k-limited at
``maxCallDepth = 4`` (``Engine.scala:322``).

Spark shape: instead of per-sink tasks on a thread pool, ONE
``frontier.expand`` keyed by ``sink_id`` carries every sink's walk over one
step relation,
  reversed REACHING_DEF (cost 0)  ∪  param→arg hop  ∪  call→return hop (cost 1),
with ``max_depth = max_call_depth``. :class:`FlowEngine` builds that step once
per graph, so every query of a bundle walks the same relation, which is the
path-cache sharing the reference implements by hand
(``EngineConfig.shareCacheBetweenTasks``). Under the broadcast budget each
flow is a lazy frame that runs inside its consumer's job; over it, expand's
checkpointed loop runs the rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.frontier import expand

MAX_CALL_DEPTH = 4  # Engine.scala:322


def _edges_of(edges: DataFrame, kind: str) -> DataFrame:
    return edges.filter(F.col("kind") == kind)


def interproc_back_edges(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Backward interprocedural hops (node_id, prev_id):
    param ← caller argument and call-site ← callee RETURN/METHOD_RETURN."""
    return interproc_back_edges_tagged(nodes, edges).select("node_id", "prev_id")


def interproc_back_edges_tagged(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Backward interprocedural hops with call-site provenance
    (node_id, prev_id, hop_kind, call_id):

    - ``hop_kind='arg'``: callee param ← caller argument at call ``call_id``
      (backward traversal EXITS the callee) — the stitcher must pop a
      matching call site, or have an empty stack (``TaskCreator.scala:54-70``
      Case 1 / Case 2);
    - ``hop_kind='ret'``: call-site ← callee RETURN/METHOD_RETURN (backward
      traversal ENTERS the callee) — the stitcher pushes ``call_id``
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


def reachable_by(nodes: DataFrame, edges: DataFrame,
                 sinks: DataFrame, sources: DataFrame,
                 max_call_depth: int = MAX_CALL_DEPTH) -> DataFrame:
    """Which sources reach which sinks through data flow?

    sinks/sources: DataFrames with a ``node_id`` column.
    Returns (source_id, sink_id) pairs. One-off form of
    :meth:`FlowEngine.flow`; a bundle of queries over the same graph shares
    one engine instead (``Cpg.flow``).
    """
    return FlowEngine(nodes, edges).flow(sinks, sources, max_call_depth)


class FlowEngine:
    """``reachableBy`` over one graph, shared across a scan bundle.

    The engine builds the backward step relation once: reversed
    REACHING_DEF at cost 0 ∪ ``interproc_back_edges`` at cost 1 (depth
    counts interprocedural hops only, the reference's k-limit). Every
    :meth:`flow` call is one ``frontier.expand`` keyed by ``sink_id`` over
    that same step frame, so under the broadcast budget the step is fetched
    and broadcast once per engine, and each flow is a lazy frame that runs
    inside its consumer's job (the reference's shared path cache,
    ``EngineConfig.shareCacheBetweenTasks``, ``Engine.scala:43-268``).
    """

    def __init__(self, nodes: DataFrame, edges: DataFrame):
        rd_back = _edges_of(edges, "REACHING_DEF").select(
            F.col("dst").alias("node_id"), F.col("src").alias("next_id"),
            F.lit(0).alias("cost"))
        inter_back = interproc_back_edges(nodes, edges).select(
            "node_id", F.col("prev_id").alias("next_id"), F.lit(1).alias("cost"))
        self.step = rd_back.unionByName(inter_back)

    def flow(self, sinks: DataFrame, sources: DataFrame,
             max_call_depth: int = MAX_CALL_DEPTH) -> DataFrame:
        """(source_id, sink_id) pairs: every node whose value flows into a
        sink (reached backwards, at most ``max_call_depth`` interprocedural
        hops) that is also a source. Lazy; composes with other flows."""
        seed = sinks.select("node_id", F.col("node_id").alias("sink_id"),
                            F.lit(0).alias("depth"))
        visited = expand(seed, self.step, ["sink_id"], max_depth=max_call_depth)
        # visited holds each (sink_id, node_id) once, so the pairs are distinct
        return visited.join(sources.select("node_id").distinct(), "node_id") \
            .select(F.col("node_id").alias("source_id"), "sink_id")


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


_SEG_SCHEMA = (
    "method_id long, entry_id long, exit_id long, exit_role string, "
    "path array<long>"
)
_MAX_SEGMENT_PATHS = 4000  # per-entry DFS cap (Engine task caps analog)


def flow_segments(nodes: DataFrame, edges: DataFrame,
                  sinks: DataFrame, sources: DataFrame) -> DataFrame:
    """Method-local backward path segments, enumerated WHERE THE DATA LIVES.

    REACHING_DEF edges are method-local by construction (the per-method
    kernels emit them with ``method_id``), so path enumeration shards
    perfectly: one ``applyInPandas`` group per method walks its own RD
    subgraph backwards from every *entry* node (a sink, or a stitch landing
    point: a caller argument / a callee RETURN) and emits a segment whenever
    it reaches a *terminal* (a source → complete, or a boundary node that
    hops interprocedurally → to be stitched).  Paths are stored
    forward-ordered (exit … entry) so stitching is array concatenation.
    """
    rd = _edges_of(edges, "REACHING_DEF").select("method_id", "src", "dst") \
        .filter(F.col("method_id").isNotNull())
    inter = interproc_back_edges(nodes, edges)

    nid = nodes.select("node_id", "method_id")

    def _mark(ids: DataFrame, col: str, role: str) -> DataFrame:
        return (
            ids.select(F.col(col).alias("node_id")).distinct()
            .join(nid, "node_id")
            .select("method_id", "node_id", F.lit(role).alias("role"))
        )

    marks = (
        _mark(sinks, "node_id", "entry")
        .unionByName(_mark(inter, "prev_id", "entry"))      # stitch landings
        .unionByName(_mark(sources, "node_id", "source"))
        .unionByName(_mark(inter, "node_id", "boundary"))   # hop departures
        .filter(F.col("method_id").isNotNull())
        .distinct()
    )

    def kernel(key, edge_pdf, mark_pdf):
        import pandas as pd
        mid = key[0]
        back: dict[int, list[int]] = {}
        for s, d in zip(edge_pdf["src"], edge_pdf["dst"]):
            back.setdefault(int(d), []).append(int(s))
        roles: dict[int, set] = {}
        for n, r in zip(mark_pdf["node_id"], mark_pdf["role"]):
            roles.setdefault(int(n), set()).add(r)
        out = []
        entries = sorted(n for n, rs in roles.items() if "entry" in rs)
        for e in entries:
            count = 0
            # an entry that ITSELF carries a terminal role emits a length-1
            # segment: a stitch landing node that is the source closes the
            # flow (literal-at-call-site → callee param → sink), and one that
            # is also a hop departure (nested calls f(g(x))) keeps stitching
            rs0 = roles.get(e, ())
            if "source" in rs0:
                out.append((mid, e, e, "source", [e]))
                count += 1
            if "boundary" in rs0:
                out.append((mid, e, e, "boundary", [e]))
                count += 1
            stack: list[tuple[int, tuple[int, ...]]] = [(e, (e,))]
            while stack and count < _MAX_SEGMENT_PATHS:
                cur, path = stack.pop()
                if len(path) > 1:
                    rs = roles.get(cur, ())
                    if "source" in rs:
                        out.append((mid, e, cur, "source", list(reversed(path))))
                        count += 1
                    if "boundary" in rs:
                        out.append((mid, e, cur, "boundary", list(reversed(path))))
                        count += 1
                for prev in sorted(back.get(cur, ())):
                    if prev not in path:
                        stack.append((prev, path + (prev,)))
        return pd.DataFrame(
            out, columns=["method_id", "entry_id", "exit_id", "exit_role", "path"]
        ) if out else pd.DataFrame(
            columns=["method_id", "entry_id", "exit_id", "exit_role", "path"]
        )

    return (
        rd.groupby("method_id")
        .cogroup(marks.groupby("method_id"))
        .applyInPandas(kernel, schema=_SEG_SCHEMA)
    )


def reachable_by_flows_df(nodes: DataFrame, edges: DataFrame,
                          sinks: DataFrame, sources: DataFrame,
                          max_call_depth: int = MAX_CALL_DEPTH) -> DataFrame:
    """Distributed ``reachableByFlows``: (sink_id, path array<long>) with
    source→sink forward paths, keep-longest deduped per (head, sink) like
    ``Engine.scala:154-179``.

    Intra-method enumeration runs sharded (``flow_segments``); only the
    interprocedural stitching — ≤ ``max_call_depth`` rounds of equi-joins on
    the (small) boundary-segment table — crosses methods.  No full-table
    collects anywhere.
    """
    # localCheckpoint (not persist): the stitch loop builds round-over-round
    # joins, and without lineage truncation the logical plan tree grows
    # multiplicatively until plan *stringification* alone overflows the driver
    seg = flow_segments(nodes, edges, sinks, sources).localCheckpoint(eager=True)
    hops = interproc_back_edges_tagged(nodes, edges).select(
        F.col("node_id").alias("from_id"), F.col("prev_id").alias("to_id"),
        "hop_kind", "call_id",
    ).localCheckpoint(eager=True)

    sink_ids = sinks.select("node_id").distinct()
    base = seg.join(
        sink_ids.withColumnRenamed("node_id", "entry_id"), "entry_id"
    ).select(
        F.col("entry_id").alias("sink_id"), "exit_id", "exit_role", "path",
        # realizable-path call-site stack (TaskCreator.scala:54-100): which
        # call sites the backward walk has ENTERED (via call←return) and not
        # yet exited; an arg hop must pop a matching site or run on an empty
        # stack (unbalanced prefix: the walk started inside the callee)
        F.array().cast("array<long>").alias("stack"),
    )

    # trivial flow: a sink that itself satisfies the source predicate
    trivial = (
        sink_ids.join(sources.select("node_id").distinct(), "node_id")
        .select(F.col("node_id").alias("sink_id"),
                F.array(F.col("node_id")).alias("path"))
    )

    done = base.filter(F.col("exit_role") == "source").select("sink_id", "path") \
        .unionByName(trivial)
    open_ = base.filter(F.col("exit_role") == "boundary")

    ext = seg.select(
        F.col("entry_id").alias("to_id"),
        F.col("exit_id").alias("n_exit"),
        F.col("exit_role").alias("n_role"),
        F.col("path").alias("n_path"),
    )
    realizable = (
        (F.col("hop_kind") == "ret")
        | (F.size("stack") == 0)
        | (F.expr("try_element_at(stack, -1)") == F.col("call_id"))
    )
    next_stack = (
        F.when(F.col("hop_kind") == "ret",
               F.concat(F.col("stack"), F.array(F.col("call_id"))))
        .otherwise(F.expr("slice(stack, 1, greatest(size(stack) - 1, 0))"))
    )
    for _ in range(max_call_depth):
        nxt = (
            open_.join(hops, open_["exit_id"] == hops["from_id"])
            .filter(realizable)
            .join(ext, "to_id")
            .select(
                "sink_id",
                F.col("n_exit").alias("exit_id"),
                F.col("n_role").alias("exit_role"),
                F.concat(F.col("n_path"), F.col("path")).alias("path"),
                next_stack.alias("stack"),
            )
            .localCheckpoint(eager=True)
        )
        done = done.unionByName(
            nxt.filter(F.col("exit_role") == "source").select("sink_id", "path")
        )
        open_ = nxt.filter(F.col("exit_role") == "boundary")
        if open_.limit(1).count() == 0:
            break

    # keep-longest per (head, sink) — Engine.scala:154-179 dedup
    from pyspark.sql import Window

    w = Window.partitionBy("sink_id", F.element_at("path", 1)).orderBy(
        F.size("path").desc(), F.col("path")
    )
    return (
        done.distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("sink_id", "path")
    )


def reachable_by_flows(nodes: DataFrame, edges: DataFrame,
                       sinks: DataFrame, sources: DataFrame,
                       max_call_depth: int = MAX_CALL_DEPTH,
                       max_paths: int = 10000) -> list[list[int]]:
    """List-of-paths facade over ``reachable_by_flows_df`` (tests/goldens).
    Only the ≤``max_paths`` final paths reach the driver."""
    rows = (
        reachable_by_flows_df(nodes, edges, sinks, sources, max_call_depth)
        .limit(max_paths).collect()
    )
    return sorted([int(n) for n in r["path"]] for r in rows)
