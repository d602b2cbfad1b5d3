"""Graph-level metrics over the constructed CPG-as-KG.

Two query families the reference exposes through its DSL and querydb:

- ``method_metrics``: the per-method code-metrics table behind the
  querydb metrics pack (``querydb/.../c/Metrics.scala:10-230`` —
  tooManyParameters / tooHighComplexity / tooLong / multipleReturns /
  tooManyLoops) plus the classic cyclomatic complexity ``E - N + 2``
  computed from the method's CFG subgraph (semanticcpg exposes the same
  per-method CFG via ``method.cfgNode``; the scanners' proxy is
  ``controlStructure.size``). One aggregation pass per input frame,
  all grouped on ``method_id`` — at 100 TB each branch is a map-side
  partial aggregate into one shuffle keyed by method, then a broadcast
  join back to the (small) METHOD dimension.

- ``call_closure``: bounded-depth transitive closure over the
  method-level call graph — the engine behind the DSL's
  ``method.repeat(_.callee)`` step (reference
  ``semanticcpg/.../language/package.scala`` RepeatTraversal /
  querydb interprocedural queries). BFS via ``frontier.expand`` keyed by
  the root method: under the dims budget a lazy walk over the broadcast
  edge relation; over it, each round is one equi-join of the frontier
  against the (re-used, checkpointed) edge relation keyed by caller, with
  a left-anti join against the visited set so every pair is expanded
  exactly once — which also makes ``hops`` the MINIMUM hop count. Rounds are
  bounded by ``CLOSURE_MAX_HOPS`` in both this implementation and the
  DuckDB recursive-CTE oracle, so semantics stay identical.

At cluster scale the BFS frontier join shuffles on ``caller_mid`` every
round; the edge relation is checkpointed once and re-used, and skewed
hub callees (external stubs like ``malloc``) contribute no expansion
because external METHODs have no outgoing CALL edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .frontier import expand

# loop-shaped control structures, reference Metrics.scala:163-170
# (controlStructureType("(FOR|DO|WHILE)"))
LOOP_CTRL_TYPES = ("FOR", "DO", "WHILE")

# bound for the call-closure BFS; mirrored in the DuckDB oracle
# (cpg_oracles._CALL_CLOSURE_SQL) so both engines compute the same set.
CLOSURE_MAX_HOPS = 6


def method_metrics(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-internal-method metrics table.

    Columns: doc_id, method_full_name, n_params, n_control, n_loops,
    n_returns, cfg_edges, cfg_nodes, cyclomatic (= E - N + 2 over the
    method's CFG subgraph; 1 for straight-line code).
    """
    methods = (
        nodes.filter(
            (F.col("kind") == "METHOD")
            & ~F.col("is_external")
            & (F.col("name") != "<global>")
        )
        .select(
            F.col("node_id").alias("method_id"),
            "doc_id",
            F.col("full_name").alias("method_full_name"),
        )
    )

    def _count(kinds, alias, extra=None):
        d = nodes.filter(F.col("kind").isin(*kinds))
        if extra is not None:
            d = d.filter(extra)
        return d.groupBy("method_id").agg(F.count("*").alias(alias))

    params = _count(["METHOD_PARAMETER_IN"], "n_params")
    ctrl = _count(["CONTROL_STRUCTURE"], "n_control")
    loops = _count(
        ["CONTROL_STRUCTURE"], "n_loops", F.col("ctrl_type").isin(*LOOP_CTRL_TYPES)
    )
    rets = _count(["RETURN"], "n_returns")

    cfg = edges.filter(F.col("kind") == "CFG")
    cfg_e = cfg.groupBy("method_id").agg(F.count("*").alias("cfg_edges"))
    cfg_n = (
        cfg.select("method_id", F.col("src").alias("nid"))
        .unionByName(cfg.select("method_id", F.col("dst").alias("nid")))
        .distinct()
        .groupBy("method_id")
        .agg(F.count("*").alias("cfg_nodes"))
    )

    out = methods
    for d in (params, ctrl, loops, rets, cfg_e, cfg_n):
        out = out.join(d, "method_id", "left")
    zero = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")  # noqa: E731
    return out.select(
        "doc_id",
        "method_full_name",
        zero("n_params").alias("n_params"),
        zero("n_control").alias("n_control"),
        zero("n_loops").alias("n_loops"),
        zero("n_returns").alias("n_returns"),
        zero("cfg_edges").alias("cfg_edges"),
        zero("cfg_nodes").alias("cfg_nodes"),
        (zero("cfg_edges") - zero("cfg_nodes") + F.lit(2)).cast("long").alias("cyclomatic"),
    )


def call_closure(nodes: DataFrame, edges: DataFrame,
                 max_hops: int = CLOSURE_MAX_HOPS) -> DataFrame:
    """Transitive (caller, callee) method pairs within ``max_hops``.

    Columns: src_full_name, dst_full_name, hops (minimum hop count).
    ``frontier.expand`` over method ids; names are joined
    at the end and min-hop re-aggregated so stub/internal METHODs that
    share a full_name collapse to one row.
    """
    caller = nodes.select(
        F.col("node_id").alias("src"), F.col("method_id").alias("caller_mid")
    )
    base = (
        edges.filter(F.col("kind") == "CALL")
        .select("src", F.col("dst").alias("callee_mid"))
        .join(caller, "src")
        .select("caller_mid", "callee_mid")
        .distinct()
        .localCheckpoint(eager=True)
    )
    step = base.select(F.col("caller_mid").alias("node_id"),
                        F.col("callee_mid").alias("next_id"),
                        F.lit(1).alias("cost"))
    seed = base.select(F.col("caller_mid").alias("root_mid"),
                        F.col("callee_mid").alias("node_id"),
                        F.lit(1).alias("depth"))
    acc = expand(seed, step, ["root_mid"], max_depth=max_hops).select(
        "root_mid", F.col("node_id").alias("dst_mid"), F.col("depth").alias("hops"))

    names = nodes.filter(F.col("kind") == "METHOD").select(
        F.col("node_id").alias("mid"), F.col("full_name").alias("fn")
    )
    return (
        acc.join(names.select(F.col("mid").alias("root_mid"), F.col("fn").alias("src_full_name")), "root_mid")
        .join(names.select(F.col("mid").alias("dst_mid"), F.col("fn").alias("dst_full_name")), "dst_mid")
        .groupBy("src_full_name", "dst_full_name")
        .agg(F.min("hops").cast("long").alias("hops"))
    )
