"""Program slices — the ``joern-slice`` tool re-expressed Spark-first.

Reference:
- ``dataflowengineoss/.../slicing/DataFlowSlicing.scala:20-66`` — per call
  site, the backward data-dependence closure of its arguments (ddgIn up to
  ``sliceDepth``) plus the edges among the slice nodes.
- ``dataflowengineoss/.../slicing/UsageSlicing.scala:33-100`` — per declared
  variable, how the object is used: what defines it, which calls are invoked
  on it, which calls receive it as an argument.

Spark shape: the reference fans out one thread-pool task per sink/declaration
(``ConcurrentTaskUtil``); here the same fan-out is the DataFrame itself —
the ddg closure is ``frontier.expand`` over REACHING_DEF (depth rounds, all
sinks advance together), and usage slices are three equi-joins + one
grouped aggregation. Everything stays distributed; results are DataFrames a
caller writes with ``df.write.json`` (one JSON slice row per part).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.frontier import expand

SLICE_DEPTH_DEFAULT = 20  # DataFlowConfig.sliceDepth default


def data_flow_slice(nodes: DataFrame, edges: DataFrame,
                    slice_depth: int = SLICE_DEPTH_DEFAULT) -> tuple[DataFrame, DataFrame]:
    """→ (slice_nodes, slice_edges).

    slice_nodes: (node_id, kind, code, parent_method, parent_file, line) —
    every node in the backward REACHING_DEF closure of any call argument.
    slice_edges: (src, dst, kind) — edges with both endpoints in the slice.
    """
    args = edges.filter(F.col("kind") == "ARGUMENT").select(
        F.col("dst").alias("node_id"), F.lit(0).alias("depth")
    )
    rd_back = edges.filter(F.col("kind") == "REACHING_DEF").select(
        F.col("dst").alias("node_id"), F.col("src").alias("next_id"),
        F.lit(1).alias("cost"),
    )

    visited = expand(args, rd_back, max_depth=slice_depth).select("node_id")

    methods = nodes.filter(F.col("kind") == "METHOD").select(
        F.col("node_id").alias("method_id"), F.col("full_name").alias("parent_method")
    )
    slice_nodes = (
        visited.join(nodes, "node_id")
        .join(methods, "method_id", "left")
        .select(
            "node_id", "kind", "code",
            F.coalesce("parent_method", F.lit("")).alias("parent_method"),
            F.col("filename").alias("parent_file"), "line",
        )
    )
    in_slice_src = visited.select(F.col("node_id").alias("src"))
    in_slice_dst = visited.select(F.col("node_id").alias("dst"))
    slice_edges = (
        edges.join(in_slice_src, "src").join(in_slice_dst, "dst")
        .select("src", "dst", "kind")
        .distinct()
    )
    return slice_nodes, slice_edges


def usage_slices(nodes: DataFrame, edges: DataFrame,
                 min_num_calls: int = 1) -> DataFrame:
    """→ one row per declared variable with usage facts:

    (method_full_name, file_name, var_name, var_type, defined_by,
     invoked_calls, arg_to_calls) — the ObjectUsageSlice analog: defined_by
    is the RHS code of the defining assignment, invoked_calls the dynamic
    calls whose receiver is the variable, arg_to_calls the calls that take
    it as an argument."""
    # deterministic per-(method, name) reduction: dropDuplicates keeps an
    # arbitrary row, which would make the declared type depend on partition
    # order — MIN over the (rare) conflicting declarations is stable and lets
    # the DuckDB oracle mirror the pick exactly
    decls = (
        nodes.filter(F.col("kind").isin("LOCAL", "METHOD_PARAMETER_IN"))
        .groupBy(F.col("method_id").alias("d_mid"), F.col("name").alias("var_name"))
        .agg(F.min("type_full_name").alias("var_type"))
    )

    uses = nodes.filter(F.col("kind") == "IDENTIFIER").select(
        F.col("node_id").alias("use_id"), F.col("method_id").alias("d_mid"),
        F.col("name").alias("var_name"),
    ).join(decls, ["d_mid", "var_name"])

    calls = nodes.filter(F.col("kind") == "CALL").select(
        F.col("node_id").alias("call_id"), F.col("name").alias("call_name"),
        F.col("dispatch_type").alias("disp"),
    )

    recv = edges.filter(F.col("kind") == "RECEIVER").select(
        F.col("src").alias("call_id"), F.col("dst").alias("use_id")
    )
    invoked = (
        uses.join(recv, "use_id").join(calls, "call_id")
        .select("d_mid", "var_name", F.col("call_name").alias("c"))
    )

    args = edges.filter(F.col("kind") == "ARGUMENT").select(
        F.col("src").alias("call_id"), F.col("dst").alias("use_id")
    )
    arg_to = (
        uses.join(args, "use_id").join(calls, "call_id")
        .filter(~F.col("call_name").startswith("<operator>"))
        .select("d_mid", "var_name", F.col("call_name").alias("c"))
    )

    # defined_by: `v = rhs` → rhs code (UsageSlicing defNode)
    assigns = nodes.filter(
        (F.col("kind") == "CALL") & (F.col("name") == "<operator>.assignment")
    ).select(F.col("node_id").alias("a_id"))
    kids = nodes.select("node_id", "parent_id", "argument_index", "kind",
                        "name", "code")
    lhs = (
        assigns.join(kids, (F.col("a_id") == kids["parent_id"])
                     & (kids["argument_index"] == 1)
                     & (kids["kind"] == "IDENTIFIER"))
        .select("a_id", F.col("node_id").alias("use_id"))
        .join(uses, "use_id")
        .select("a_id", "d_mid", "var_name")
    )
    rhs = (
        assigns.join(kids, (F.col("a_id") == kids["parent_id"])
                     & (kids["argument_index"] == 2))
        .select("a_id", F.col("code").alias("rhs_code"))
    )
    defined = lhs.join(rhs, "a_id").groupBy("d_mid", "var_name").agg(
        F.min("rhs_code").alias("defined_by")
    )

    methods = nodes.filter(F.col("kind") == "METHOD").select(
        F.col("node_id").alias("d_mid"),
        F.col("full_name").alias("method_full_name"),
        F.col("filename").alias("file_name"),
    )
    inv_agg = invoked.groupBy("d_mid", "var_name").agg(
        F.sort_array(F.collect_set("c")).alias("invoked_calls"))
    arg_agg = arg_to.groupBy("d_mid", "var_name").agg(
        F.sort_array(F.collect_set("c")).alias("arg_to_calls"))

    out = (
        decls.join(inv_agg, ["d_mid", "var_name"], "left")
        .join(arg_agg, ["d_mid", "var_name"], "left")
        .join(defined, ["d_mid", "var_name"], "left")
        .join(methods, "d_mid")
        .select(
            "method_full_name", "file_name", "var_name", "var_type",
            F.coalesce("defined_by", F.lit("")).alias("defined_by"),
            F.coalesce("invoked_calls", F.array()).alias("invoked_calls"),
            F.coalesce("arg_to_calls", F.array()).alias("arg_to_calls"),
        )
    )
    # atLeastNCalls filter (UsageSlicing.scala:57)
    return out.filter(
        F.size("invoked_calls") + F.size("arg_to_calls") >= min_num_calls
    )

