"""Independent reference implementations the parity tests compare against.

- ``type_recovery_events``: type recovery as bounded rounds of declarative
  DataFrame joins. Production recovers types per method inside the fused
  kernel (``type_recovery.recover_types_for_method``);
  test_fused_recovery.py asserts the two produce the same event set.
- ``static_call_linker``, ``dynamic_call_linker``,
  ``type_hint_call_linker``, ``naive_call_linker``,
  ``prefer_internal_call_edges``: the sequential static → CHA → hint → naive
  linker chain with window-based prefer-internal pruning. Production
  arbitrates all candidates in one aggregate (``callgraph.link_calls``);
  test_dims.py asserts the two link the same calls. Each linker takes the
  ``fits`` broadcast decision of the candidate frames it wraps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from joern_spark.operators.callgraph import (
    _dynamic_candidates,
    _naive_candidates,
    _static_candidates,
)
from joern_spark.operators.type_recovery import (
    _FIELD_ACCESS_OPS,
    ITERATIONS,
    _hint_candidates,
)


def _declared(nodes: DataFrame) -> DataFrame:
    return (
        nodes.filter(
            F.col("kind").isin("LOCAL", "METHOD_PARAMETER_IN")
            & F.col("type_full_name").isNotNull() & (F.col("type_full_name") != "")
        )
        .select(F.col("method_id").alias("v_mid"), F.col("name").alias("v_name"),
                F.col("type_full_name").alias("v_type"))
        .dropDuplicates(["v_mid", "v_name"])
    )


def _members_dim(nodes: DataFrame) -> DataFrame:
    """(class full_name, member name, member declared type)."""
    classes = nodes.filter(F.col("kind") == "TYPE_DECL").select(
        F.col("node_id").alias("c_id"), F.col("full_name").alias("mc_full")
    )
    return (
        nodes.filter(
            (F.col("kind") == "MEMBER")
            & F.col("type_full_name").isNotNull() & (F.col("type_full_name") != "")
        )
        .join(classes, F.col("parent_id") == F.col("c_id"))
        .select(F.col("mc_full").alias("recv_type"), F.col("name").alias("f_name"),
                F.col("type_full_name").alias("member_type"))
    )


def _distribute(rec: DataFrame, idents: DataFrame) -> DataFrame:
    """Lift node-level type events to the variable level: every occurrence of
    (method, name) carries every hint recorded for any occurrence — the
    dynamicTypeHintFullName set semantics of XTypeRecovery (one assignment
    types the variable, not just the assigned identifier node)."""
    per_var = (
        rec.join(idents.select("node_id", "method_id", "name"), "node_id")
        .select("method_id", "name", "recovered_type")
        .distinct()
    )
    return idents.join(per_var, ["method_id", "name"]).select(
        "node_id", "recovered_type"
    )


def type_recovery_events(nodes: DataFrame, iterations: int = ITERATIONS) -> DataFrame:
    """→ (node_id, recovered_type) hint events for identifiers (multi-row:
    a node carries every hint its variable accumulated).

    Full-rule analog of ``XTypeRecovery.scala`` as bounded join rounds:
    declared types, ``this``, assignment transfer from typed RHS
    (alloc/cast results, typed identifiers, internal-call returns, member
    loads) — each iteration is one round of declarative equi-joins, the
    distributed re-expression of the reference's per-procedure
    ``RecoverForXCompilationUnit`` worklist."""
    idents = nodes.filter(F.col("kind") == "IDENTIFIER").select(
        "node_id", "method_id", "name", "parent_id"
    )

    # round 0a: declared variable types
    decl = _declared(nodes)
    rec = (
        idents.join(
            decl,
            (idents["method_id"] == decl["v_mid"]) & (idents["name"] == decl["v_name"]),
        )
        .select(idents["node_id"], F.col("v_type").alias("recovered_type"))
    )

    # round 0b: `this` → enclosing class (METHOD.parent_id → TYPE_DECL)
    methods = nodes.filter(F.col("kind") == "METHOD").select(
        F.col("node_id").alias("m_id"), F.col("parent_id").alias("m_parent")
    )
    classes = nodes.filter(F.col("kind") == "TYPE_DECL").select(
        F.col("node_id").alias("c_id"), F.col("full_name").alias("c_full")
    )
    this_types = (
        idents.filter(F.col("name") == "this")
        .join(methods, idents["method_id"] == methods["m_id"])
        .join(classes, F.col("m_parent") == F.col("c_id"))
        .select("node_id", F.col("c_full").alias("recovered_type"))
    )
    rec = rec.unionByName(this_types)

    # bounded assignment-propagation rounds
    assigns = nodes.filter(
        (F.col("kind") == "CALL") & (F.col("name") == "<operator>.assignment")
    ).select(F.col("node_id").alias("a_id"))
    kids = nodes.filter(F.col("argument_index").isNotNull()).select(
        "node_id", "parent_id", "argument_index", "kind", "name",
        F.col("type_full_name").alias("tfn"),
    )
    targets = (
        assigns.join(kids, (F.col("a_id") == kids["parent_id"])
                     & (kids["argument_index"] == 1)
                     & (kids["kind"] == "IDENTIFIER"))
        .select("a_id", F.col("node_id").alias("t_id"), F.col("name").alias("t_name"),
                F.col("parent_id").alias("t_parent"))
    )
    # any typed RHS call result: alloc (`new X()` lowers to <init> with
    # type_full_name set), casts, constructors
    alloc_rhs = (
        assigns.join(kids, (F.col("a_id") == kids["parent_id"])
                     & (kids["argument_index"] == 2)
                     & (kids["kind"] == "CALL")
                     & F.col("tfn").isNotNull() & (F.col("tfn") != ""))
        .select("a_id", F.col("tfn").alias("rhs_type"))
    )
    # internal-call-return RHS: `x = g()` takes g's METHOD_RETURN type
    methods = nodes.filter(F.col("kind") == "METHOD").select(
        F.col("node_id").alias("mm_id"), F.col("full_name").alias("mm_full")
    )
    rets = nodes.filter(
        (F.col("kind") == "METHOD_RETURN")
        & F.col("type_full_name").isNotNull() & (F.col("type_full_name") != "")
        & (F.col("type_full_name") != "ANY")
    ).select(F.col("method_id").alias("mm_id"), F.col("type_full_name").alias("ret_type"))
    method_ret = methods.join(rets, "mm_id").select(
        F.col("mm_full").alias("callee_full"), "ret_type"
    )
    call_ret_rhs = (
        assigns.join(kids, (F.col("a_id") == kids["parent_id"])
                     & (kids["argument_index"] == 2)
                     & (kids["kind"] == "CALL")
                     & ~F.col("name").startswith("<operator>"))
        .select("a_id", F.col("node_id").alias("rhs_call"))
        .join(
            nodes.select(F.col("node_id").alias("rhs_call"),
                         F.col("full_name").alias("callee_full")),
            "rhs_call",
        )
        .join(method_ret, "callee_full")
        .select("a_id", F.col("ret_type").alias("rhs_type"))
    )
    alloc_rhs = alloc_rhs.unionByName(call_ret_rhs)

    members = _members_dim(nodes)
    fa_calls = nodes.filter(
        (F.col("kind") == "CALL") & F.col("name").isin(_FIELD_ACCESS_OPS)
    ).select(F.col("node_id").alias("fa_id"))
    fa_recv = nodes.filter(
        (F.col("kind") == "IDENTIFIER") & (F.col("argument_index") == 1)
    ).select(F.col("parent_id").alias("fa_id"), F.col("node_id").alias("recv_id"))
    fa_fields = nodes.filter(F.col("kind") == "FIELD_IDENTIFIER").select(
        F.col("parent_id").alias("fa_id"), F.col("name").alias("f_name")
    )
    deref = F.trim(F.regexp_replace(F.col("recovered_type"), r"\*", ""))

    for _ in range(max(0, iterations - 1)):
        rec_d = _distribute(rec, idents)
        # typed RHS identifiers propagate to the assignment target
        rhs_ident = (
            assigns.join(kids, (F.col("a_id") == kids["parent_id"])
                         & (kids["argument_index"] == 2)
                         & (kids["kind"] == "IDENTIFIER"))
            .select("a_id", F.col("node_id").alias("r_id"))
            .join(rec_d.withColumnRenamed("node_id", "r_id"), "r_id")
            .select("a_id", F.col("recovered_type").alias("rhs_type"))
        )
        # member-load RHS: `x = a.b` takes MEMBER b's declared type, keyed by
        # a's recovered (dereferenced) type — XTypeRecovery field-level rule
        fa_typed = (
            fa_calls.join(fa_recv, "fa_id")
            .join(rec_d.withColumnRenamed("node_id", "recv_id"), "recv_id")
            .select("fa_id", deref.alias("recv_type"))
            .join(fa_fields, "fa_id")
            .join(members, ["recv_type", "f_name"])
            .select("fa_id", F.col("member_type").alias("rhs_type"))
        )
        member_rhs = (
            assigns.join(kids, (F.col("a_id") == kids["parent_id"])
                         & (kids["argument_index"] == 2)
                         & (kids["kind"] == "CALL")
                         & F.col("name").isin(_FIELD_ACCESS_OPS))
            .select("a_id", F.col("node_id").alias("fa_id"))
            .join(fa_typed, "fa_id")
            .select("a_id", "rhs_type")
        )
        new_types = (
            targets.join(
                alloc_rhs.unionByName(rhs_ident).unionByName(member_rhs), "a_id"
            )
            .select(F.col("t_id").alias("node_id"),
                    F.col("rhs_type").alias("recovered_type"))
        )
        rec = rec.unionByName(new_types)

    return _distribute(rec, idents).distinct()


def _call_edges(candidates: DataFrame) -> DataFrame:
    return candidates.select(
        "src", "dst",
        F.lit("CALL").alias("kind"), F.lit("").alias("variable"),
        "doc_id", "method_id",
    )


def static_call_linker(nodes: DataFrame, fits: bool) -> DataFrame:
    """CALL edges for STATIC_DISPATCH / INLINED calls."""
    return _call_edges(_static_candidates(nodes, fits))


def dynamic_call_linker(nodes: DataFrame, edges: DataFrame,
                        fits: bool) -> DataFrame:
    """CHA resolution for DYNAMIC_DISPATCH calls.

    call full_name = ``Recv.m`` → candidates = methods ``C.m`` for every C in
    subclass-closure(Recv); if none, walk up the superclass chain
    (``DynamicCallLinker.scala:142-167``); prefer internal methods over
    external stubs (``:187-196``).
    """
    candidates = _dynamic_candidates(nodes, edges, fits)
    # prefer-internal pruning: if any internal candidate exists for a call,
    # drop the external stubs (window over call id).
    w = W.partitionBy("src")
    candidates = (
        candidates.withColumn(
            "has_internal", F.max(F.when(~F.col("m_external"), 1).otherwise(0)).over(w)
        )
        .filter((F.col("has_internal") == 0) | (~F.col("m_external")))
    )
    return _call_edges(candidates).distinct()


def type_hint_call_linker(nodes: DataFrame, edges: DataFrame,
                          existing_call_edges: DataFrame,
                          recovered: DataFrame, fits: bool) -> DataFrame:
    """CALL edges from recovered dynamic type hints.

    Reference ``XTypeHintCallLinker.scala:22-90``: for calls that no other
    linker resolved, materialize CALL edges to methods whose full_name
    matches a hint; unresolved-call filtering is an anti-join on the
    already-linked call ids."""
    candidates = _hint_candidates(nodes, edges, recovered, fits)
    # a call linked only to an external stub still counts as unresolved —
    # XTypeHintCallLinker.calls requires callee.isEmpty of *real* methods
    internal_m = nodes.filter(
        (F.col("kind") == "METHOD") & (~F.col("is_external"))
    ).select(F.col("node_id").alias("dst"))
    linked = (
        existing_call_edges.join(internal_m, "dst")
        .select(F.col("src")).distinct()
    )
    return _call_edges(candidates.join(linked, "src", "left_anti"))


def naive_call_linker(nodes: DataFrame, call_edges: DataFrame,
                      fits: bool) -> DataFrame:
    """Leftover calls linked by bare name against non-operator methods."""
    return _call_edges(_naive_candidates(nodes, call_edges, fits))


def prefer_internal_call_edges(call_edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Drop a call's external-stub CALL edges when it also resolved to an
    internal method (DynamicCallLinker.scala:187-196 pruning, applied across
    all linkers so a recovered-hint resolution supersedes a stub link)."""
    meth = nodes.filter(F.col("kind") == "METHOD").select(
        F.col("node_id").alias("dst"), F.col("is_external").alias("m_ext")
    )
    joined = call_edges.join(meth, "dst", "left")
    w = W.partitionBy("src")
    return (
        joined.withColumn(
            "has_internal",
            F.max(F.when(~F.coalesce(F.col("m_ext"), F.lit(True)), 1).otherwise(0)).over(w),
        )
        .filter((F.col("has_internal") == 0)
                | (~F.coalesce(F.col("m_ext"), F.lit(True))))
        .select(*call_edges.columns)
    )
