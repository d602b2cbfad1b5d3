"""Type recovery + field-access linking.

- ``recover_types_for_method``: bounded-iteration type propagation for one
  method's identifiers (reference XTypeRecovery,
  ``x2cpg/.../frontend/XTypeRecovery.scala`` — default 2 iterations,
  ``:28``), run per method by the fused kernel (``method_kernels.py``):
    round 0: declared types — IDENTIFIER ← (method, name) → LOCAL /
             METHOD_PARAMETER_IN.type_full_name; ``this`` ← enclosing class.
    round k: assignment propagation — ``a = rhs`` gives a's identifiers the
             rhs type (alloc calls ``new X()`` and typed identifiers).
  The kernel emits the events as ``_TYPE_HINT`` rows;
  ``method_kernels.type_hints`` turns them into (node_id, recovered_type)
  rows — the DYNAMIC_TYPE_HINT analog, several rows per node when a
  variable carries several hints.
- ``field_access_linker``: REF edges from ``<operator>.fieldAccess`` CALLs to
  the MEMBER they access, key = (receiver recovered type, field name)
  (reference FieldAccessLinkerPass,
  ``x2cpg/.../typerelations/FieldAccessLinkerPass.scala:17-87``).
- ``dynamic_type_hints`` / ``_hint_candidates``: CALL candidates from the
  recovered receiver types (``XTypeHintCallLinker.scala:22-90``), which
  ``callgraph.link_calls`` arbitrates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dims import budgeted_broadcast

ITERATIONS = 2  # XTypeRecovery.scala:28

_FIELD_ACCESS_OPS = ["<operator>.fieldAccess", "<operator>.indirectFieldAccess"]


# Every rule joins on ids within one method except three vocabulary-sized
# dimensions — callee return types, members, enclosing classes — which the
# fused kernel's input carries as columns (method_kernels._kernel_input).
# tests/reference_impls.py keeps an independent DataFrame implementation of
# the same rules; tests/test_fused_recovery.py asserts event-set equality.

def _str_or_none(v):
    """pandas record values: None/NaN -> None (NaN is truthy!)."""
    return v if isinstance(v, str) else None


def recover_types_for_method(rows: list[dict],
                             iterations: int = ITERATIONS) -> list[tuple[int, str]]:
    """The sorted distinct (identifier node_id, recovered_type) events for one
    method's rows: declared types, `this`, then ``iterations-1``
    assignment-propagation rounds, each followed by variable-level hint
    distribution (every occurrence of a name carries every hint any
    occurrence got — XTypeRecovery's dynamicTypeHintFullName set semantics).
    The cross-document lookups read the fact columns of
    ``method_kernels._kernel_input``: CALL ``callee_ret_types``, METHOD
    ``class_full``, FIELD_IDENTIFIER ``member_types``."""
    idents = [r for r in rows if r["kind"] == "IDENTIFIER"]
    if not idents:
        return []
    rec: list[tuple[int, str]] = []

    # round 0a: declared variable types (deterministic min when a name is
    # multiply declared in the method)
    decl: dict[str, str] = {}
    for r in rows:
        if r["kind"] in ("LOCAL", "METHOD_PARAMETER_IN"):
            t = _str_or_none(r.get("type_full_name"))
            if t:
                prev = decl.get(r["name"])
                decl[r["name"]] = t if prev is None else min(prev, t)
    for i in idents:
        t = decl.get(i["name"])
        if t:
            rec.append((i["node_id"], t))

    # round 0b: `this` -> enclosing class
    meth = next((r for r in rows if r["kind"] == "METHOD"), None)
    cls = meth.get("class_full") if meth is not None else None
    if cls:
        for i in idents:
            if i["name"] == "this":
                rec.append((i["node_id"], cls))

    # assignment machinery (computed once)
    kids_by_parent: dict[int, list[dict]] = {}
    for r in rows:
        if r.get("argument_index") is not None:
            kids_by_parent.setdefault(r["parent_id"], []).append(r)
    fa_ids = {r["node_id"] for r in rows
              if r["kind"] == "CALL"
              and _str_or_none(r.get("name")) in _FIELD_ACCESS_OPS}
    fa_recv: dict[int, list[int]] = {}
    fa_fields: dict[int, list[dict]] = {}  # fa -> per-field class -> types
    for r in rows:
        p = r.get("parent_id")
        if p in fa_ids:
            if r["kind"] == "IDENTIFIER" and r.get("argument_index") == 1:
                fa_recv.setdefault(p, []).append(r["node_id"])
            elif r["kind"] == "FIELD_IDENTIFIER":
                # Arrow hands map columns over as (key, value) pairs
                fa_fields.setdefault(p, []).append(
                    dict(r.get("member_types") or ()))

    targets: list[tuple[int, int]] = []       # (a_id, target ident node)
    rhs_static: dict[int, set] = {}           # a_id -> typed-RHS types
    rhs_ident_ids: dict[int, list[dict]] = {}  # a_id -> arg2 identifier rows
    rhs_fa_ids: dict[int, list[int]] = {}     # a_id -> arg2 fieldAccess calls
    for r in rows:
        if r["kind"] == "CALL" and r.get("name") == "<operator>.assignment":
            a_id = r["node_id"]
            for k in kids_by_parent.get(a_id, ()):
                ai = k.get("argument_index")
                if ai == 1 and k["kind"] == "IDENTIFIER":
                    targets.append((a_id, k["node_id"]))
                elif ai == 2 and k["kind"] == "CALL":
                    tfn = _str_or_none(k.get("type_full_name"))
                    if tfn:
                        rhs_static.setdefault(a_id, set()).add(tfn)
                    nm = _str_or_none(k.get("name")) or ""
                    if not nm.startswith("<operator>"):
                        for rt in k.get("callee_ret_types") or ():
                            rhs_static.setdefault(a_id, set()).add(rt)
                    if nm in _FIELD_ACCESS_OPS:
                        rhs_fa_ids.setdefault(a_id, []).append(k["node_id"])
                elif ai == 2 and k["kind"] == "IDENTIFIER":
                    rhs_ident_ids.setdefault(a_id, []).append(k)

    ident_names = {i["node_id"]: i["name"] for i in idents}

    def distribute() -> dict[str, set]:
        hints: dict[str, set] = {}
        for nid, t in rec:
            nm = ident_names.get(nid)
            if nm is not None:
                hints.setdefault(nm, set()).add(t)
        return hints

    for _ in range(max(0, iterations - 1)):
        var_hints = distribute()
        # member-load RHS: fa call result types via recovered receiver
        fa_types: dict[int, set] = {}
        for fa in fa_ids:
            fields = fa_fields.get(fa)
            if not fields:
                continue
            for rid in fa_recv.get(fa, ()):
                nm = ident_names.get(rid)
                if nm is None:
                    continue
                for t in var_hints.get(nm, ()):
                    rt = t.replace("*", "").strip()
                    for by_class in fields:
                        for mt in by_class.get(rt, ()):
                            fa_types.setdefault(fa, set()).add(mt)
        new: list[tuple[int, str]] = []
        for a_id, t_id in targets:
            rhs = set(rhs_static.get(a_id, ()))
            for k in rhs_ident_ids.get(a_id, ()):
                rhs |= var_hints.get(k["name"], set())
            for fid in rhs_fa_ids.get(a_id, ()):
                rhs |= fa_types.get(fid, set())
            for t in rhs:
                new.append((t_id, t))
        rec.extend(new)

    var_hints = distribute()
    out = set()
    for i in idents:
        for t in var_hints.get(i["name"], ()):
            out.add((i["node_id"], t))
    return sorted(out)


def dynamic_type_hints(nodes: DataFrame, edges: DataFrame,
                       recovered: DataFrame) -> DataFrame:
    """(call_id, hint_full) — DYNAMIC_TYPE_HINT_FULL_NAME analog: for a
    dynamic call ``recv.m()`` whose receiver identifier has a recovered type
    ``T``, the candidate callee is ``T.m`` (XTypeRecovery's hint emission
    feeding ``XTypeHintCallLinker.calleeNames``)."""
    dyn = nodes.filter(
        (F.col("kind") == "CALL") & (F.col("dispatch_type") == "DYNAMIC_DISPATCH")
    ).select(F.col("node_id").alias("call_id"), F.col("name").alias("c_name"),
             "doc_id", "method_id")
    recv = edges.filter(F.col("kind") == "RECEIVER").select(
        F.col("src").alias("call_id"), F.col("dst").alias("recv_id")
    )
    deref = F.trim(F.regexp_replace(F.col("recovered_type"), r"\*", ""))
    return (
        dyn.join(recv, "call_id")
        .join(recovered.withColumnRenamed("node_id", "recv_id"), "recv_id")
        .filter(F.col("recovered_type") != "ANY")
        .select(
            "call_id", "doc_id", "method_id",
            F.concat(deref, F.lit("."), F.col("c_name")).alias("hint_full"),
        )
        .distinct()
    )


def _method_ref_candidates(nodes: DataFrame, fits: bool) -> DataFrame:
    """Function-pointer call candidates: ``fp = someFunc; fp(...)`` links the
    call on ``fp`` to ``someFunc``.

    Reference: XTypeRecovery's identifier-assigned-METHOD_REF rule feeding
    ``XTypeHintCallLinker.scala:22-90`` (a variable holding a method ref
    types calls through that variable with the ref's full name). Scoped
    per-method on (method_id, var name) — a ref assigned in one function
    never links calls in another; both join dims (method-ref assignments,
    internal methods) are vocabulary-sized and broadcast when ``fits``."""
    assigns = nodes.filter(
        (F.col("kind") == "CALL") & (F.col("name") == "<operator>.assignment")
    ).select(F.col("node_id").alias("a_id"))
    kids = nodes.filter(F.col("argument_index").isNotNull()).select(
        "node_id", "parent_id", "argument_index", "kind", "name",
        "full_name", "method_id",
    )
    lhs = (
        assigns.join(kids, (F.col("a_id") == kids["parent_id"])
                     & (kids["argument_index"] == 1)
                     & (kids["kind"] == "IDENTIFIER"))
        .select("a_id", F.col("method_id").alias("v_mid"),
                F.col("name").alias("v_name"))
    )
    rhs = (
        assigns.join(kids, (F.col("a_id") == kids["parent_id"])
                     & (kids["argument_index"] == 2)
                     & (kids["kind"] == "METHOD_REF"))
        .select("a_id", F.col("full_name").alias("ref_full"))
    )
    var_refs = lhs.join(rhs, "a_id").select("v_mid", "v_name", "ref_full") \
        .distinct()
    methods = nodes.filter(
        (F.col("kind") == "METHOD") & (~F.col("is_external"))
    ).select(F.col("full_name").alias("ref_full"), F.col("node_id").alias("m_id"))
    calls = nodes.filter(F.col("kind") == "CALL").select(
        F.col("node_id").alias("src"), F.col("name").alias("c_name"),
        "method_id", "doc_id",
    )
    return (
        calls.join(budgeted_broadcast(var_refs, fits),
                   (calls["method_id"] == F.col("v_mid"))
                   & (calls["c_name"] == F.col("v_name")))
        .join(budgeted_broadcast(methods, fits), "ref_full")
        .select(
            "src", F.col("m_id").alias("dst"), "doc_id", "method_id",
            F.lit(False).alias("m_external"),
        )
        .distinct()
    )


def _hint_candidates(nodes: DataFrame, edges: DataFrame,
                     recovered: DataFrame, fits: bool) -> DataFrame:
    """Hint-link candidate rows (src, dst, doc_id, method_id, m_external) for
    EVERY hinted dynamic call — internal methods only, so ``m_external`` is
    constant false; the "no other linker resolved it" condition is applied by
    the caller (``link_calls`` arbitration). The method dims broadcast when
    ``fits``."""
    hints = dynamic_type_hints(nodes, edges, recovered)
    # internal methods only: a hint that matches nothing but an auto-created
    # external stub is noise from the declared-type lattice (e.g. Object.f) —
    # the prefer-internal pruning DynamicCallLinker applies (:187-196)
    methods = nodes.filter(
        (F.col("kind") == "METHOD") & (~F.col("is_external"))
    ).select(
        F.col("full_name").alias("hint_full"), F.col("node_id").alias("m_id")
    )
    return (
        hints.join(budgeted_broadcast(methods, fits), "hint_full")
        .select(
            F.col("call_id").alias("src"), F.col("m_id").alias("dst"),
            "doc_id", "method_id", F.lit(False).alias("m_external"),
        )
        .distinct()
        .unionByName(_method_ref_candidates(nodes, fits))
    )


def field_access_linker(nodes: DataFrame, edges: DataFrame,
                        recovered: DataFrame, fits: bool) -> DataFrame:
    """REF edges: fieldAccess CALL → MEMBER (composite-key equi-join); a
    receiver with several recovered types links to each type's member. The
    class and member dims broadcast when ``fits``."""
    fa = nodes.filter(
        (F.col("kind") == "CALL") & F.col("name").isin(_FIELD_ACCESS_OPS)
    ).select(F.col("node_id").alias("fa_id"), "doc_id", "method_id")

    args = edges.filter(F.col("kind") == "ARGUMENT").select(
        F.col("src").alias("fa_id"), F.col("dst").alias("arg_id")
    )
    receivers = nodes.filter(
        (F.col("kind") == "IDENTIFIER") & (F.col("argument_index") == 1)
    ).select(F.col("node_id").alias("arg_id"))
    # dereference normalization on the key (Dereference.scala:22-29):
    # C receivers are spelled "struct node *" but TYPE_DECLs "struct node"
    deref = F.trim(F.regexp_replace(F.col("recovered_type"), r"\*", ""))
    recv_type = (
        fa.join(args, "fa_id").join(receivers, "arg_id")
        .join(recovered.withColumnRenamed("node_id", "arg_id"), "arg_id")
        .select("fa_id", "doc_id", "method_id", deref.alias("recv_type"))
    )

    fields = nodes.filter(F.col("kind") == "FIELD_IDENTIFIER").select(
        F.col("parent_id").alias("fa_id"), F.col("name").alias("f_name")
    )
    classes = nodes.filter(F.col("kind") == "TYPE_DECL").select(
        F.col("node_id").alias("c_id"), F.col("full_name").alias("c_full")
    )
    members = (
        nodes.filter(F.col("kind") == "MEMBER")
        .join(budgeted_broadcast(classes, fits), F.col("parent_id") == F.col("c_id"))
        .select(F.col("node_id").alias("mem_id"), F.col("c_full").alias("recv_type"),
                F.col("name").alias("f_name"))
    )
    return (
        recv_type.join(fields, "fa_id")
        .join(budgeted_broadcast(members, fits), ["recv_type", "f_name"])
        .select(
            F.col("fa_id").alias("src"), F.col("mem_id").alias("dst"),
            F.lit("REF").alias("kind"), F.lit("").alias("variable"),
            "doc_id", "method_id",
        )
        .distinct()
    )
