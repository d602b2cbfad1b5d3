"""Reaching-definitions fixpoint + DDG edge derivation, per method.

Faithful re-expression of the reference dataflow stack (SURVEY.md §2.A #25-26):
- flow graph with parameter splicing (``ReachingDefProblem.scala:37-156``):
  METHOD → param_1 → … → param_n → cfgFirst; RETURN → first paramOut;
  body nodes whose only CFG successor is METHOD_RETURN → first paramOut;
  paramOut chain → METHOD_RETURN,
- gen/kill transfer function (``:182-298``) with the lone-identifier
  optimization (``:302-347``),
- forward worklist solver over bitsets (``DataFlowSolver.scala:11-39`` — here
  python-int bitsets, numbering in reverse post-order),
- DDG edge emission (``DdgGenerator.scala:30-217``): entry edges, call-site
  arg-to-arg, argument-taints-return-and-outputs, return edges, paramOut
  edges, exit edges, lone-identifier→exit; REACHING_DEF edges carry the
  VARIABLE property,
- use/def string heuristics (``UsageAnalyzer``, ``DdgGenerator.scala:261-374``)
  and semantic edge filtering (``EdgeValidator.scala:13-48``).

Closure/capture edges (``addEdgesToCapturedIdentifiersAndParameters``) are out
of scope for the fixture languages (no lambdas emitted by the frontends yet).

``reaching_def_edges_for_method`` solves one method (reference:
ForkJoinParallelCpgPass over methods, ``ReachingDefPass.scala:14-53``); the
fused kernel (``method_kernels.py``) calls it per method with the method's
synthesized paramOut rows and its CALL rows' ``callee_internal`` fact.
The bail-out above 4000 definitions is preserved.
"""

from __future__ import annotations

from typing import Any

from ..ids import stub_id
from .semantics import default_semantics, semantics_for

MAX_NUMBER_OF_DEFINITIONS = 4000  # ReachingDefPass.scala:14

_FIELD_ACCESS_NAMES = {
    "<operator>.memberAccess", "<operator>.indirectComputedMemberAccess",
    "<operator>.indirectMemberAccess", "<operator>.computedMemberAccess",
    "<operator>.indirection", "<operator>.fieldAccess",
    "<operator>.indirectFieldAccess", "<operator>.indexAccess",
    "<operator>.indirectIndexAccess", "<operator>.getElementPtr",
}
# MemberAccess.isGenericMemberAccessName (semanticcpg/.../MemberAccess.scala:10-23)
_GENERIC_MEMBER_ACCESS_NAMES = _FIELD_ACCESS_NAMES | {
    "<operator>.addressOf", "<operator>.pointerShift",
}
_CONTAINER_NAMES = {
    "<operator>.fieldAccess", "<operator>.indexAccess",
    "<operator>.indirectIndexAccess", "<operator>.indirectFieldAccess",
}
_INDIRECTION_NAMES = {"<operator>.addressOf", "<operator>.indirection"}

_EXPRESSION_KINDS = {
    "CALL", "IDENTIFIER", "LITERAL", "BLOCK", "CONTROL_STRUCTURE",
    "FIELD_IDENTIFIER", "TYPE_REF", "METHOD_REF", "UNKNOWN",
}
_NON_DDG_KINDS = {"METHOD", "CONTROL_STRUCTURE", "FIELD_IDENTIFIER",
                  "JUMP_TARGET", "METHOD_RETURN"}


class MethodModel:
    """Indexed view over one method's node rows + stored CFG edges."""

    def __init__(self, rows: list[dict[str, Any]], cfg_edges: list[tuple[int, int]],
                 semantics: dict):
        self.sem = semantics
        self.by_id = {r["node_id"]: r for r in rows}
        self.children: dict[int, list[dict]] = {}
        for r in rows:
            p = r.get("parent_id")
            if p is not None and p in self.by_id:
                self.children.setdefault(p, []).append(r)
        for v in self.children.values():
            v.sort(key=lambda r: (r["order"], r["node_id"]))
        ms = [r for r in rows if r["kind"] == "METHOD"]
        self.method = ms[0] if ms else None
        self.params = sorted(
            (r for r in rows if r["kind"] == "METHOD_PARAMETER_IN"),
            key=lambda r: r["order"],
        )
        self.method_return = next(
            (c for c in self.children.get(self.method["node_id"], [])
             if c["kind"] == "METHOD_RETURN"), None) if self.method else None
        self.cfg_succ: dict[int, list[int]] = {}
        self.cfg_pred: dict[int, list[int]] = {}
        for s, d in cfg_edges:
            self.cfg_succ.setdefault(s, []).append(d)
            self.cfg_pred.setdefault(d, []).append(s)

    # --- tree helpers -----------------------------------------------------
    def kids(self, nid: int) -> list[dict]:
        return self.children.get(nid, [])

    def arguments(self, nid: int) -> list[dict]:
        return [c for c in self.kids(nid) if (c["argument_index"] or 0) >= 1]

    def argument(self, nid: int, idx: int) -> dict | None:
        for c in self.kids(nid):
            if c["argument_index"] == idx:
                return c
        return None

    def in_call(self, nid: int) -> dict | None:
        """The call this node is a direct argument of (joern ``inCall``)."""
        r = self.by_id[nid]
        p = self.by_id.get(r.get("parent_id"))
        if p is not None and p["kind"] == "CALL" and (r["argument_index"] or 0) >= 1:
            return p
        return None

    def subtree(self, nid: int):
        yield self.by_id[nid]
        for c in self.kids(nid):
            yield from self.subtree(c["node_id"])

    def node_str(self, r: dict) -> str | None:
        """UsageAnalyzer.nodeToString (DdgGenerator.scala:364-372)."""
        k = r["kind"]
        if k == "IDENTIFIER":
            return r["name"]
        if k in ("METHOD_PARAMETER_IN", "METHOD_PARAMETER_OUT"):
            return r["name"]
        if k in _EXPRESSION_KINDS:
            return r["code"]
        return None

    # --- semantics-based predicates (ExpressionMethods.scala) ----------------
    def _sem_for_arg(self, r: dict):
        call = self.in_call(r["node_id"])
        if call is None:
            return None
        return semantics_for(self.sem, call.get("full_name"), call.get("name"))

    def is_used(self, r: dict) -> bool:
        s = self._sem_for_arg(r)
        if s is None:
            return True
        idx = r["argument_index"] or 0
        return any(m == ("PASSTHROUGH",) and idx != 0 or
                   (isinstance(m, tuple) and len(m) == 2 and m[0] == idx)
                   for m in s)

    def is_defined(self, r: dict) -> bool:
        s = self._sem_for_arg(r)
        if s is None:
            return True
        idx = r["argument_index"] or 0
        return any(m == ("PASSTHROUGH",) and idx != 0 or
                   (isinstance(m, tuple) and len(m) == 2 and m[1] == idx)
                   for m in s)

    def has_defined_flow_to(self, r: dict, tgt: dict) -> bool:
        s = self._sem_for_arg(r)
        if s is None:
            return True
        src_i, tgt_i = r["argument_index"] or 0, tgt["argument_index"] or 0
        for m in s:
            if m == ("PASSTHROUGH",) and (tgt_i == src_i or tgt_i == -1):
                return True
            if isinstance(m, tuple) and len(m) == 2 and m == (src_i, tgt_i):
                return True
        return False

    def is_call_retval(self, r: dict) -> bool:
        """EdgeValidator.isCallRetval: semantics exist but never flow to -1."""
        if r["kind"] != "CALL":
            return False
        s = semantics_for(self.sem, r.get("full_name"), r.get("name"))
        if s is None:
            return False
        return not any(m == ("PASSTHROUGH",)
                       or (isinstance(m, tuple) and len(m) == 2 and m[1] == -1)
                       for m in s)

    def is_output_arg_of_internal_method(self, r: dict) -> bool:
        call = self.in_call(r["node_id"])
        if call is None:
            return False
        s = semantics_for(self.sem, call.get("full_name"), call.get("name"))
        return bool(call.get("callee_internal")) and s is None


def _build_flow_graph(m: MethodModel):
    """Node numbering + succ/pred with parameter splicing."""
    if m.method is None or m.method_return is None:
        return None
    entry, exit_ = m.method["node_id"], m.method_return["node_id"]
    param_ids = [p["node_id"] for p in m.params]
    param_out_ids = [stub_id("PARAM_OUT", pid) for pid in param_ids]

    # reverse post-order over stored CFG from entry
    order: list[int] = []
    seen = set()
    stack = [(entry, iter(sorted(m.cfg_succ.get(entry, []))))]
    seen.add(entry)
    while stack:
        nid, it = stack[-1]
        advanced = False
        for nxt in it:
            if nxt not in seen:
                seen.add(nxt)
                stack.append((nxt, iter(sorted(m.cfg_succ.get(nxt, [])))))
                advanced = True
                break
        if not advanced:
            order.append(nid)
            stack.pop()
    rpo = list(reversed(order))
    body = [n for n in rpo if n != entry and n != exit_]
    all_nodes = [entry] + param_ids + body + param_out_ids + [exit_]
    # include unreachable CFG nodes for numbering (reference :57-58)
    known = set(all_nodes)
    extras = [r["node_id"] for r in m.by_id.values()
              if r["node_id"] in m.cfg_succ or r["node_id"] in m.cfg_pred]
    numbered = all_nodes + [n for n in extras if n not in known]
    node_num = {n: i for i, n in enumerate(numbered)}

    cfg_first = sorted(m.cfg_succ.get(entry, []))
    first_param = param_ids[0] if param_ids else None
    first_param_out = param_out_ids[0] if param_out_ids else None

    succ: dict[int, list[int]] = {}
    for n in all_nodes:
        if n == entry:
            succ[n] = [first_param] if first_param else cfg_first
        elif n in param_out_ids:
            i = param_out_ids.index(n)
            succ[n] = [param_out_ids[i + 1]] if i + 1 < len(param_out_ids) else [exit_]
        elif n in param_ids:
            i = param_ids.index(n)
            succ[n] = [param_ids[i + 1]] if i + 1 < len(param_ids) else cfg_first
        elif n == exit_:
            succ[n] = []
        else:
            r = m.by_id.get(n)
            if r is not None and r["kind"] == "RETURN":
                succ[n] = [first_param_out or exit_]
            else:
                raw = m.cfg_succ.get(n, [])
                if raw == [exit_] and first_param_out is not None:
                    succ[n] = [first_param_out]
                else:
                    succ[n] = raw
    pred: dict[int, list[int]] = {n: [] for n in all_nodes}
    for s, ds in succ.items():
        for d in ds:
            if d in pred:
                pred[d].append(s)
    return {
        "entry": entry, "exit": exit_, "params": param_ids,
        "param_outs": param_out_ids, "all_nodes": all_nodes,
        "node_num": node_num, "succ": succ, "pred": pred, "rpo_body": body,
    }


def _gen_kill(m: MethodModel, fg) -> tuple[dict, dict, dict]:
    """gen/kill bitsets + lone-identifier map (ReachingDefProblem :182-347)."""
    num = fg["node_num"]
    calls = [r for r in m.by_id.values() if r["kind"] == "CALL"]
    identifiers = [r for r in m.by_id.values() if r["kind"] == "IDENTIFIER"]

    # lone-identifier optimization
    param_local_names = {p["name"] for p in m.params} | {
        r["name"] for r in m.by_id.values() if r["kind"] == "LOCAL"}
    names_in_returns = set()
    for r in m.by_id.values():
        if r["kind"] == "RETURN":
            for d in m.subtree(r["node_id"]):
                if d["kind"] == "IDENTIFIER":
                    names_in_returns.add(d["name"])
    call_arg_pairs: dict[str, list[tuple[dict, dict]]] = {}
    for c in calls:
        for a in m.arguments(c["node_id"]):
            if (a["kind"] == "IDENTIFIER" and a["name"] not in param_local_names
                    and a["name"] not in names_in_returns):
                call_arg_pairs.setdefault(a["name"], []).append((c, a))
    lone: dict[int, set[int]] = {}  # call_id -> {def numbers removed}
    lone_def_ids: list[int] = []
    for _name, v in call_arg_pairs.items():
        if len(v) == 1:
            c, a = v[0]
            if a["node_id"] in num:
                lone.setdefault(c["node_id"], set()).add(num[a["node_id"]])
                lone_def_ids.append(a["node_id"])

    gen: dict[int, int] = {}
    for p in m.params:
        gen[p["node_id"]] = 1 << num[p["node_id"]]
    for c in calls:
        if c["name"] in _FIELD_ACCESS_NAMES:
            continue
        bits = 0
        if c["node_id"] in num:
            bits |= 1 << num[c["node_id"]]
        for a in m.arguments(c["node_id"]):
            if a["kind"] in ("CALL", "IDENTIFIER") and a["node_id"] in num:
                bits |= 1 << num[a["node_id"]]
        for removed in lone.get(c["node_id"], ()):
            bits &= ~(1 << removed)
        gen[c["node_id"]] = bits

    # kill
    ids_by_name: dict[str, list[dict]] = {}
    for r in identifiers:
        ids_by_name.setdefault(r["name"], []).append(r)
    for p in m.params:
        ids_by_name.setdefault(p["name"], []).append(p)
    calls_by_code: dict[str, list[dict]] = {}
    for c in calls:
        calls_by_code.setdefault(c["code"], []).append(c)
    field_access_calls = [c for c in calls if c["name"] == "<operator>.fieldAccess"]

    def defs_of_same_var(def_id: int) -> int:
        r = m.by_id.get(def_id)
        if r is None:
            return 0
        bits = 0
        if r["kind"] == "METHOD_PARAMETER_IN":
            for other in ids_by_name.get(r["name"], []):
                if other["node_id"] != def_id and other["node_id"] in num:
                    bits |= 1 << num[other["node_id"]]
        elif r["kind"] == "IDENTIFIER":
            for other in ids_by_name.get(r["name"], []):
                if other["node_id"] != def_id and other["node_id"] in num:
                    bits |= 1 << num[other["node_id"]]
            for fa in field_access_calls:
                if any(d["kind"] == "IDENTIFIER" and d["name"] == r["name"]
                       for d in m.subtree(fa["node_id"])):
                    if fa["node_id"] in num:
                        bits |= 1 << num[fa["node_id"]]
        elif r["kind"] == "CALL":
            for other in calls_by_code.get(r["code"], []):
                if other["node_id"] != def_id and other["node_id"] in num:
                    bits |= 1 << num[other["node_id"]]
        return bits

    rev_num = {v: k for k, v in num.items()}
    kill: dict[int, int] = {}
    for c in calls:
        if c["name"] in _GENERIC_MEMBER_ACCESS_NAMES:
            continue
        bits = 0
        g = gen.get(c["node_id"], 0)
        d = g
        while d:
            low = d & (-d)
            bits |= defs_of_same_var(rev_num[low.bit_length() - 1])
            d ^= low
        kill[c["node_id"]] = bits
    return gen, kill, {"lone_def_ids": lone_def_ids}


def _solve(fg, gen: dict, kill: dict) -> dict[int, int]:
    """Forward worklist fixpoint; returns in-sets as bitmasks."""
    out: dict[int, int] = {n: gen.get(n, 0) for n in fg["all_nodes"]}
    in_: dict[int, int] = {n: 0 for n in fg["all_nodes"]}
    work = list(fg["all_nodes"])
    while work:
        new_work = []
        for n in work:
            i = 0
            for p in fg["pred"].get(n, []):
                i |= out.get(p, 0)
            in_[n] = i
            old = out.get(n, 0)
            new = gen.get(n, 0) | (i & ~kill.get(n, 0))
            out[n] = new
            if new != old:
                new_work.extend(fg["succ"].get(n, []))
        work = list(dict.fromkeys(new_work))
    return in_


def reaching_def_edges_for_method(
    rows: list[dict[str, Any]], cfg_edges: list[tuple[int, int]],
    semantics: dict | None = None,
) -> list[tuple[int, int, str]]:
    """Pure kernel: one method's rows + CFG → REACHING_DEF (src, dst, variable)."""
    sem = semantics if semantics is not None else default_semantics()
    m = MethodModel(rows, cfg_edges, sem)
    fg = _build_flow_graph(m)
    if fg is None:
        return []
    gen, kill, extra = _gen_kill(m, fg)
    n_defs = sum(bin(g).count("1") for g in gen.values())
    if n_defs > MAX_NUMBER_OF_DEFINITIONS:
        return []  # bail-out (ReachingDefPass.scala:40-52); no edges, not yet counted
    in_ = _solve(fg, gen, kill)
    num, rev = fg["node_num"], {v: k for k, v in fg["node_num"].items()}
    edges: list[tuple[int, int, str]] = []
    seen: set[tuple[int, int, str]] = set()

    method_id = fg["entry"]
    exit_id = fg["exit"]
    param_out_of = dict(zip(fg["params"], fg["param_outs"]))

    def is_expression(r) -> bool:
        return r["kind"] in _EXPRESSION_KINDS

    def node(nid: int) -> dict | None:
        if nid in m.by_id:
            return m.by_id[nid]
        # synthesized paramOut
        if nid in fg["param_outs"]:
            i = fg["param_outs"].index(nid)
            base = dict(m.params[i])
            base["node_id"] = nid
            base["kind"] = "METHOD_PARAMETER_OUT"
            return base
        return None

    def edge_label(r: dict) -> str:
        if r["kind"] == "METHOD_PARAMETER_IN":
            return r["name"] or ""
        return r["code"] or ""

    # --- EdgeValidator (EdgeValidator.scala:13-48) -------------------------
    def valid_edge(child: dict, parent: dict) -> bool:
        child_expr, parent_expr = is_expression(child), is_expression(parent)
        if child_expr and (m.is_call_retval(parent)
                           or not valid_edge_to_expression(parent, child)):
            return False
        if child_expr and parent_expr:
            if _same_call_site(parent, child) and m.is_defined(child) and m.is_used(parent):
                return m.has_defined_flow_to(parent, child)
            return True
        if child_expr and not m.is_used(child):
            return False
        if child_expr:
            return True
        return not m.is_call_retval(parent)

    def _same_call_site(a: dict, b: dict) -> bool:
        ca, cb = m.in_call(a["node_id"]), m.in_call(b["node_id"])
        return (ca is not None and cb is not None
                and ca["node_id"] == cb["node_id"])

    def valid_edge_to_expression(par: dict, cur: dict) -> bool:
        if is_expression(par):
            same = _same_call_site(par, cur)
            if same and m.is_output_arg_of_internal_method(par):
                return False
            return (same and m.is_used(par) and m.is_defined(cur)) or \
                   (not same and m.is_used(cur))
        return m.is_used(cur)

    def add_edge(src: dict | None, dst: dict | None, variable: str = "") -> None:
        if src is None or dst is None:
            return
        if src["kind"] == "UNKNOWN" or dst["kind"] == "UNKNOWN":
            return
        if not valid_edge(dst, src):
            return
        key = (src["node_id"], dst["node_id"], variable)
        if key not in seen:
            seen.add(key)
            edges.append(key)

    # --- UsageAnalyzer ------------------------------------------------------
    def uses(r: dict) -> list[dict]:
        if r["kind"] == "RETURN":
            out = [c for c in m.kids(r["node_id"]) if is_expression(c)]
        elif r["kind"] == "CALL":
            out = m.arguments(r["node_id"])
        elif r["kind"] == "METHOD_PARAMETER_OUT":
            out = [r]
        else:
            out = []
        return [u for u in out if u["kind"] != "FIELD_IDENTIFIER"]

    def is_using(use: dict, in_def: dict) -> bool:
        return (same_variable(use, in_def) or is_container(use, in_def)
                or is_part(use, in_def) or is_alias(use, in_def))

    def same_variable(use: dict, in_def: dict) -> bool:
        u = m.node_str(use)
        if u is None:
            return False
        if in_def["kind"] == "METHOD_PARAMETER_IN":
            return in_def["name"] in u if in_def["name"] else False
        if in_def["kind"] == "CALL" and in_def["name"] in _INDIRECTION_NAMES:
            a1 = m.argument(in_def["node_id"], 1)
            return a1 is not None and a1["code"] and a1["code"] in u
        if in_def["kind"] == "CALL":
            return bool(in_def["code"]) and in_def["code"] in u
        if in_def["kind"] == "IDENTIFIER":
            return bool(in_def["name"]) and in_def["name"] in u
        return False

    def is_container(use: dict, in_def: dict) -> bool:
        if in_def["kind"] == "CALL" and in_def["name"] in _CONTAINER_NAMES:
            base = m.argument(in_def["node_id"], 1)
            if base is not None:
                return m.node_str(use) == m.node_str(base)
        return False

    def is_part(use: dict, in_def: dict) -> bool:
        if use["kind"] == "CALL" and use["name"] in _CONTAINER_NAMES:
            base = m.argument(use["node_id"], 1)
            if base is None:
                return False
            b = m.node_str(base) or ""
            if in_def["kind"] == "METHOD_PARAMETER_IN":
                return bool(in_def["name"]) and in_def["name"] in b
            if in_def["kind"] == "IDENTIFIER":
                return bool(in_def["name"]) and in_def["name"] in b
        return False

    def is_alias(use: dict, in_def: dict) -> bool:
        # simplified access-path equality (reference uses tracked base +
        # access path matching, AccessPathUsage; code equality approximates
        # EXACT_MATCH for the fixture subset)
        return (use["kind"] == "CALL" and in_def["kind"] == "CALL"
                and use["name"] in _CONTAINER_NAMES
                and in_def["name"] in _CONTAINER_NAMES
                and use["code"] == in_def["code"])

    def in_defs(nid: int) -> list[dict]:
        bits = in_[nid] if nid in in_ else 0
        out = []
        while bits:
            low = bits & (-bits)
            r = node(rev[low.bit_length() - 1])
            if r is not None:
                out.append(r)
            bits ^= low
        return out

    def used_incoming_defs(r: dict) -> dict[int, list[dict]]:
        res: dict[int, list[dict]] = {}
        for u in uses(r):
            res[u["node_id"]] = [d for d in in_defs(r["node_id"]) if is_using(u, d)]
        return res

    def is_ddg_node(r: dict) -> bool:
        return r["kind"] not in _NON_DDG_KINDS

    all_flow_nodes = [node(n) for n in fg["all_nodes"]]
    all_flow_nodes = [r for r in all_flow_nodes if r is not None]
    method_row = m.method

    # entry edges (DdgGenerator.scala:47-54)
    for r in all_flow_nodes:
        if is_ddg_node(r) and not any(used_incoming_defs(r).values()):
            add_edge(method_row, r)

    for r in all_flow_nodes:
        if r["kind"] == "CALL":
            uid = used_incoming_defs(r)
            for use_id, ins in uid.items():
                use = m.by_id.get(use_id)
                for d in ins:
                    if d["node_id"] != use_id:
                        add_edge(d, use, edge_label(d))
            # args taint return value + output args (filter at edge validation)
            g = gen.get(r["node_id"], 0)
            for u in uses(r):
                bits = g
                while bits:
                    low = bits & (-bits)
                    gnode = node(rev[low.bit_length() - 1])
                    bits ^= low
                    if gnode is not None and gnode["node_id"] != u["node_id"] \
                            and is_ddg_node(u):
                        add_edge(u, gnode, edge_label(u))
        elif r["kind"] == "RETURN":
            for use_id, ins in used_incoming_defs(r).items():
                use = m.by_id.get(use_id)
                if use is None:
                    continue
                add_edge(use, r, use["code"] or "")
                for d in ins:
                    if d["node_id"] != use_id:
                        add_edge(d, use, edge_label(d))
                if not ins:
                    add_edge(method_row, r)
            edges_key = (r["node_id"], exit_id, "<RET>")
            if edges_key not in seen:
                seen.add(edges_key)
                edges.append(edges_key)
        elif r["kind"] == "METHOD_PARAMETER_OUT":
            # paramIn → paramOut always (copy semantics)
            i = fg["param_outs"].index(r["node_id"])
            pin = m.params[i]
            add_edge(pin, r, pin["name"] or "")
            for _use_id, ins in used_incoming_defs(r).items():
                for d in ins:
                    add_edge(d, r, edge_label(d))

    # exit edges (DdgGenerator.scala:147-152)
    for d in in_defs(exit_id):
        add_edge(d, node(exit_id), edge_label(d))
    # lone identifiers → exit (DdgGenerator.scala:157-168)
    for did in extra["lone_def_ids"]:
        d = m.by_id.get(did)
        if d is not None:
            add_edge(d, node(exit_id), edge_label(d))

    return edges
