"""CFG creation: per-method AST → CFG edges via the fringe algorithm.

Reimplements the reference's structural-recursion semantics
(``x2cpg/.../cfgcreation/CfgCreator.scala:41-627`` + ``Cfg.scala:34-197``):
translate subtrees bottom-up, keep a "fringe" of nodes whose outgoing edge
destination is not yet known, connect fringes on append. Edge types
(True/False/Always/Case) are computed then dropped — stored CFG edges are
untyped (``CfgCreator.scala:60-64``).

``cfg_edges_for_method`` is plain Python over one method's rows: each
method's subtree is document-local and small. The fused kernel
(``method_kernels.py``) calls it per method inside one partition-local
``mapInArrow``, so the parallelism across methods is partition parallelism
(reference: ConcurrentWriterCpgPass over methods,
``CfgCreationPass.scala:17-26``).
"""

from __future__ import annotations

from typing import Any

ALWAYS, TRUE, FALSE, CASE = "Always", "True", "False", "Case"

_LOGICAL_OPS = {"<operator>.logicalAnd", "<operator>.logicalOr", "<operator>.conditional"}
_EMPTY_KINDS = {
    "METHOD", "METHOD_PARAMETER_IN", "METHOD_PARAMETER_OUT", "MODIFIER",
    "LOCAL", "TYPE_DECL", "MEMBER", "FILE", "NAMESPACE", "NAMESPACE_BLOCK",
    "JUMP_LABEL", "COMMENT", "IMPORT",
    "ANNOTATION", "ANNOTATION_PARAMETER_ASSIGN", "ANNOTATION_PARAMETER",
}
_SINGLE_KINDS = {"METHOD_REF", "TYPE_REF", "METHOD_RETURN", "MACRO_REF"}
_LEAFY_KINDS = {"CALL", "FIELD_IDENTIFIER", "IDENTIFIER", "LITERAL", "UNKNOWN"}


class Cfg:
    __slots__ = ("entry", "edges", "fringe", "labeled", "breaks", "continues",
                 "case_labels", "jumps")

    def __init__(self, entry=None, edges=None, fringe=None, labeled=None,
                 breaks=None, continues=None, case_labels=None, jumps=None):
        self.entry = entry
        self.edges = edges or []
        self.fringe = fringe or []           # [(node_id, edge_type)]
        self.labeled = labeled or {}          # label -> node_id
        self.breaks = breaks or []            # [(node_id, level)]
        self.continues = continues or []
        self.case_labels = case_labels or []
        self.jumps = jumps or []              # [(node_id, label)]

    def is_empty(self) -> bool:
        return (self.entry is None and not self.edges and not self.fringe
                and not self.labeled and not self.breaks and not self.continues
                and not self.case_labels and not self.jumps)

    def append(self, other: "Cfg") -> "Cfg":
        """Reference ``Cfg.++`` (Cfg.scala:51-68)."""
        if other.is_empty():
            return self
        if self.is_empty():
            return other
        return Cfg(
            entry=self.entry,
            edges=self.edges + other.edges + _edges_from_fringe(self.fringe, other.entry),
            fringe=other.fringe,
            labeled={**self.labeled, **other.labeled},
            breaks=self.breaks + other.breaks,
            continues=self.continues + other.continues,
            case_labels=self.case_labels + other.case_labels,
            jumps=self.jumps + other.jumps,
        )

    def with_fringe_type(self, t: str) -> list[tuple[int, str]]:
        return [(n, t) for n, _ in self.fringe]


def _edges_from_fringe(fringe, entry, force_type=None):
    if entry is None:
        return []
    return [(n, entry, force_type or t) for n, t in fringe]


def _merge_meta(*cfgs: Cfg) -> Cfg:
    """Reference ``Cfg.from`` — jump/label/break bookkeeping union."""
    out = Cfg()
    for c in cfgs:
        out.labeled.update(c.labeled)
        out.breaks += c.breaks
        out.continues += c.continues
        out.case_labels += c.case_labels
        out.jumps += c.jumps
    return out


def _take_level(pairs):
    return [n for n, lvl in pairs if lvl == 1]


def _reduce_level(pairs):
    return [(n, lvl - 1) for n, lvl in pairs if lvl != 1]


class CfgBuilder:
    def __init__(self, rows: list[dict[str, Any]]):
        self.by_id = {r["node_id"]: r for r in rows}
        self.children: dict[int, list[dict]] = {}
        for r in rows:
            p = r.get("parent_id")
            if p is not None and p in self.by_id:
                self.children.setdefault(p, []).append(r)
        for v in self.children.values():
            v.sort(key=lambda r: (r["order"], r["node_id"]))
        methods = [r for r in rows if r["kind"] == "METHOD"]
        self.method = methods[0] if methods else None
        self.exit_id = None
        if self.method is not None:
            for c in self.children.get(self.method["node_id"], []):
                if c["kind"] == "METHOD_RETURN":
                    self.exit_id = c["node_id"]

    # --- helpers ---------------------------------------------------------
    def kids(self, r) -> list[dict]:
        return self.children.get(r["node_id"], [])

    def child_by_order(self, r, order: int):
        for c in self.kids(r):
            if c["order"] == order:
                return c
        return None

    def argument(self, r, idx: int):
        for c in self.kids(r):
            if c["argument_index"] == idx:
                return c
        return None

    def single(self, r) -> Cfg:
        nid = r["node_id"]
        return Cfg(entry=nid, fringe=[(nid, ALWAYS)])

    def for_children(self, r) -> Cfg:
        cfg = Cfg()
        for c in self.kids(r):
            cfg = cfg.append(self.cfg_for(c))
        return cfg

    # --- dispatch (CfgCreator.cfgFor, :93-124) -----------------------------
    def cfg_for(self, r) -> Cfg:
        kind = r["kind"]
        if kind in _EMPTY_KINDS:
            return Cfg()
        if kind in _SINGLE_KINDS:
            return self.single(r)
        if kind == "CONTROL_STRUCTURE":
            return self.for_control_structure(r)
        if kind == "JUMP_TARGET":
            return self.for_jump_target(r)
        if kind == "RETURN":
            return self.for_return(r)
        if kind == "CALL":
            name = r["name"]
            if name == "<operator>.logicalAnd":
                return self.for_and(r)
            if name == "<operator>.logicalOr":
                return self.for_or(r)
            if name == "<operator>.conditional":
                return self.for_conditional(r)
            return self.for_children(r).append(self.single(r))
        if kind == "BLOCK":
            if self.block_matches(r):
                return self.for_children(r)
            return self.for_children(r).append(self.single(r))
        if kind in _LEAFY_KINDS:
            return self.for_children(r).append(self.single(r))
        return self.for_children(r)

    def block_matches(self, r) -> bool:
        """CfgCreator.blockMatches (:140-145): body blocks of methods/control
        structures/logical operators are transparent; expression blocks are
        CFG nodes themselves."""
        p = self.by_id.get(r.get("parent_id"))
        if p is None:
            return False
        if p["kind"] in ("METHOD", "CONTROL_STRUCTURE"):
            return True
        return p["kind"] == "CALL" and (p["name"] in _LOGICAL_OPS
                                        or p["dispatch_type"] == "INLINED")

    # --- control structures -------------------------------------------------
    def for_control_structure(self, r) -> Cfg:
        t = r["ctrl_type"]
        if t == "BREAK":
            return self.for_break(r)
        if t == "CONTINUE":
            return self.for_continue(r)
        if t == "WHILE":
            return self.for_while(r)
        if t == "DO":
            return self.for_do(r)
        if t == "FOR":
            return self.for_for(r)
        if t == "GOTO":
            return self.for_goto(r)
        if t == "IF":
            return self.for_if(r)
        if t in ("ELSE", "CATCH", "FINALLY"):
            return self.for_children(r)
        if t in ("SWITCH", "MATCH"):
            return self.for_switch(r)
        if t == "TRY":
            return self.for_try(r)
        return Cfg()

    def for_try(self, r) -> Cfg:
        """CfgCreator.cfgForTryStatement (:492-565): try fringe fans out to
        every catch entry (and the finally entry); each catch fringe flows to
        the finally (never to later catches); the result's fringe is the
        finally's fringe when present, else try+catch fringes."""
        kids = self.kids(r)
        catch_cs = [c for c in kids if c["kind"] == "CONTROL_STRUCTURE"
                    and c["ctrl_type"] in ("CATCH", "ELSE")]
        finally_cs = [c for c in kids if c["kind"] == "CONTROL_STRUCTURE"
                      and c["ctrl_type"] == "FINALLY"]
        try_block = next(
            (c for c in kids if c["order"] == 1 and self.kids(c)), None
        )
        try_cfg = self._maybe(try_block)

        if catch_cs:
            catch_cfgs = [self.cfg_for(c) for c in catch_cs]
        else:
            order2 = [c for c in kids if c["order"] == 2]
            catch_cfgs = [self.cfg_for(c) for c in order2] or [Cfg()]

        if not catch_cs and not finally_cs:
            fin_list = [self.cfg_for(c) for c in kids if c["order"] == 3][:1]
        else:
            fin_list = [self.cfg_for(c) for c in finally_cs][:1]
        fin = fin_list[0] if fin_list else None

        edges = []
        for cc in catch_cfgs:
            edges += _edges_from_fringe(try_cfg.fringe, cc.entry)
        if fin is not None:
            for cc in catch_cfgs:
                edges += _edges_from_fringe(cc.fringe, fin.entry)
            edges += _edges_from_fringe(try_cfg.fringe, fin.entry)

        if try_block is None:
            # empty try: nothing can throw — only the finally runs
            return fin if fin is not None else Cfg()

        parts = [try_cfg] + catch_cfgs + ([fin] if fin is not None else [])
        cfg = _merge_meta(*parts)
        cfg.entry = try_cfg.entry
        cfg.edges = (edges + try_cfg.edges
                     + [e for c in catch_cfgs for e in c.edges]
                     + (fin.edges if fin is not None else []))
        if fin is not None and fin.entry is not None:
            cfg.fringe = fin.fringe
        else:
            cfg.fringe = try_cfg.fringe + [f for c in catch_cfgs for f in c.fringe]
        return cfg

    def for_break(self, r) -> Cfg:
        first = self.child_by_order(r, 1)
        if first is not None and first["kind"] == "JUMP_LABEL":
            return Cfg(entry=r["node_id"], jumps=[(r["node_id"], first["name"])])
        if first is not None and first["kind"] == "LITERAL":
            return Cfg(entry=r["node_id"],
                       breaks=[(r["node_id"], int(first["code"]))])
        return Cfg(entry=r["node_id"], breaks=[(r["node_id"], 1)])

    def for_continue(self, r) -> Cfg:
        first = self.child_by_order(r, 1)
        if first is not None and first["kind"] == "JUMP_LABEL":
            return Cfg(entry=r["node_id"], jumps=[(r["node_id"], first["name"])])
        if first is not None and first["kind"] == "LITERAL":
            return Cfg(entry=r["node_id"],
                       continues=[(r["node_id"], int(first["code"]))])
        return Cfg(entry=r["node_id"], continues=[(r["node_id"], 1)])

    def for_jump_target(self, r) -> Cfg:
        name = r["name"] or ""
        cfg = self.single(r)
        if name.startswith("case") or name.startswith("default"):
            cfg.case_labels = [r["node_id"]]
        else:
            cfg.labeled = {name: r["node_id"]}
        return cfg

    def for_goto(self, r) -> Cfg:
        first = self.child_by_order(r, 1)
        label = first["name"] if first is not None else "*"
        return Cfg(entry=r["node_id"], jumps=[(r["node_id"], label)])

    def for_return(self, r) -> Cfg:
        children = self.for_children(r)
        ret = Cfg(entry=r["node_id"],
                  edges=[(r["node_id"], self.exit_id, ALWAYS)] if self.exit_id else [])
        return children.append(ret)

    def for_and(self, r) -> Cfg:
        left = self.cfg_for(self.argument(r, 1)) if self.argument(r, 1) else Cfg()
        right = self.cfg_for(self.argument(r, 2)) if self.argument(r, 2) else Cfg()
        edges = _edges_from_fringe(left.fringe, right.entry, TRUE) + left.edges + right.edges
        cfg = _merge_meta(left, right)
        cfg.entry = left.entry
        cfg.edges = edges
        cfg.fringe = left.fringe + right.fringe
        return cfg.append(self.single(r))

    def for_or(self, r) -> Cfg:
        left = self.cfg_for(self.argument(r, 1)) if self.argument(r, 1) else Cfg()
        right = self.cfg_for(self.argument(r, 2)) if self.argument(r, 2) else Cfg()
        edges = _edges_from_fringe(left.fringe, right.entry, FALSE) + left.edges + right.edges
        cfg = _merge_meta(left, right)
        cfg.entry = left.entry
        cfg.edges = edges
        cfg.fringe = left.fringe + right.fringe
        return cfg.append(self.single(r))

    def for_conditional(self, r) -> Cfg:
        cond = self.cfg_for(self.argument(r, 1)) if self.argument(r, 1) else Cfg()
        true_c = self.cfg_for(self.argument(r, 2)) if self.argument(r, 2) else Cfg()
        false_c = self.cfg_for(self.argument(r, 3)) if self.argument(r, 3) else Cfg()
        edges = (_edges_from_fringe(cond.fringe, true_c.entry, TRUE)
                 + _edges_from_fringe(cond.fringe, false_c.entry, FALSE))
        true_fringe = true_c.fringe if true_c.entry is not None else cond.with_fringe_type(TRUE)
        false_fringe = false_c.fringe if false_c.entry is not None else cond.with_fringe_type(FALSE)
        cfg = _merge_meta(cond, true_c, false_c)
        cfg.entry = cond.entry
        cfg.edges = cond.edges + true_c.edges + false_c.edges + edges
        cfg.fringe = true_fringe + false_fringe
        return cfg.append(self.single(r))

    def for_while(self, r) -> Cfg:
        cond = self._maybe(self.child_by_order(r, 1))
        body = self._maybe(self.child_by_order(r, 2))
        false_c = Cfg()  # while-else not produced by our frontends
        edges = (_edges_from_fringe(cond.fringe, body.entry)
                 + _edges_from_fringe(body.fringe, false_c.entry)
                 + _edges_from_fringe(body.fringe, cond.entry)
                 + [(n, cond.entry, ALWAYS) for n in _take_level(body.continues)
                    if cond.entry is not None])
        cfg = _merge_meta(cond, body, false_c)
        cfg.entry = cond.entry
        cfg.edges = edges + cond.edges + body.edges + false_c.edges
        cfg.fringe = (cond.with_fringe_type(FALSE)
                      + [(n, ALWAYS) for n in _take_level(body.breaks)]
                      + false_c.fringe)
        cfg.breaks = _reduce_level(body.breaks)
        cfg.continues = _reduce_level(body.continues)
        return cfg

    def for_do(self, r) -> Cfg:
        body = self._maybe(self.child_by_order(r, 1))
        cond = self._maybe(self.child_by_order(r, 2))
        inner_entry = body.entry if not body.is_empty() else cond.entry
        edges = ([(n, cond.entry, ALWAYS) for n in _take_level(body.continues)
                  if cond.entry is not None]
                 + _edges_from_fringe(body.fringe, cond.entry)
                 + _edges_from_fringe(cond.fringe, inner_entry, TRUE))
        cfg = _merge_meta(body, cond)
        cfg.entry = body.entry if not body.is_empty() else cond.entry
        cfg.edges = edges + body.edges + cond.edges
        cfg.fringe = (cond.with_fringe_type(FALSE)
                      + [(n, ALWAYS) for n in _take_level(body.breaks)])
        cfg.breaks = _reduce_level(body.breaks)
        cfg.continues = _reduce_level(body.continues)
        return cfg

    def for_for(self, r) -> Cfg:
        kids = self.kids(r)
        n_locals = sum(1 for c in kids if c["kind"] == "LOCAL")
        init = self._maybe(self.child_by_order(r, n_locals + 1))
        cond = self._maybe(self.child_by_order(r, n_locals + 2))
        loop = self._maybe(self.child_by_order(r, n_locals + 3))
        body = self._maybe(self.child_by_order(r, n_locals + 4))

        inner = cond.append(body).append(loop)
        entry_cfg = init.append(inner)
        entry = entry_cfg.entry

        cont_target = loop.entry if loop.entry is not None else inner.entry
        new_edges = (_edges_from_fringe(init.fringe, inner.entry)
                     + _edges_from_fringe(inner.fringe, inner.entry)
                     + _edges_from_fringe(cond.fringe, body.entry, TRUE)
                     + [(n, cont_target, ALWAYS) for n in _take_level(body.continues)
                        if cont_target is not None])
        cfg = _merge_meta(init, cond, loop, body)
        cfg.entry = entry
        cfg.edges = new_edges + init.edges + inner.edges
        cfg.fringe = (cond.with_fringe_type(FALSE)
                      + [(n, ALWAYS) for n in _take_level(body.breaks)])
        cfg.breaks = _reduce_level(body.breaks)
        cfg.continues = _reduce_level(body.continues)
        return cfg

    def for_if(self, r) -> Cfg:
        cond = self._maybe(self.child_by_order(r, 1))
        true_c = self._maybe(self.child_by_order(r, 2))
        false_c = self._maybe(self.child_by_order(r, 3))
        edges = (_edges_from_fringe(cond.fringe, true_c.entry)
                 + _edges_from_fringe(cond.fringe, false_c.entry))
        cfg = _merge_meta(cond, true_c, false_c)
        cfg.entry = cond.entry
        cfg.edges = edges + cond.edges + true_c.edges + false_c.edges
        cfg.fringe = true_c.fringe + (
            false_c.fringe if false_c.entry is not None
            else cond.with_fringe_type(FALSE)
        )
        return cfg

    def for_switch(self, r) -> Cfg:
        cond = self._maybe(self.child_by_order(r, 1))
        body = self._maybe(self.child_by_order(r, 2))
        return self.switch_like(cond, [body])

    def switch_like(self, cond: Cfg, bodies: list[Cfg]) -> Cfg:
        """CfgCreator.cfgForSwitchLike (:598-616)."""
        case_labels = [c for b in bodies for c in b.case_labels]
        has_default = any(
            (self.by_id[c]["name"] or "").startswith("default") for c in case_labels
        )
        case_edges = [(src, dst, CASE) for src, _ in cond.fringe for dst in case_labels]
        break_fringe = [(n, ALWAYS) for b in bodies for n in _take_level(b.breaks)]
        cfg = _merge_meta(cond, *bodies)
        cfg.entry = cond.entry
        cfg.edges = case_edges + cond.edges + [e for b in bodies for e in b.edges]
        cfg.fringe = ((cond.with_fringe_type(FALSE) if not has_default else [])
                      + break_fringe + [f for b in bodies for f in b.fringe])
        cfg.case_labels = []
        cfg.breaks = _reduce_level([p for b in bodies for p in b.breaks])
        cfg.continues = [p for b in bodies for p in b.continues]
        return cfg

    def _maybe(self, r) -> Cfg:
        return self.cfg_for(r) if r is not None else Cfg()

    # --- method entry -------------------------------------------------------
    def build(self) -> list[tuple[int, int]]:
        if self.method is None:
            return []
        cfg = self.single(self.method)
        for c in self.kids(self.method):
            cfg = cfg.append(self.cfg_for(c))
        # withResolvedJumpToLabel (Cfg.scala:77-97)
        resolved = []
        for src, label in cfg.jumps:
            if label != "*":
                dst = cfg.labeled.get(label)
                if dst is not None:
                    resolved.append((src, dst, ALWAYS))
            else:
                resolved.extend((src, dst, ALWAYS) for dst in cfg.labeled.values())
        seen = set()
        out = []
        for src, dst, _t in cfg.edges + resolved:
            if (src, dst) not in seen:
                seen.add((src, dst))
                out.append((src, dst))
        return out


def cfg_edges_for_method(rows: list[dict[str, Any]]) -> list[tuple[int, int]]:
    return CfgBuilder(rows).build()
