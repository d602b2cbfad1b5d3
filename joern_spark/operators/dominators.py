"""Dominator / post-dominator / control-dependence passes.

Reference:
- CfgDominatorPass (``x2cpg/.../passes/controlflow/cfgdominator/
  CfgDominatorPass.scala:13-47``): immediate dominators via Cooper–Harvey–
  Kennedy over reverse post-order (``CfgDominator.scala:15-88``), emitting
  DOMINATE (idom → node) and POST_DOMINATE (ipdom → node, = dominators of
  the reversed CFG) edges.
- CdgPass (``x2cpg/.../passes/controlflow/codepencegraph/CdgPass.scala:22-57``):
  CDG edges from the post-dominance frontier
  (``CfgDominatorFrontier.scala:11-37``) — node n is control-dependent on c
  iff c ∈ PDF(n).

Shape: same as the CFG kernel — the graph is method-local and tiny, so
``dominator_edges_for_method`` takes one method's rows and CFG edges, and
the fused kernel (``method_kernels.py``) calls it per method; parallelism
across methods is partition parallelism (reference runs ForkJoin over
methods).
"""

from __future__ import annotations


def _rpo(entry: int, succ: dict[int, list[int]]) -> list[int]:
    seen, order = set(), []
    stack: list[tuple[int, int]] = [(entry, 0)]
    seen.add(entry)
    # iterative post-order
    while stack:
        node, i = stack.pop()
        kids = succ.get(node, [])
        if i < len(kids):
            stack.append((node, i + 1))
            k = kids[i]
            if k not in seen:
                seen.add(k)
                stack.append((k, 0))
        else:
            order.append(node)
    order.reverse()
    return order


def _idoms(entry: int, nodes: list[int], succ: dict[int, list[int]]) -> dict[int, int]:
    """Cooper–Harvey–Kennedy immediate dominators (CfgDominator.scala:15-88)."""
    rpo = _rpo(entry, succ)
    index = {n: i for i, n in enumerate(rpo)}
    preds: dict[int, list[int]] = {}
    for u, vs in succ.items():
        for v in vs:
            preds.setdefault(v, []).append(u)
    idom: dict[int, int] = {entry: entry}

    def intersect(a: int, b: int) -> int:
        while a != b:
            while index[a] > index[b]:
                a = idom[a]
            while index[b] > index[a]:
                b = idom[b]
        return a

    changed = True
    while changed:
        changed = False
        for n in rpo:
            if n == entry:
                continue
            ps = [p for p in preds.get(n, []) if p in idom]
            if not ps:
                continue
            new = ps[0]
            for p in ps[1:]:
                new = intersect(p, new)
            if idom.get(n) != new:
                idom[n] = new
                changed = True
    return idom


def _frontier(idom: dict[int, int], preds: dict[int, list[int]]) -> dict[int, set[int]]:
    """Dominance frontier (Cooper's two-finger walk, CfgDominatorFrontier)."""
    df: dict[int, set[int]] = {}
    for b, ps in preds.items():
        if len(ps) < 2 or b not in idom:
            continue
        for p in ps:
            if p not in idom:
                continue
            runner = p
            while runner != idom[b]:
                df.setdefault(runner, set()).add(b)
                nxt = idom.get(runner)
                if nxt is None or nxt == runner:
                    break
                runner = nxt
    return df


def dominator_edges_for_method(node_rows: list[dict], cfg_edges: list[tuple[int, int]]):
    """→ list of (src, dst, kind) for DOMINATE / POST_DOMINATE / CDG."""
    method_id = None
    exits = []
    for r in node_rows:
        if r["kind"] == "METHOD":
            method_id = r["node_id"]
        elif r["kind"] == "METHOD_RETURN":
            exits.append(r["node_id"])
    if method_id is None or not cfg_edges:
        return []

    succ: dict[int, list[int]] = {}
    pred: dict[int, list[int]] = {}
    for s, d in cfg_edges:
        succ.setdefault(s, []).append(d)
        pred.setdefault(d, []).append(s)
    all_nodes = sorted(set(succ) | set(pred))

    out = []
    # forward dominators from the METHOD entry
    idom = _idoms(method_id, all_nodes, succ)
    for n, d in idom.items():
        if n != d:
            out.append((d, n, "DOMINATE"))

    # post-dominators = dominators of the reversed CFG from METHOD_RETURN
    if exits:
        # single virtual exit: reference wires all exits to METHOD_RETURN
        exit_id = exits[0]
        ipdom = _idoms(exit_id, all_nodes, pred)
        for n, d in ipdom.items():
            if n != d:
                out.append((d, n, "POST_DOMINATE"))
        # CDG: control dependence = post-dominance frontier; in the reversed
        # graph, preds(b) = cfg successors of b
        rev_preds = {n: succ.get(n, []) for n in all_nodes}
        pdf = _frontier(ipdom, rev_preds)
        # pdf maps dependent-node → {controlling branch nodes}; the stored
        # edge runs controller → dependent (CdgPass.scala:38)
        for n, controllers in pdf.items():
            for c in controllers:
                out.append((c, n, "CDG"))
    return out
