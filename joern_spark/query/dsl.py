"""DataFrame-backed traversal steps.

Step catalogue mirrored from the reference (file:line cites per method):
- starters: ``NodeTypeStarters.scala:19-328``
- property filters: propertyaccessors (used e.g. ``StaticCallLinker.scala:24``)
- AST steps: ``AstNodeTraversal.scala:15-92``
- CFG steps: ``CfgNodeMethods.scala:14-36``
- call graph: ``callgraphextension/MethodTraversal.scala:28-65``
- ARGUMENT: ``NodeTypeStarters.scala:29-36``
- operator-extension views: ``operatorextension/package.scala:10-126``

Scale shape: the frontier is always a narrow (node_id) projection; every hop
joins frontier → edges[kind] → nodes, i.e. two hash joins on 64-bit keys.
Transitive steps (`ast`, `dominatedBy`, ...) go through ``frontier.expand``:
bounded rounds with a visited-set anti-join (frontier stays deduplicated, no
exponential blowup).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.frontier import MAX_ROUNDS, expand

# operator-extension families (operatorextension/package.scala:10-126)
ASSIGNMENT_OPS = [
    "<operator>.assignment", "<operator>.assignmentPlus", "<operator>.assignmentMinus",
    "<operator>.assignmentMultiplication", "<operator>.assignmentDivision",
    "<operator>.assignmentModulo", "<operator>.assignmentAnd", "<operator>.assignmentOr",
    "<operator>.assignmentXor", "<operator>.assignmentShiftLeft",
    "<operator>.assignmentArithmeticShiftRight", "<operator>.assignmentLogicalShiftRight",
    "<operator>.preIncrement", "<operator>.preDecrement",
    "<operator>.postIncrement", "<operator>.postDecrement",
]
ARITHMETIC_OPS = [
    "<operator>.addition", "<operator>.subtraction", "<operator>.multiplication",
    "<operator>.division", "<operator>.modulo", "<operator>.exponentiation",
]
FIELD_ACCESS_OPS = [
    "<operator>.fieldAccess", "<operator>.indirectFieldAccess",
    "<operator>.memberAccess", "<operator>.indirectMemberAccess",
]
ARRAY_ACCESS_OPS = ["<operator>.indexAccess", "<operator>.indirectIndexAccess",
                    "<operator>.computedMemberAccess", "<operator>.indirectComputedMemberAccess"]
ALLOC_OPS = ["<operator>.alloc", "<operator>.new", "<operator>.arrayNew"]


@dataclass
class Cpg:
    """Entry point: wraps the graph tables; starters return CpgQuery."""

    nodes: DataFrame
    edges: DataFrame

    # ---- label starters (NodeTypeStarters.scala) -------------------------
    def _scan(self, kind: str, name: str | None = None) -> "CpgQuery":
        df = self.nodes.filter(F.col("kind") == kind)
        if name is not None:
            df = df.filter(F.col("name").rlike(name))
        return CpgQuery(self, df)

    def method(self, name: str | None = None) -> "CpgQuery":
        return self._scan("METHOD", name)

    def call(self, name: str | None = None) -> "CpgQuery":
        return self._scan("CALL", name)

    def identifier(self, name: str | None = None) -> "CpgQuery":
        return self._scan("IDENTIFIER", name)

    def literal(self, code: str | None = None) -> "CpgQuery":
        q = self._scan("LITERAL")
        return q.code(code) if code is not None else q

    def type_decl(self, name: str | None = None) -> "CpgQuery":
        return self._scan("TYPE_DECL", name)

    def local(self, name: str | None = None) -> "CpgQuery":
        return self._scan("LOCAL", name)

    def file(self, name: str | None = None) -> "CpgQuery":
        return self._scan("FILE", name)

    def method_return(self) -> "CpgQuery":
        return self._scan("METHOD_RETURN")

    def parameter(self, name: str | None = None) -> "CpgQuery":
        return self._scan("METHOD_PARAMETER_IN", name)

    def method_ref(self, full_name: str | None = None) -> "CpgQuery":
        """METHOD_REF starter (NodeTypeStarters.methodRef)."""
        df = self.nodes.filter(F.col("kind") == "METHOD_REF")
        if full_name is not None:
            df = df.filter(F.col("full_name").rlike(full_name))
        return CpgQuery(self, df)

    def flow(self, sinks: DataFrame, sources: DataFrame,
             max_call_depth: int | None = None) -> DataFrame:
        """Shared reachableBy over this graph: (source_id, sink_id) pairs.

        Routes through ONE :class:`joern_spark.dataflow.FlowEngine` cached on
        the instance, so every query of a scan bundle walks the same backward
        step relation (fetched and broadcast once under the budget) — the
        reference's ``shareCacheBetweenTasks``. Returns a lazy frame that
        runs inside the caller's own job.
        """
        from joern_spark.dataflow import MAX_CALL_DEPTH, FlowEngine

        eng = self.__dict__.get("_flow_engine")
        if eng is None:
            eng = FlowEngine(self.nodes, self.edges)
            self.__dict__["_flow_engine"] = eng
        if max_call_depth is None:
            max_call_depth = MAX_CALL_DEPTH
        return eng.flow(sinks, sources, max_call_depth)

    def config_file(self, name: str | None = None) -> "CpgQuery":
        """CONFIG_FILE starter (NodeTypeStarters.configFile)."""
        return self._scan("CONFIG_FILE", name)

    def dependency(self, name: str | None = None) -> "CpgQuery":
        """DEPENDENCY starter (NodeTypeStarters.dependency)."""
        return self._scan("DEPENDENCY", name)

    def imports(self, name: str | None = None) -> "CpgQuery":
        """IMPORT starter (NodeTypeStarters.imports)."""
        return self._scan("IMPORT", name)

    def template_dom(self, name: str | None = None) -> "CpgQuery":
        """TEMPLATE_DOM starter (NodeTypeStarters.templateDom) — JSX/template
        constructs named after their Babel class (JSXElement etc.)."""
        return self._scan("TEMPLATE_DOM", name)

    def macro_decl(self, name: str | None = None) -> "CpgQuery":
        """MACRO_DECL starter (fork NodeTypeStarters.macroDecl, :180-185)."""
        return self._scan("MACRO_DECL", name)

    def macro_ref(self, name: str | None = None) -> "CpgQuery":
        """MACRO_REF starter (fork NodeTypeStarters.macroRef, :186-190)."""
        return self._scan("MACRO_REF", name)

    def all(self) -> "CpgQuery":
        return CpgQuery(self, self.nodes)

    # operator-extension starters
    def assignment(self) -> "CpgQuery":
        return CpgQuery(self, self.nodes.filter(F.col("name").isin(ASSIGNMENT_OPS)))

    def arithmetic(self) -> "CpgQuery":
        return CpgQuery(self, self.nodes.filter(F.col("name").isin(ARITHMETIC_OPS)))

    def field_access(self) -> "CpgQuery":
        return CpgQuery(self, self.nodes.filter(F.col("name").isin(FIELD_ACCESS_OPS)))

    def array_access(self) -> "CpgQuery":
        """index/computed-member access calls (operatorextension
        NodeTypeStarters.scala:23-26, allArrayAccessTypes)."""
        return CpgQuery(self, self.nodes.filter(F.col("name").isin(ARRAY_ACCESS_OPS)))

    def alloc(self) -> "CpgQuery":
        """allocation operator calls (alloc/new/arrayNew)."""
        return CpgQuery(self, self.nodes.filter(F.col("name").isin(ALLOC_OPS)))


class CpgQuery:
    """A traversal frontier (DataFrame of node rows) + combinator steps."""

    def __init__(self, cpg: Cpg, df: DataFrame):
        self.cpg = cpg
        self.df = df

    # ---- terminal --------------------------------------------------------
    def to_df(self) -> DataFrame:
        return self.df

    def l(self) -> list:
        """``.l`` — materialize (test-sized graphs only)."""
        return self.df.collect()

    def count(self) -> int:
        return self.df.count()

    def ids(self) -> DataFrame:
        return self.df.select("node_id")

    # ---- filters (propertyaccessors) ------------------------------------
    def _f(self, cond) -> "CpgQuery":
        return CpgQuery(self.cpg, self.df.filter(cond))

    def name(self, regex: str) -> "CpgQuery":
        return self._f(F.col("name").rlike(regex))

    def name_exact(self, value: str) -> "CpgQuery":
        return self._f(F.col("name") == value)

    def full_name_exact(self, value: str) -> "CpgQuery":
        return self._f(F.col("full_name") == value)

    def code(self, regex: str) -> "CpgQuery":
        return self._f(F.col("code").rlike(regex))

    def code_exact(self, value: str) -> "CpgQuery":
        return self._f(F.col("code") == value)

    def is_external(self, flag: bool = True) -> "CpgQuery":
        return self._f(F.col("is_external") == flag)

    def order(self, n: int) -> "CpgQuery":
        return self._f(F.col("order") == n)

    def argument_index(self, n: int) -> "CpgQuery":
        return self._f(F.col("argument_index") == n)

    def line_number(self, n: int) -> "CpgQuery":
        return self._f(F.col("line") == n)

    def is_call(self) -> "CpgQuery":
        return self._f(F.col("kind") == "CALL")

    def is_identifier(self) -> "CpgQuery":
        return self._f(F.col("kind") == "IDENTIFIER")

    def is_literal(self) -> "CpgQuery":
        return self._f(F.col("kind") == "LITERAL")

    def is_control_structure(self) -> "CpgQuery":
        return self._f(F.col("kind") == "CONTROL_STRUCTURE")

    def where_not_in(self, other: "CpgQuery") -> "CpgQuery":
        """whereNot — anti-join on node_id."""
        return CpgQuery(
            self.cpg, self.df.join(other.ids(), "node_id", "left_anti")
        )

    def dedup(self) -> "CpgQuery":
        return CpgQuery(self.cpg, self.df.dropDuplicates(["node_id"]))

    # ---- edge hops -------------------------------------------------------
    def _hop(self, edge_kind: str, forward: bool = True) -> "CpgQuery":
        e = self.cpg.edges.filter(F.col("kind") == edge_kind)
        here, there = ("src", "dst") if forward else ("dst", "src")
        nxt = (
            self.df.select(F.col("node_id").alias(here))
            .join(e.select(here, there), here)
            .select(F.col(there).alias("node_id"))
            .distinct()
        )
        return CpgQuery(self.cpg, nxt.join(self.cpg.nodes, "node_id"))

    # AST (AstNodeTraversal.scala:45-92)
    def ast_children(self) -> "CpgQuery":
        return self._hop("AST", forward=True)

    def ast_parent(self) -> "CpgQuery":
        return self._hop("AST", forward=False)

    def ast(self) -> "CpgQuery":
        """Transitive AST closure incl. self (AstNodeTraversal.scala:15-17)."""
        return self._closure("AST", include_self=True)

    def ast_minus_root(self) -> "CpgQuery":
        return self._closure("AST", include_self=False)

    def in_ast(self) -> "CpgQuery":
        return self._closure("AST", include_self=True, forward=False)

    # CFG (CfgNodeMethods.scala:14-36)
    def cfg_next(self) -> "CpgQuery":
        return self._hop("CFG", forward=True)

    def cfg_prev(self) -> "CpgQuery":
        return self._hop("CFG", forward=False)

    # containment / ownership (CfgNodeMethods.scala:106-142)
    def method(self) -> "CpgQuery":
        """Owning METHOD of any node: via the method_id column (the CONTAINS
        shortcut the reference builds ContainsEdgePass for)."""
        owners = self.df.select(F.col("method_id").alias("node_id")).distinct()
        return CpgQuery(self.cpg, owners.join(self.cpg.nodes, "node_id"))

    def contains(self) -> "CpgQuery":
        return self._hop("CONTAINS", forward=True)

    # arguments (DdgGenerator.scala:109 usage)
    def argument(self, n: int | None = None) -> "CpgQuery":
        q = self._hop("ARGUMENT", forward=True)
        return q.argument_index(n) if n is not None else q

    def in_call(self) -> "CpgQuery":
        return self._hop("ARGUMENT", forward=False)

    # call graph (MethodTraversal.scala:28-65)
    def callee(self) -> "CpgQuery":
        """CALL node → resolved METHOD(s)."""
        return self._hop("CALL", forward=True)

    def call_in(self) -> "CpgQuery":
        """METHOD → CALL sites targeting it."""
        return self._hop("CALL", forward=False)

    def caller(self) -> "CpgQuery":
        """METHOD → methods containing calls to it."""
        return self.call_in().method()

    def calls(self) -> "CpgQuery":
        """METHOD → methods it calls (one hop of the call graph)."""
        m = self.df.select(F.col("node_id").alias("method_id")).distinct()
        call_sites = m.join(
            self.cpg.nodes.filter(F.col("kind") == "CALL"), "method_id"
        )
        return CpgQuery(self.cpg, call_sites).callee()

    # dominators (CfgNodeMethods.scala:40-104)
    def dominated_by(self) -> "CpgQuery":
        return self._closure("DOMINATE", include_self=False, forward=False)

    def dominates(self) -> "CpgQuery":
        return self._closure("DOMINATE", include_self=False, forward=True)

    def post_dominates(self) -> "CpgQuery":
        return self._closure("POST_DOMINATE", include_self=False, forward=True)

    def controls(self) -> "CpgQuery":
        return self._closure("CDG", include_self=False, forward=True)

    def controlled_by(self) -> "CpgQuery":
        return self._closure("CDG", include_self=False, forward=False)

    # reaching defs (one hop; full taint engine in joern_spark.dataflow)
    def ddg_in(self) -> "CpgQuery":
        return self._hop("REACHING_DEF", forward=False)

    def ddg_out(self) -> "CpgQuery":
        return self._hop("REACHING_DEF", forward=True)

    # ---- tagging (NodeSteps.tag / newTagNode, NodeSteps.scala:104-126) ---
    def tag(self, name: str) -> DataFrame:
        """Append-only tag rows for the frontier — the TAG/TAG_NODE_PAIR
        analog (a ``tags`` side table instead of graph mutation)."""
        return self.df.select(
            F.lit(name).alias("tag_name"), "node_id", "doc_id",
        )

    # ---- provenance (NodeSteps.location/.dump, NodeSteps.scala:26-85) ----
    def location(self, spans: DataFrame) -> DataFrame:
        """Source recovery: join each frontier node back to its span text
        via (doc_id, span_offset)."""
        return (
            self.df.select("node_id", "code", "line", "doc_id", "span_offset")
            .join(
                spans.select(
                    F.col("doc_id").alias("s_doc"),
                    F.col("span_offset").alias("s_off"),
                    F.col("text").alias("span_text"),
                ),
                (F.col("doc_id") == F.col("s_doc"))
                & (F.col("span_offset") == F.col("s_off")),
                "left",
            )
            .select("node_id", "doc_id", "line", "code", "span_text")
        )

    # ---- bounded transitive closure -------------------------------------
    def _closure(self, edge_kind: str, include_self: bool,
                 forward: bool = True) -> "CpgQuery":
        """Frontier closure over ``edge_kind`` edges from every node of the
        traversal at once (one merged visited set, see ``frontier.expand``)."""
        e = self.cpg.edges.filter(F.col("kind") == edge_kind)
        here, there = ("src", "dst") if forward else ("dst", "src")
        step = e.select(F.col(here).alias("node_id"),
                        F.col(there).alias("next_id"), F.lit(1).alias("cost"))
        reached = expand(self.df.select("node_id", F.lit(0).alias("depth")), step)
        if not include_self:
            reached = reached.filter(F.col("depth") > 0)
        return CpgQuery(self.cpg, reached.select("node_id").join(self.cpg.nodes, "node_id"))

    def repeat(self, step_fn, until=None, times: int | None = None,
               emit: bool = False) -> "CpgQuery":
        """Generic repeat(...)(_.emit/_.until/_.times) combinator."""
        out_frames = [self.df] if emit else []
        cur = self
        rounds = times if times is not None else MAX_ROUNDS
        for _ in range(rounds):
            cur = step_fn(cur)
            if emit:
                out_frames.append(cur.df)
            if until is not None and until(cur):
                break
            if times is None and cur.df.limit(1).count() == 0:
                break
        if emit:
            df = out_frames[0]
            for fr in out_frames[1:]:
                df = df.unionByName(fr)
            return CpgQuery(self.cpg, df.dropDuplicates(["node_id"]))
        return cur
