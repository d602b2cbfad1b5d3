"""Base + type-relation linking passes, as DataFrame joins.

Reference passes re-expressed (SURVEY.md §2.A):
- TypeNodePass (#3): distinct type names → TYPE rows.
- TypeDeclStubCreator (#6): TYPE without TYPE_DECL → external stub (anti-join).
- MethodStubCreator (#7): distinct call summaries without METHOD → stubs
  (``x2cpg/.../passes/base/MethodStubCreator.scala:78-139`` shape: params
  p1..pn, block order 1, RET order 2).
- MethodDecoratorPass (#9): METHOD_PARAMETER_OUT + PARAMETER_LINK.
- TypeRefPass (#12): REF edges TYPE → TYPE_DECL (broadcast equi-join).
- TypeEvalPass (#13): EVAL_TYPE edges node → TYPE with C dereference
  normalization (``Dereference.scala:22-29`` — strip ``*`` before linking).

TYPE ids are content hashes of the dereferenced full name, so every pass that
needs a TYPE id can compute it locally; joins remain for validation/linking
only where the destination id is doc-local (TYPE_DECL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dims import budgeted_broadcast

from ..ids import stub_id_col
from ..schema import NODES_SCHEMA_DDL, NODE_COLUMNS

# column -> Spark type, parsed once from the canonical nodes DDL
_NODE_TYPES = dict(
    part.rsplit(" ", 1) for part in NODES_SCHEMA_DDL.split(", ")
)
_NODE_DEFAULTS = {
    "doc_id": "<global>", "name": "", "full_name": "", "code": "",
    "signature": "", "dispatch_type": "", "order": 0, "argument_index": 0,
    "line": 0, "span_offset": -1, "type_full_name": "", "is_external": False,
    "media_ref": "", "ctrl_type": "", "filename": "<global>",
}


def _node_select(df: DataFrame, **cols) -> DataFrame:
    """Project ``df`` to the full nodes schema: given columns, template
    defaults for the rest (same defaults the old Python row template used) —
    the JVM-side replacement for the vocabulary passes' mapInPandas
    generators, so stub synthesis stays inside whole-stage codegen."""
    sel = []
    for c in NODE_COLUMNS:
        v = cols.get(c, _NODE_DEFAULTS.get(c))
        col = v if isinstance(v, Column) else F.lit(v)
        sel.append(col.cast(_NODE_TYPES[c]).alias(c))
    return df.select(*sel)


def _node_struct(**cols) -> Column:
    """Full-schema node row as a struct (same defaults/casts as
    :func:`_node_select`). Used with ``inline`` so one scan can emit several
    synthesized rows per input row — unioning per-kind projections instead
    would re-run the pass's upstream (scan → distinct → anti-join) once per
    branch per consumer, which measurably anti-scaled at 32 cores."""
    fields = []
    for c in NODE_COLUMNS:
        v = cols.get(c, _NODE_DEFAULTS.get(c))
        col = v if isinstance(v, Column) else F.lit(v)
        fields.append(col.cast(_NODE_TYPES[c]).alias(c))
    return F.struct(*fields)


def dereference(col):
    """C dereference normalization for linking (strip '*')."""
    return F.regexp_replace(col, r"\*", "")


def type_nodes(nodes: DataFrame) -> DataFrame:
    """TypeNodePass: distinct dereferenced type names → TYPE rows."""
    names = (
        nodes.select(dereference(F.col("type_full_name")).alias("tn"))
        .filter((F.col("tn").isNotNull()) & (F.col("tn") != ""))
        .distinct()
    )
    return _node_select(
        names, node_id=stub_id_col("TYPE", F.col("tn")), kind="TYPE",
        name=F.col("tn"), full_name=F.col("tn"), code=F.col("tn"))


def namespace_pass(nodes: DataFrame) -> DataFrame:
    """NamespaceCreator (x2cpg/.../passes/base/NamespaceCreator.scala:17-25):
    group NAMESPACE_BLOCKs by name → one NAMESPACE node per name.
    Textbook hash-aggregate + deterministic stub ids; the block → NAMESPACE
    REF edges come from :func:`vocabulary_edges`."""
    names = nodes.filter(F.col("kind") == "NAMESPACE_BLOCK") \
        .select("name").distinct()
    return _node_select(
        names, node_id=stub_id_col("NAMESPACE", F.col("name")),
        kind="NAMESPACE", name=F.col("name"), full_name=F.col("name"),
        code=F.col("name"))


def type_decl_stubs(types: DataFrame, nodes: DataFrame, fits: bool) -> DataFrame:
    """TypeDeclStubCreator: TYPE with no TYPE_DECL → external stub (anti-join;
    the TYPE_DECL dim broadcasts when ``fits``)."""
    decls = nodes.filter(F.col("kind") == "TYPE_DECL").select(
        dereference(F.col("full_name")).alias("full_name")
    ).distinct()
    missing = types.select("full_name").join(
        budgeted_broadcast(decls, fits), "full_name", "left_anti")
    fn = F.col("full_name")
    return _node_select(
        missing, node_id=stub_id_col("TYPE_DECL", fn), kind="TYPE_DECL",
        name=F.element_at(F.split(fn, r"\."), -1), full_name=fn, code=fn,
        is_external=True)


def method_stubs(nodes: DataFrame, edges: DataFrame, fits: bool) -> DataFrame:
    """MethodStubCreator: distinct call summaries with no METHOD → stub rows
    (their AST edges come from :func:`vocabulary_edges`).

    The METHOD dim is vocabulary-sized (distinct full names); the anti-join
    broadcasts it when ``fits``.
    """
    arg_counts = (
        edges.filter(F.col("kind") == "ARGUMENT")
        .groupBy("src").agg(F.count("*").alias("n_args"))
    )
    calls = (
        nodes.filter(F.col("kind") == "CALL")
        .join(arg_counts, nodes["node_id"] == arg_counts["src"], "left")
        .select(
            F.col("name").alias("c_name"),
            F.col("signature").alias("c_sig"),
            F.col("full_name").alias("c_full"),
            F.col("dispatch_type").alias("c_disp"),
            F.coalesce(F.col("n_args"), F.lit(0)).alias("n_args"),
        )
        .groupBy("c_name", "c_sig", "c_full", "c_disp")
        .agg(F.max("n_args").alias("n_args"))
    )
    methods = nodes.filter(F.col("kind") == "METHOD").select(
        F.col("full_name").alias("c_full")
    ).distinct()
    missing = calls.join(budgeted_broadcast(methods, fits),
                         "c_full", "left_anti")

    # pure-JVM stub synthesis (round-3 profile: the Python generator here was
    # the pool's biggest serial chunk, t_stubs 21-43 s). ONE scan emits the
    # METHOD row plus its BLOCK/RET children and a bounded parameter sequence
    # — receiver at order 0 for dynamic dispatch, p1..pn otherwise
    # (MethodStubCreator.scala:78-139 shape) — via inline(concat(array,
    # transform)). Do NOT union per-kind projections here: each union branch
    # re-runs the upstream (full-nodes scan → distinct → broadcast anti-join)
    # per consumer, which turned this pass into a 32-core anti-scaler.
    mid = stub_id_col("METHOD", F.col("c_full"))
    m = missing.withColumn("mid", mid).withColumn(
        "first",
        F.when(F.col("c_disp") == "DYNAMIC_DISPATCH", F.lit(0)).otherwise(1))
    c_full, c_mid, c_first = F.col("c_full"), F.col("mid"), F.col("first")
    method_s = _node_struct(
        node_id=c_mid, kind="METHOD", name=F.col("c_name"),
        full_name=c_full, signature=F.coalesce(F.col("c_sig"), F.lit("")),
        code=F.col("c_name"), is_external=True, method_id=c_mid)
    block_s = _node_struct(
        node_id=stub_id_col("BLOCK", c_full), kind="BLOCK",
        order=1, argument_index=1, type_full_name="ANY",
        parent_id=c_mid, method_id=c_mid, is_external=True)
    ret_s = _node_struct(
        node_id=stub_id_col("RET", c_full), kind="METHOD_RETURN",
        code="RET", order=2, type_full_name="ANY",
        parent_id=c_mid, method_id=c_mid, is_external=True)

    def param_s(o):
        pname = F.concat(F.lit("p"), o.cast("string"))
        return _node_struct(
            node_id=stub_id_col("PARAM", c_full, o),
            kind="METHOD_PARAMETER_IN", name=pname, code=pname, order=o,
            argument_index=o - c_first + 1, type_full_name="ANY",
            parent_id=c_mid, method_id=c_mid, is_external=True)

    param_structs = F.transform(
        F.when(F.col("n_args") >= c_first,
               F.sequence(c_first, F.col("n_args").cast("int")))
        .otherwise(F.array().cast("array<int>")),
        param_s,
    )
    return m.select(F.inline(
        F.concat(F.array(method_s, block_s, ret_s), param_structs)))


def dependency_pass(nodes: DataFrame) -> DataFrame:
    """DEPENDENCY nodes from the corpus's import universe.

    Reference: ``jssrc2cpg/.../DependenciesPass.scala:14-35`` (NewDependency
    per declared package). Here the declared-dependency source is the IMPORT
    node set (Java ``import`` + C ``#include``); one DEPENDENCY row per
    distinct imported name — a vocabulary-sized distinct, map-side combined.
    """
    imports = (
        nodes.filter(F.col("kind") == "IMPORT")
        .select(F.col("name").alias("dep_name"))
        .filter(F.col("dep_name").isNotNull() & (F.col("dep_name") != ""))
        .distinct()
    )
    dn = F.col("dep_name")
    return _node_select(
        imports, node_id=stub_id_col("DEPENDENCY", dn), kind="DEPENDENCY",
        name=dn, full_name=dn, code=dn, is_external=True)


def imports_linker(nodes: DataFrame, deps: DataFrame, *, fits: bool) -> DataFrame:
    """IMPORTS edges IMPORT → DEPENDENCY (jssrc2cpg
    ``AstForDeclarationsCreator.scala:333`` ``EdgeTypes.IMPORTS``).

    The dependency dim is vocabulary-sized (one row per distinct imported
    name), so the join broadcasts when ``fits`` and degrades to a shuffle
    join otherwise."""
    imports = nodes.filter(F.col("kind") == "IMPORT").select(
        F.col("node_id").alias("src"), F.col("name").alias("dep_name"),
        "doc_id", "method_id",
    )
    dep_dim = deps.select(F.col("name").alias("dep_name"),
                          F.col("node_id").alias("dep_id"))
    return (
        imports.join(budgeted_broadcast(dep_dim, fits), "dep_name")
        .select(
            "src", F.col("dep_id").alias("dst"),
            F.lit("IMPORTS").alias("kind"), F.lit("").alias("variable"),
            "doc_id", "method_id",
        )
    )


def macro_ref_linker(nodes: DataFrame) -> DataFrame:
    """REF edges: MACRO_REF (object-like use) and CALL (function-like use) →
    same-document MACRO_DECL, keyed on (doc_id, name). Fork-specific node
    kinds (NodeTypeStarters.scala:180-190); macros are file-scoped in this
    model, so the join is doc-co-located — no cross-partition shuffle when
    nodes are partitioned by doc."""
    decls = nodes.filter(F.col("kind") == "MACRO_DECL").select(
        "doc_id", F.col("name").alias("m_name"), F.col("node_id").alias("decl_id")
    )
    refs = nodes.filter(F.col("kind").isin("MACRO_REF", "CALL")).select(
        F.col("node_id").alias("ref_id"), "doc_id",
        F.col("name").alias("m_name"), "method_id",
    )
    return (
        refs.join(decls, ["doc_id", "m_name"])
        .select(
            F.col("ref_id").alias("src"), F.col("decl_id").alias("dst"),
            F.lit("REF").alias("kind"), F.lit("").alias("variable"),
            "doc_id", "method_id",
        )
    )


def parameter_out_pass(nodes: DataFrame) -> DataFrame:
    """MethodDecoratorPass: synthesize METHOD_PARAMETER_OUT per PARAMETER_IN
    (its AST and PARAMETER_LINK edges come from :func:`vocabulary_edges`).

    Pure projection — no shuffle: the paramOut id derives from the paramIn id.
    """
    params = nodes.filter(F.col("kind") == "METHOD_PARAMETER_IN")
    return _node_select(
        params, node_id=stub_id_col("PARAM_OUT", F.col("node_id")),
        doc_id=F.col("doc_id"), kind="METHOD_PARAMETER_OUT",
        name=F.col("name"), code=F.col("code"), order=F.col("order"),
        argument_index=F.col("argument_index"), line=F.col("line"),
        span_offset=F.col("span_offset"),
        type_full_name=F.col("type_full_name"), parent_id=F.col("parent_id"),
        method_id=F.col("method_id"), filename=F.col("filename"))


def vocabulary(nodes: DataFrame, edges: DataFrame, fits: bool) -> DataFrame:
    """The six base-pass node frames as one union: TYPE rows, TYPE_DECL
    stubs, METHOD stubs (with their BLOCK/RET/parameter children),
    METHOD_PARAMETER_OUT, NAMESPACE and DEPENDENCY rows. Their kinds do not
    overlap, so each frame is a ``kind`` filter of the union.

    The TYPE rows are materialized first (one small job): the optimizer
    pushes the decl stubs' anti-join below the type-name ``distinct``, so
    the two branches share no exchange and a lazy union would scan the
    nodes for type names twice. The rest of the union is lazy.

    ``fits``: whether the METHOD and TYPE_DECL dims of the stub passes'
    anti-joins fit the broadcast budget (the pipeline bounds both by the
    METHOD + TYPE_DECL + MEMBER count), so building the union probes nothing.
    """
    types = type_nodes(nodes).localCheckpoint(eager=True)
    return (
        types.unionByName(type_decl_stubs(types, nodes, fits))
        .unionByName(method_stubs(nodes, edges, fits))
        .unionByName(parameter_out_pass(nodes))
        .unionByName(namespace_pass(nodes))
        .unionByName(dependency_pass(nodes))
    )


def vocabulary_edges(vocab: DataFrame, nodes: DataFrame, *,
                     fits: bool) -> DataFrame:
    """The edges of the :func:`vocabulary` rows:

    - AST ``parent_id → node_id`` for every row with a parent (the method
      stubs' children and the paramOuts; TYPE, TYPE_DECL, NAMESPACE and
      DEPENDENCY rows have none);
    - PARAMETER_LINK paramIn → paramOut, on the same (parent, order);
    - REF NAMESPACE_BLOCK → NAMESPACE, by name (the NAMESPACE dim
      broadcasts when ``fits``).
    """
    ast = vocab.filter(F.col("parent_id").isNotNull()).select(
        F.col("parent_id").alias("src"), F.col("node_id").alias("dst"),
        F.lit("AST").alias("kind"), F.lit("").alias("variable"),
        "doc_id", "method_id",
    )
    params = nodes.filter(F.col("kind") == "METHOD_PARAMETER_IN")
    outs = vocab.filter(F.col("kind") == "METHOD_PARAMETER_OUT")
    param_link = (
        params.alias("p")
        .join(outs.alias("o"),
              (F.col("p.parent_id") == F.col("o.parent_id"))
              & (F.col("p.order") == F.col("o.order")))
        .select(
            F.col("p.node_id").alias("src"), F.col("o.node_id").alias("dst"),
            F.lit("PARAMETER_LINK").alias("kind"), F.lit("").alias("variable"),
            F.col("p.doc_id").alias("doc_id"),
            F.col("p.method_id").alias("method_id"),
        )
    )
    ns_dim = vocab.filter(F.col("kind") == "NAMESPACE").select(
        F.col("name").alias("ns_name"), F.col("node_id").alias("ns_id"))
    ns_ref = (
        nodes.filter(F.col("kind") == "NAMESPACE_BLOCK")
        .join(budgeted_broadcast(ns_dim, fits), F.col("name") == F.col("ns_name"))
        .select(
            F.col("node_id").alias("src"), F.col("ns_id").alias("dst"),
            F.lit("REF").alias("kind"), F.lit("").alias("variable"),
            "doc_id", F.lit(None).cast("long").alias("method_id"),
        )
    )
    return ast.unionByName(param_link).unionByName(ns_ref)


def type_ref_pass(types: DataFrame, nodes: DataFrame, *, fits: bool) -> DataFrame:
    """TypeRefPass: REF edges TYPE → TYPE_DECL by full_name (the TYPE_DECL
    dim broadcasts when ``fits``)."""
    decls = nodes.filter(F.col("kind") == "TYPE_DECL").select(
        dereference(F.col("full_name")).alias("fn"),
        F.col("node_id").alias("decl_id"), "doc_id",
    )
    return (
        types.select(F.col("full_name").alias("fn"), F.col("node_id").alias("type_id"))
        .join(budgeted_broadcast(decls, fits), "fn")
        .select(
            F.col("type_id").alias("src"), F.col("decl_id").alias("dst"),
            F.lit("REF").alias("kind"), F.lit("").alias("variable"),
            "doc_id", F.lit(None).cast("long").alias("method_id"),
        )
    )


# node kinds carrying an evaluated type (reference TypeEvalPass.scala:14-28)
_EVAL_KINDS = [
    "METHOD_PARAMETER_IN", "METHOD_PARAMETER_OUT", "METHOD_RETURN", "LOCAL",
    "LITERAL", "CALL", "IDENTIFIER", "BLOCK", "MEMBER", "TYPE_REF", "UNKNOWN",
    "METHOD_REF",
]


def eval_type_pass(nodes: DataFrame, types: DataFrame, *, fits: bool) -> DataFrame:
    """TypeEvalPass: EVAL_TYPE node → TYPE via dereferenced TYPE_FULL_NAME.

    linkToSingle pattern (``LinkingUtil.scala:42-100``): equi-join against the
    TYPE dimension, broadcast when ``fits``.
    """
    src = nodes.filter(
        F.col("kind").isin(_EVAL_KINDS)
        & F.col("type_full_name").isNotNull() & (F.col("type_full_name") != "")
    ).select(
        F.col("node_id").alias("src_id"),
        dereference(F.col("type_full_name")).alias("fn"),
        "doc_id", "method_id",
    )
    dim = types.select(F.col("full_name").alias("fn"), F.col("node_id").alias("type_id"))
    return src.join(budgeted_broadcast(dim, fits), "fn").select(
        F.col("src_id").alias("src"), F.col("type_id").alias("dst"),
        F.lit("EVAL_TYPE").alias("kind"), F.lit("").alias("variable"),
        "doc_id", "method_id",
    )
