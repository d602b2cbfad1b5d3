"""XTypeRecovery-lite + FieldAccessLinker tests (SURVEY.md §2.A #20/#27).

Type hints come from the fused kernel, as in the pipeline
(``conftest.kernel_hints``): several rows per node when a variable carries
several hints.
"""

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from joern_spark.corpus import docs_df, split_code_spans
from joern_spark.operators.ast_pass import parse_docs, split_rows
from joern_spark.operators.type_recovery import field_access_linker
from tests.conftest import kernel_hints

SRC = """class Point {
  int x;
  int y;
  int getX() { return this.x; }
  void setX(int v) { this.x = v; }
}
class Use {
  int f(Point p) { return p.x; }
  int g() { Point q = new Point(); return q.y; }
}"""


@pytest.fixture(scope="module")
def graph(spark):
    docs = docs_df(spark, [{"doc_id": "tr/Fields.java",
                            "spans": split_code_spans(SRC, 3)}])
    rows = parse_docs(docs).persist()
    nodes, edges, _ = split_rows(rows)
    hints = kernel_hints(nodes).persist()
    yield nodes, edges, hints
    hints.unpersist()
    rows.unpersist()


def _hint_sets(hints) -> dict:
    """node_id → the set of its recovered types."""
    out = defaultdict(set)
    for r in hints.collect():
        out[r["node_id"]].add(r["recovered_type"])
    return out


def test_declared_param_type_recovered(graph):
    nodes, edges, rec = graph
    typed = (
        nodes.filter((F.col("kind") == "IDENTIFIER") & (F.col("name") == "p"))
        .join(rec, "node_id")
    )
    assert {r["recovered_type"] for r in typed.collect()} == {"Point"}


def test_this_type_is_enclosing_class(graph):
    nodes, edges, rec = graph
    typed = (
        nodes.filter((F.col("kind") == "IDENTIFIER") & (F.col("name") == "this"))
        .join(rec, "node_id")
    )
    assert {r["recovered_type"] for r in typed.collect()} == {"Point"}


def test_field_access_links_to_member(graph):
    nodes, edges, hints = graph
    refs = field_access_linker(nodes, edges, hints, fits=True)
    n = nodes.toPandas().set_index("node_id")
    pairs = {
        (n.loc[r["src"], "code"], n.loc[r["dst"], "name"])
        for r in refs.collect()
    }
    assert ("p.x", "x") in pairs       # declared param type
    assert ("this.x", "x") in pairs    # this-binding (both methods)


def test_alloc_propagation_links_q(graph):
    """q = new Point(); q.y — type flows through the assignment round."""
    nodes, edges, hints = graph
    refs = field_access_linker(nodes, edges, hints, fits=True)
    n = nodes.toPandas().set_index("node_id")
    pairs = {
        (n.loc[r["src"], "code"], n.loc[r["dst"], "name"])
        for r in refs.collect()
    }
    assert ("q.y", "y") in pairs


def test_c_struct_member_linking(spark):
    """C structs: p->val links to struct node's MEMBER val through the
    dereferenced receiver type (struct node* → struct node)."""
    src = ("struct node { int val; struct node *next; };\n"
           "int get(struct node *p) { return p->val; }")
    docs = docs_df(spark, [{"doc_id": "tr/list.c", "spans": split_code_spans(src, 1)}])
    rows = parse_docs(docs).persist()
    nodes, edges, _ = split_rows(rows)
    refs = field_access_linker(nodes, edges, kernel_hints(nodes), fits=True)
    n = nodes.select("node_id", "code", "name", "kind").toPandas().set_index("node_id")
    pairs = {(n.loc[r["src"], "code"], n.loc[r["dst"], "name"]) for r in refs.collect()}
    rows.unpersist()
    assert ("p->val", "val") in pairs


def test_no_cross_method_type_leak(spark):
    """Same variable name, different declared types in different methods —
    each identifier must get ITS method's type (regression: a degenerate
    self-join on method_id would cross-link by name only)."""
    src = ("class M {\n"
           "  int f() { Point v = new Point(); return v.x; }\n"
           "  int g() { Other v = new Other(); return v.x; }\n"
           "}\nclass Point { int x; }\nclass Other { int x; }")
    docs = docs_df(spark, [{"doc_id": "tr/Leak.java", "spans": split_code_spans(src, 2)}])
    rows = parse_docs(docs).persist()
    nodes, _, _ = split_rows(rows)
    rec = kernel_hints(nodes)
    typed = (
        nodes.filter((F.col("kind") == "IDENTIFIER") & (F.col("name") == "v"))
        .join(rec, "node_id")
        .join(
            nodes.filter(F.col("kind") == "METHOD")
            .select(F.col("node_id").alias("method_id"), F.col("name").alias("m_name")),
            "method_id",
        )
    )
    by_method = {}
    for r in typed.collect():
        by_method.setdefault(r["m_name"], set()).add(r["recovered_type"])
    rows.unpersist()
    assert by_method["f"] == {"Point"}
    assert by_method["g"] == {"Other"}


def test_no_cross_class_false_links(graph):
    """Members only link within the receiver's class (no name-only match)."""
    nodes, edges, hints = graph
    refs = field_access_linker(nodes, edges, hints, fits=True)
    classes = nodes.filter(F.col("kind") == "TYPE_DECL").select(
        F.col("node_id").alias("c_id"), F.col("full_name").alias("c_full")
    )
    member_class = (
        nodes.filter(F.col("kind") == "MEMBER")
        .join(classes, F.col("parent_id") == F.col("c_id"))
        .select(F.col("node_id").alias("dst"), "c_full")
    )
    got = refs.join(member_class, "dst")
    assert {r["c_full"] for r in got.collect()} == {"Point"}
    assert got.count() == refs.count()


# ---- XTypeRecovery full rules + XTypeHintCallLinker ------------------------

def test_alloc_type_recovered_through_object_declaration(cpg_hints, g):
    """Object h = new Impl(): h's identifiers recover Impl, not Object."""
    from tests.conftest import F11

    rec = _hint_sets(cpg_hints)
    nodes = g.doc_nodes(F11)
    hs = nodes[(nodes["kind"] == "IDENTIFIER") & (nodes["name"] == "h")]
    got = set().union(*(rec[i] for i in hs.index))
    assert "Impl" in got


def test_hint_linker_resolves_dynamic_call(cpg, g):
    """h.f() (receiver declared Object) links to exactly Impl.f via the
    recovered hint — CHA can't resolve it, and naive must not multi-link."""
    from tests.conftest import F11

    nodes = g.doc_nodes(F11)
    call = nodes[(nodes["kind"] == "CALL") & (nodes["name"] == "f")]
    assert len(call) == 1
    e = g.doc_edges(F11, "CALL")
    dsts = list(e[e["src"] == call.index[0]]["dst"])
    assert len(dsts) == 1
    callee = g.nodes.loc[dsts[0]]
    assert callee["full_name"] == "Impl.f"


def test_call_return_type_propagates(spark):
    """x = maker() recovers maker's METHOD_RETURN type for x."""
    src = """class Maker {
  Impl maker() { return new Impl(); }
  int use() { Object x = maker(); return 0; }
}
class Impl { int f() { return 2; } }"""
    docs = docs_df(spark, [{"doc_id": "t/ret.java",
                            "spans": split_code_spans(src, 1)}])
    nodes, _, _ = split_rows(parse_docs(docs))
    rec = _hint_sets(kernel_hints(nodes))
    xs = nodes.filter((F.col("kind") == "IDENTIFIER") & (F.col("name") == "x"))
    got = set().union(*(rec[r["node_id"]] for r in xs.collect()))
    assert "Impl" in got
