"""In-kernel type recovery ≡ the DataFrame reference type_recovery_events.

The fused kernel's per-method Python recovery must produce EXACTLY the event
set of the independent declarative join implementation kept in
tests/reference_impls.py. Checked on the fixture corpus (C + Java, covers
declared/this/alloc/call-return/ident-transfer/member-load rules) and on a
synthetic-corpus sample.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from joern_spark.corpus import docs_df, fixture_docs_df, split_code_spans
from joern_spark.operators.ast_pass import parse_docs, split_rows
from joern_spark.operators.method_kernels import fused_method_kernels, type_hints
from tests.reference_impls import type_recovery_events


def _events_from_kernel(nodes0):
    hints = type_hints(fused_method_kernels(
        nodes0, fits=True, with_dominators=False, with_dataflow=False))
    return {(r["node_id"], r["recovered_type"]) for r in hints.collect()}


def _events_from_df(nodes0):
    return {
        (r["node_id"], r["recovered_type"])
        for r in type_recovery_events(nodes0).collect()
    }


def test_fixture_corpus_parity(spark):
    rows = parse_docs(fixture_docs_df(spark).repartition(2, "doc_id")).persist()
    rows.count()
    nodes0, _, _ = split_rows(rows)
    kernel_events = _events_from_kernel(nodes0)
    df_events = _events_from_df(nodes0)
    # DF events for identifiers outside any method (method_id null) are
    # dropped by _distribute's (method_id, name) join — the kernel never
    # sees those rows, so both sides exclude them identically.
    assert kernel_events == df_events
    assert len(kernel_events) > 0
    rows.unpersist()


def test_synth_sample_parity(spark):
    from joern_spark.synth import synth_docs

    documents = spark.createDataFrame(
        [(f"doc{i}",) for i in range(40)], schema="doc_id string"
    )
    docs = synth_docs(documents)
    rows = parse_docs(docs.repartition(4, "doc_id")).persist()
    rows.count()
    nodes0, _, _ = split_rows(rows)
    assert _events_from_kernel(nodes0) == _events_from_df(nodes0)
    rows.unpersist()


def test_member_load_parity(spark):
    """``x = a->it``: x is undeclared and the field access carries no type,
    so x's one type comes from the member-load rule alone — MEMBER it's type
    on a's recovered type (``struct box*``, dereferenced)."""
    src = ("struct item { int n; };\n"
           "struct box { struct item *it; };\n"
           "void f(struct box *a) { x = a->it; }")
    docs = docs_df(spark, [{"doc_id": "tr/member_load.c",
                            "spans": split_code_spans(src, 1)}])
    rows = parse_docs(docs).persist()
    nodes0, _, _ = split_rows(rows)
    x_ids = {r["node_id"] for r in nodes0.filter(
        (F.col("kind") == "IDENTIFIER") & (F.col("name") == "x")).collect()}
    kernel_events = _events_from_kernel(nodes0)
    assert kernel_events == _events_from_df(nodes0)
    assert {t for nid, t in kernel_events if nid in x_ids} == {"struct item*"}
    rows.unpersist()
