"""In-kernel type recovery ≡ the DataFrame reference type_recovery_events.

The fused kernel's per-method Python recovery must produce EXACTLY the event
set of the independent declarative join implementation kept in
tests/reference_impls.py. Checked on the fixture corpus (C + Java, covers
declared/this/alloc/call-return/ident-transfer/member-load rules) and on a
synthetic-corpus sample.
"""

from __future__ import annotations

from joern_spark.corpus import fixture_docs_df
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
