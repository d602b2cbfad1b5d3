"""Determinism under re-execution and repartitioning (SURVEY.md §7.4 risk 4:
ids are content hashes — any partition recomputes to identical bytes, the
foundation of checkpoint/resume)."""

from joern_spark.corpus import fixture_docs_df
from joern_spark.pipeline import run_pipeline


def _triples(res):
    return sorted(tuple(r) for r in res.triples.select("subj", "pred", "obj").collect())


def test_identical_across_partition_counts(spark):
    docs = fixture_docs_df(spark)
    a = _triples(run_pipeline(spark, docs, n_parts=2))
    b = _triples(run_pipeline(spark, docs, n_parts=7))
    assert a == b


def test_identical_across_runs(spark, cpg, monkeypatch):
    """A second run gives the session run's triples. It builds the
    vocabulary from one checkpointed leaf (plus the TYPE rows the leaf
    reads)."""
    from joern_spark.schema import NODE_COLUMNS

    cls = type(spark.range(1))
    checkpoint = cls.localCheckpoint
    node_checkpoints = []

    def spy_checkpoint(self, *args, **kwargs):
        if self.columns == list(NODE_COLUMNS):
            node_checkpoints.append(self)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy_checkpoint)
    b = _triples(run_pipeline(spark, fixture_docs_df(spark), n_parts=4))
    assert _triples(cpg) == b
    assert len(node_checkpoints) == 2


def test_doc_subset_is_sub_multiset(spark, cpg):
    """Per-document independence: a subset corpus produces exactly the
    subset's triples (no cross-doc id interference except global stubs)."""
    from joern_spark.corpus import docs_df, fixture_docs

    all_docs = fixture_docs()
    part = run_pipeline(spark, docs_df(spark, all_docs[:2]), n_parts=2)
    doc_ids = {d["doc_id"] for d in all_docs[:2]}
    full_sub = sorted(
        tuple(r) for r in cpg.triples.filter(cpg.triples["doc_id"].isin(list(doc_ids)))
        .select("subj", "pred", "obj").collect()
    )
    part_sub = sorted(
        tuple(r) for r in part.triples.filter(part.triples["doc_id"].isin(list(doc_ids)))
        .select("subj", "pred", "obj").collect()
    )
    assert part_sub == full_sub


def test_failed_parse_is_counted(spark, cpg):
    """A document whose parse raises (here a RecursionError from 5,000
    nested parentheses) is counted in ``stats["docs_failed"]`` and costs the
    run nothing else: every other document's triples are the session
    run's."""
    from collections import Counter

    from joern_spark.corpus import docs_df, fixture_docs, split_code_spans

    src = "int f() { return " + "(" * 5000 + "1" + ")" * 5000 + "; }\n"
    docs = fixture_docs() + [
        {"doc_id": "hostile/deep.c", "spans": split_code_spans(src, 1)}]
    res = run_pipeline(spark, docs_df(spark, docs), n_parts=4)

    assert res.stats["docs_failed"] == 1
    assert cpg.stats["docs_failed"] == 0
    assert res.stats["kind_counts"] == cpg.stats["kind_counts"]

    def triples(r):
        return Counter(tuple(t) for t in
                       r.triples.select("subj", "pred", "obj").collect())

    assert triples(res) == triples(cpg)
