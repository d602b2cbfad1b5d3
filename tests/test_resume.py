"""Checkpoint/resume + lineage tests (north rule: resumable from checkpoint
with per-partition lineage + metrics).
"""

import json
import os
import shutil
from collections import Counter

import duckdb
import pytest
from pyspark.sql import functions as F

from joern_spark.corpus import fixture_docs_df
from joern_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def out_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cpg_out")
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


def _n_parse(spark, n_parts):
    """The pipeline's parse fan-out: tasks of one ast batch."""
    return max(min(n_parts, 32), 2 * spark.sparkContext.defaultParallelism)


def _parquet_files(d):
    return [os.path.join(p, f) for p, _dirs, files in os.walk(d)
            for f in files if f.endswith(".parquet")]


def test_materialize_resume_and_lineage(spark, out_dir):
    from joern_spark.lineage import read_manifest

    docs = fixture_docs_df(spark)
    res1 = run_pipeline(spark, docs, out_dir=out_dir, n_parts=4)
    n1 = res1.triples.count()
    assert res1.stats.get("ast_resumed_parts", 0) == 0

    # one file per (parse task, rowtype) in a batch: each task writes only
    # its own rowtype files, never one file per part_id directory
    batch = os.path.join(out_dir, "ast_rows", "batch-00001")
    rowtypes = {os.path.basename(os.path.dirname(f))
                for f in _parquet_files(batch)}
    assert all(r.startswith("rowtype=") for r in rowtypes)
    assert 0 < len(_parquet_files(batch)) <= _n_parse(spark, 4) * len(rowtypes)
    # out_dir holds only what a later run reads: the stage spills live in
    # the run's scratch, and only the ast stage and the triples snapshot
    # keep a manifest
    assert set(os.listdir(out_dir)) == \
        {"ast_rows", "triples_data", "lineage", "_manifests"}
    assert sorted(os.listdir(os.path.join(out_dir, "_manifests"))) == \
        ["ast.json", "triples.json"]
    # the triples snapshot is clustered by its partition key: one file per
    # part_id directory, not one per (input task, part_id)
    snap = read_manifest(out_dir, "triples")["data_dir"]
    part_dirs = [os.path.join(snap, p) for p in os.listdir(snap)
                 if p.startswith("part_id=")]
    assert part_dirs
    assert all(len(_parquet_files(p)) == 1 for p in part_dirs)

    # second run over the same out_dir must resume every recorded partition
    # (empty hash partitions never enter the manifest)
    with open(f"{out_dir}/_manifests/ast.json") as f:
        recorded = len(json.load(f)["part_ids"])
    res2 = run_pipeline(spark, docs, out_dir=out_dir, n_parts=4)
    n2 = res2.triples.count()
    assert res2.stats.get("ast_resumed_parts") == recorded > 0
    assert n1 == n2

    # per-partition lineage rows with checksums exist for every stage
    rows = duckdb.sql(
        f"select stage, count(*) n, count(distinct checksum) c "
        f"from read_parquet('{out_dir}/lineage/*.parquet') group by stage"
    ).fetchall()
    stages = {r[0] for r in rows}
    assert {"ast", "base_nodes", "triples"} <= stages
    assert "edges" in stages or "edges_pre_ddg" in stages
    assert all(r[1] > 0 for r in rows)


def test_second_run_keeps_first_result_readable(spark, tmp_path):
    """A resumed run over the same out_dir writes its spills to its own
    scratch, so the first run's lazy frames, which read the first run's
    spills, still count, and equal the second run's."""
    d = str(tmp_path / "twice")
    docs = fixture_docs_df(spark)
    r1 = run_pipeline(spark, docs, out_dir=d, n_parts=4)
    r2 = run_pipeline(spark, docs, out_dir=d, n_parts=4)
    assert r2.stats["ast_resumed_parts"] > 0
    assert r1.edges.count() == r2.edges.count() > 0
    assert r1.link_misses.count() == r2.link_misses.count()


def test_clustered_snapshot_bytes_independent_of_row_order(spark, cpg,
                                                           tmp_path):
    """The same rows committed from two input orders give byte-identical
    files per part_id: each file is sorted by part_id and then by every
    other column, so its bytes depend only on its rows."""
    from joern_spark.lineage import commit_snapshot, read_manifest

    def files_by_part(d, df):
        commit_snapshot(spark, df, d, "triples", partition_by="part_id")
        snap = read_manifest(d, "triples")["data_dir"]
        out = {}
        for p in sorted(os.listdir(snap)):
            if p.startswith("part_id="):
                [f] = _parquet_files(os.path.join(snap, p))
                with open(f, "rb") as fh:
                    out[p] = (os.path.getsize(f), fh.read())
        return out

    # checkpointed, so the optimizer cannot drop either order in front of
    # the writer's own shuffle
    df = cpg.triples
    a = files_by_part(str(tmp_path / "a"), df.repartition(7).localCheckpoint())
    b = files_by_part(str(tmp_path / "b"),
                      df.orderBy(F.desc("subj")).localCheckpoint())
    assert len(a) > 1
    assert {p: size for p, (size, _) in a.items()} == \
        {p: size for p, (size, _) in b.items()}
    assert a == b


def test_resumed_output_identical(spark, cpg, out_dir):
    """Triples from the resumed run match the session's in-memory run
    exactly (deterministic ids: any partition recomputes to the same bytes)."""
    docs = fixture_docs_df(spark)
    mem_triples = {tuple(r) for r in cpg.triples.select("subj", "pred", "obj").collect()}
    mat = run_pipeline(spark, docs, out_dir=out_dir, n_parts=4)
    mat_triples = {tuple(r) for r in mat.triples.select("subj", "pred", "obj").collect()}
    assert mem_triples == mat_triples


def test_triples_lineage_matches_in_memory_run(spark, cpg, out_dir):
    """Every durable run's ``triples`` lineage rows equal the lineage of the
    session's in-memory triples, per part_id, in count and checksum: the
    snapshot's clustering shuffle moves no row across parts."""
    from joern_spark.lineage import lineage_rows

    run_pipeline(spark, fixture_docs_df(spark), out_dir=out_dir, n_parts=4)
    got = {tuple(r) for r in spark.read.parquet(f"{out_dir}/lineage")
           .filter(F.col("stage") == "triples")
           .select("part_id", "rows_out", "checksum").collect()}
    want = {tuple(r) for r in lineage_rows(cpg.triples, "triples", 0)
            .select("part_id", "rows_out", "checksum").collect()}
    assert len(want) > 1
    assert got == want


def test_resume_parses_only_missing_parts(spark, cpg, tmp_path):
    """A manifest that lacks two part_ids, as a run over fewer docs leaves
    it: the next run parses exactly those parts into a second batch, reads
    both batches, and yields the in-memory run's triples, row for row."""
    from joern_spark.lineage import read_manifest
    from joern_spark.triples import part_id_col

    d = str(tmp_path / "partial")
    docs = fixture_docs_df(spark)
    parts = sorted(r[0] for r in docs.select(part_id_col(n_parts=4))
                   .distinct().collect())
    missing = parts[:2]
    run_pipeline(spark, docs.filter(~part_id_col(n_parts=4).isin(missing)),
                 out_dir=d, n_parts=4)
    assert read_manifest(d, "ast")["part_ids"] == parts[2:]

    res = run_pipeline(spark, docs, out_dir=d, n_parts=4)
    assert res.stats["ast_resumed_parts"] == len(parts) - 2
    m = read_manifest(d, "ast")
    assert m["part_ids"] == parts
    assert [os.path.basename(p) for p in m["data_dirs"]] == \
        ["batch-00001", "batch-00002"]
    batch2 = spark.read.parquet(os.path.join(d, "ast_rows", "batch-00002"))
    assert sorted(r[0] for r in batch2.select("part_id").distinct().collect()) \
        == missing
    assert len(_parquet_files(m["data_dirs"][1])) <= \
        _n_parse(spark, 4) * batch2.select("rowtype").distinct().count()

    cols = ["subj", "pred", "obj", "doc_id", "part_id"]
    assert Counter(tuple(r) for r in res.triples.select(*cols).collect()) == \
        Counter(tuple(r) for r in cpg.triples.select(*cols).collect())
    assert res.triples.filter(F.col("part_id").isin(missing)).count() > 0


def test_snapshot_commit_survives_torn_write(spark, out_dir):
    """Iceberg-style commit protocol: a writer killed mid-snapshot leaves an
    unreferenced snap dir that readers never observe (the manifest pointer
    only flips after a complete write)."""
    from joern_spark.lineage import read_manifest, read_snapshot

    docs = fixture_docs_df(spark)
    run_pipeline(spark, docs, out_dir=out_dir, n_parts=4)
    m = read_manifest(out_dir, "triples")
    assert m["complete"] and os.path.isdir(m["data_dir"])
    n_committed = read_snapshot(spark, out_dir, "triples").count()
    committed_dir = m["data_dir"]

    # simulate a kill mid-write: a torn, never-flipped snapshot directory
    torn = os.path.join(out_dir, "triples_data", "snap-99999")
    os.makedirs(torn, exist_ok=True)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00torn write, not parquet")
    # ...and a torn ast batch dir never referenced by the ast manifest
    torn_ast = os.path.join(out_dir, "ast_rows", "batch-77777")
    os.makedirs(torn_ast, exist_ok=True)
    with open(os.path.join(torn_ast, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00also torn")

    # readers resolve the pointer, not the directory listing: intact
    assert read_snapshot(spark, out_dir, "triples").count() == n_committed

    # a resumed run ignores both torn dirs (ast via manifest data_dirs,
    # triples by committing a FRESH snapshot) and reproduces the same rows
    res = run_pipeline(spark, docs, out_dir=out_dir, n_parts=4)
    assert res.triples.count() == n_committed
    m2 = read_manifest(out_dir, "triples")
    assert m2["snapshot"] == m["snapshot"] + 1
    assert m2["data_dir"] != committed_dir
    ast_m = read_manifest(out_dir, "ast")
    assert torn_ast not in ast_m["data_dirs"]


def test_snapshot_time_travel(spark, tmp_path):
    """VERSION/TIMESTAMP AS OF over the snapshot log: every commit appends
    an (id, ts_ms) entry; any retained snapshot is readable by id or by
    timestamp, and an expired one fails loudly (Iceberg time-travel
    semantics over the manifest-pointer proxy)."""
    import pytest as _pytest

    from joern_spark.lineage import (commit_snapshot, read_snapshot,
                                     snapshot_history)

    d = str(tmp_path / "tt")
    for version in (1, 2, 3):
        df = spark.range(version * 10).select(
            F.col("id"), F.lit(version).alias("v"))
        commit_snapshot(spark, df, d, "tbl", keep_snapshots=2)

    log = snapshot_history(d, "tbl")
    assert [s["id"] for s in log] == [1, 2, 3]
    assert log[0]["ts_ms"] <= log[1]["ts_ms"] <= log[2]["ts_ms"]

    # default read = current snapshot
    cur = read_snapshot(spark, d, "tbl")
    assert cur.count() == 30 and cur.agg(F.max("v")).first()[0] == 3
    # VERSION AS OF a retained older snapshot
    v2 = read_snapshot(spark, d, "tbl", snapshot_id=2)
    assert v2.count() == 20 and v2.agg(F.max("v")).first()[0] == 2
    # TIMESTAMP AS OF: the snapshot current at snap-2's commit time
    t2 = read_snapshot(spark, d, "tbl", as_of_ms=log[1]["ts_ms"])
    assert t2.agg(F.max("v")).first()[0] == 2
    # before the first commit there was nothing
    assert read_snapshot(spark, d, "tbl",
                         as_of_ms=log[0]["ts_ms"] - 1) is None
    # snap-1's data was retired by keep_snapshots=2: loud failure, and the
    # log still records it (metadata outlives data, as in Iceberg)
    with _pytest.raises(ValueError, match="expired"):
        read_snapshot(spark, d, "tbl", snapshot_id=1)
    with _pytest.raises(ValueError, match="no snapshot 9"):
        read_snapshot(spark, d, "tbl", snapshot_id=9)
