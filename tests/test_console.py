"""Console surface (SURVEY.md §3.2 — the joern REPL analog).

The reference's Console binds `cpg` + workspace helpers into a REPL
(console/src/main/scala/io/joern/console/Console.scala); here we check the
Spark twin builds the same bindings and evaluates traversals one-shot.
"""

import os
import subprocess
import sys
from collections import Counter


def test_console_objects_over_fixture_corpus(cpg):
    import tools.console as console
    from joern_spark.query import Cpg

    # bindings built from an existing result mirror what build() produces
    q = Cpg(nodes=cpg.nodes, edges=cpg.edges)
    assert {r["name"] for r in q.method("^flow$").l()} == {"flow"}
    assert {r["kind"] for r in q.method("^flow$").ast_children().l()} >= {
        "BLOCK", "METHOD_RETURN"}
    assert "cpg" in console.BANNER and "run_scan" in console.BANNER


def test_workspace_roundtrip(spark, cpg, tmp_path):
    """save → fresh Workspace handle (disk-only state) → load: identical
    query results. Loads are pure snapshot reads, so they are valid in a
    brand-new Spark session too (exercised via the spawned-console test
    below using --workspace)."""
    from joern_spark.lineage import read_manifest
    from joern_spark.query import Cpg
    from joern_spark.workspace import Workspace

    ws = Workspace(str(tmp_path / "ws"))
    ws.save("proj1", cpg)
    assert [p["name"] for p in ws.projects()] == ["proj1"]

    # a brand-new Workspace object: registry + snapshots come from disk only
    ws2 = Workspace(str(tmp_path / "ws"))
    res = ws2.open(spark, "proj1")
    assert res.nodes.count() == cpg.nodes.count()
    # the triples are stored in the pipeline snapshot's layout: one file
    # per part_id, and the same rows as the in-memory result
    snap = read_manifest(ws2.project_dir("proj1"), "triples")["data_dir"]
    part_dirs = [os.path.join(snap, p) for p in os.listdir(snap)
                 if p.startswith("part_id=")]
    assert len(part_dirs) > 1
    assert all(len([f for f in os.listdir(p) if f.endswith(".parquet")]) == 1
               for p in part_dirs)
    cols = ["subj", "pred", "obj", "doc_id", "part_id"]
    assert Counter(tuple(r) for r in res.triples.select(*cols).collect()) == \
        Counter(tuple(r) for r in cpg.triples.select(*cols).collect())
    q0 = Cpg(nodes=cpg.nodes, edges=cpg.edges)
    q1 = Cpg(nodes=res.nodes, edges=res.edges)
    want = sorted(r["name"] for r in q0.method().is_external(False).l())
    got = sorted(r["name"] for r in q1.method().is_external(False).l())
    assert got == want

    # close drops the handle; delete removes data + registry entry
    ws2.close("proj1")
    assert [p["open"] for p in ws2.projects()] == [False]
    ws2.delete("proj1")
    assert ws2.projects() == []
    import pytest as _pytest
    with _pytest.raises(KeyError):
        ws2.open(spark, "proj1")


def test_workspace_versions(spark, cpg, tmp_path, monkeypatch):
    """Re-saving a project commits a NEW atomic version (the five stage
    snapshot ids recorded as one registry entry); older versions stay
    openable by number, and an interrupted save — stage manifests advanced
    but no version entry written — is invisible to open()."""
    import json

    from joern_spark import lineage
    from joern_spark.lineage import commit_snapshot
    from joern_spark.workspace import Workspace

    ws = Workspace(str(tmp_path / "wsv"))
    # version 1 in the older layout: every stage written unpartitioned
    with monkeypatch.context() as m:
        m.setattr(lineage, "commit_snapshot",
                  lambda *a, partition_by=None, **kw: commit_snapshot(*a, **kw))
        ws.save("p", cpg)
    ws.save("p", cpg)  # second version, triples partitioned by part_id
    res_v1 = ws.open(spark, "p", version=1)
    res_v2 = ws.open(spark, "p", version=2)
    assert res_v1.nodes.count() == res_v2.nodes.count() == cpg.nodes.count()
    v1_snap = lineage.read_snapshot(spark, ws.project_dir("p"), "triples",
                                    snapshot_id=1)
    assert not v1_snap.inputFiles()[0].split("/")[-2].startswith("part_id=")
    cols = ["subj", "pred", "obj", "doc_id", "part_id"]
    assert Counter(tuple(r) for r in res_v1.triples.select(*cols).collect()) \
        == Counter(tuple(r) for r in res_v2.triples.select(*cols).collect())

    # simulate a save killed after ONE stage commit: nodes advances to a
    # third snapshot but no version entry appears — open() must keep
    # serving the consistent second version, not mix snap-3 nodes with
    # snap-2 edges
    commit_snapshot(spark, cpg.nodes.limit(1), ws.project_dir("p"), "nodes")
    reg = json.load(open(ws._registry_path))
    assert len(reg["projects"]["p"]["versions"]) == 2
    res = ws.open(spark, "p")
    assert res.nodes.count() == cpg.nodes.count()  # not the torn 1-row frame


def test_console_one_shot_eval():
    # -c mode: build the fixture corpus, run one traversal, exit 0
    out = subprocess.run(
        [sys.executable, "tools/console.py", "--cpus", "4", "-c",
         "sorted({r['name'] for r in cpg.method('^flow$').l()})"],
        capture_output=True, text=True, timeout=600, check=True)
    assert out.stdout.strip().splitlines()[-1] == "['flow']"


def test_console_workspace_across_sessions(tmp_path):
    """The workspace round-trips through a GENUINELY new Spark session:
    run 1 importCodes the fixture corpus into the workspace and saves;
    run 2 (a fresh JVM + SparkSession) opens the saved project — no
    pipeline run — and answers the same query identically."""
    ws = str(tmp_path / "ws")
    expr = "sorted({r['name'] for r in cpg.method('^flow$').l()})"
    first = subprocess.run(
        [sys.executable, "tools/console.py", "--cpus", "4",
         "--workspace", ws, "--project", "fixproj", "-c", expr],
        capture_output=True, text=True, timeout=600, check=True)
    assert first.stdout.strip().splitlines()[-1] == "['flow']"
    second = subprocess.run(
        [sys.executable, "tools/console.py", "--cpus", "4",
         "--workspace", ws, "--project", "fixproj", "-c",
         # also prove this run OPENED (not rebuilt): stats carries the marker
         "(res.stats.get('workspace'), " + expr + ")"],
        capture_output=True, text=True, timeout=600, check=True)
    assert second.stdout.strip().splitlines()[-1] == "('fixproj', ['flow'])"
