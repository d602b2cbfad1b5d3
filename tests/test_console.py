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
    query results. The project stores only the CPG (nodes, edges, spans);
    open derives the triples and link_misses from it, equal to the
    pipeline's. Loads need no pipeline run, so they are valid in a
    brand-new Spark session too (exercised via the spawned-console test
    below using --workspace)."""
    from joern_spark.query import Cpg
    from joern_spark.workspace import Workspace

    ws = Workspace(str(tmp_path / "ws"))
    ws.save("proj1", cpg)
    assert [p["name"] for p in ws.projects()] == ["proj1"]
    # no export is stored, and the version entry records what the triples
    # are derived with
    assert set(os.listdir(ws.project_dir("proj1"))) == {
        "nodes_data", "edges_data", "spans_data", "_manifests"}
    (entry,) = ws._read_registry()["projects"]["proj1"]["versions"]
    assert set(entry["stages"]) == {"nodes", "edges", "spans"}
    assert (entry["n_parts"], entry["fits"]) == (4, True) == \
        (cpg.stats["n_parts"], cpg.stats["fits"])

    # a brand-new Workspace object: registry + snapshots come from disk only
    ws2 = Workspace(str(tmp_path / "ws"))
    res = ws2.open(spark, "proj1")
    assert res.nodes.count() == cpg.nodes.count()
    # the reopened result carries the decisions, so it can be saved again
    assert (res.stats["n_parts"], res.stats["fits"]) == (4, True)
    cols = ["subj", "pred", "obj", "doc_id", "part_id"]
    assert Counter(tuple(r) for r in res.triples.select(*cols).collect()) == \
        Counter(tuple(r) for r in cpg.triples.select(*cols).collect())
    # the fixture corpus has no link misses today, so this compares two
    # empty frames; it still checks the derived frame's columns and plan
    assert res.link_misses.columns == cpg.link_misses.columns
    assert Counter(tuple(r) for r in res.link_misses.collect()) == \
        Counter(tuple(r) for r in cpg.link_misses.collect())
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


def test_workspace_versions(spark, cpg, tmp_path):
    """Re-saving a project commits a NEW atomic version (the stage snapshot
    ids recorded as one registry entry); older versions stay openable by
    number, including one saved when the exports were stored too, and an
    interrupted save — stage manifests advanced but no version entry
    written — is invisible to open()."""
    import json
    import time

    from joern_spark.lineage import commit_snapshot
    from joern_spark.workspace import Workspace

    ws = Workspace(str(tmp_path / "wsv"))
    pdir = ws.project_dir("p")
    # version 1 as it was saved when the exports were stored: all five
    # result frames committed (the triples clustered by part_id) and one
    # version entry with no n_parts / fits
    stages = {}
    for stage in ["nodes", "edges", "spans", "triples", "link_misses"]:
        commit_snapshot(spark, getattr(cpg, stage), pdir, stage,
                        partition_by="part_id" if stage == "triples"
                        else None)
        stages[stage] = 1
    saved_ms = int(time.time() * 1000)
    reg = ws._read_registry()
    reg["projects"]["p"] = {"dir": pdir, "saved_ms": saved_ms,
                            "inputPath": "",
                            "versions": [{"stages": stages,
                                          "saved_ms": saved_ms}]}
    ws._write_registry(reg)
    ws.save("p", cpg)  # second version: the CPG only
    res_v1 = ws.open(spark, "p", version=1)
    res_v2 = ws.open(spark, "p", version=2)
    assert res_v1.nodes.count() == res_v2.nodes.count() == cpg.nodes.count()
    # version 1 serves its stored exports, version 2 derives them
    assert all("/triples_data/" in f for f in res_v1.triples.inputFiles())
    assert not any("/triples_data/" in f for f in res_v2.triples.inputFiles())
    assert "n_parts" not in res_v1.stats
    assert res_v2.stats["n_parts"] == cpg.stats["n_parts"]
    cols = ["subj", "pred", "obj", "doc_id", "part_id"]
    assert Counter(tuple(r) for r in res_v1.triples.select(*cols).collect()) \
        == Counter(tuple(r) for r in res_v2.triples.select(*cols).collect())
    # empty on the fixture corpus on both sides (see the roundtrip test)
    assert Counter(tuple(r) for r in res_v1.link_misses.collect()) \
        == Counter(tuple(r) for r in res_v2.link_misses.collect())

    # simulate a save killed after ONE stage commit: nodes advances to a
    # third snapshot but no version entry appears — open() must keep
    # serving the consistent second version, not mix snap-3 nodes with
    # snap-2 edges
    commit_snapshot(spark, cpg.nodes.limit(1), pdir, "nodes")
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
