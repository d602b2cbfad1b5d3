"""Named-workspace management over the snapshot manifests (console layer).

Reference: the console's workspace handling —
``console/src/main/scala/io/joern/console/workspacehandling/
WorkspaceManager.scala`` (importCode / open / close / delete over a
``workspace/<project>/`` directory of serialized CPGs) and
``Console.scala``'s ``importCode`` starter. Like Joern's workspace, which
keeps only the graph (``cpg.bin``) and exports on demand, the Spark twin
keeps one directory per project holding the CPG's three frames (nodes /
edges / spans) as atomic ``commit_snapshot`` stages — so every project gets
the same torn-write safety and VERSION/TIMESTAMP AS OF time travel the
pipeline's own checkpoints have (lineage.py), and ``open`` needs no
pipeline recompute, in any Spark session.

The two exports are derived on ``open`` from the stored frames: ``triples``
by ``build_triples`` with the ``n_parts`` and ``fits`` the version entry
records, and ``link_misses`` from the CALL edges. So an opened project's
``triples`` is a lazy build over the CPG, not a read. A version saved when
the exports were stored too lists ``triples`` and ``link_misses`` among
its stages and opens from those stored frames.

    ws = Workspace(root)
    res = ws.import_code(spark, docs, name="proj1")   # run pipeline + save
    res2 = ws.open(spark, "proj1")                    # later / new session
    ws.projects()                                     # registry listing
    ws.close("proj1"); ws.delete("proj1")
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the CPG; the exports (triples, link_misses) are derived from it on open
_STORED_STAGES = ["nodes", "edges", "spans"]


class Workspace:
    """A directory of named projects, each a committed CpgResult."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._registry_path = os.path.join(root, "workspace.json")
        self._open: dict[str, object] = {}

    # ---- registry ---------------------------------------------------------
    def _read_registry(self) -> dict:
        if os.path.exists(self._registry_path):
            with open(self._registry_path) as f:
                return json.load(f)
        return {"projects": {}}

    def _write_registry(self, reg: dict) -> None:
        tmp = self._registry_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(reg, f, indent=2)
        os.replace(tmp, self._registry_path)

    def projects(self) -> list[dict]:
        """Project listing, reference ``workspace`` command analog."""
        reg = self._read_registry()
        return [
            {"name": name, **meta, "open": name in self._open}
            for name, meta in sorted(reg["projects"].items())
        ]

    def project_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    # ---- save / load ------------------------------------------------------
    def save(self, name: str, res) -> str:
        """Commit a CpgResult's CPG frames as a new project VERSION.

        Each of nodes / edges / spans goes through ``commit_snapshot``
        (fresh snap dir + manifest-pointer flip); the registry then records
        the three stage snapshot ids, with the run's ``n_parts`` and
        ``fits`` (``res.stats``) that ``open`` derives the triples with, as
        ONE atomic version entry. A save killed between stage commits never
        writes that entry, so ``open`` can never serve a mixed-version
        project (stage manifests alone are per-stage atomic, not mutually
        consistent — the version entry is the commit point).
        """
        from .lineage import commit_snapshot, read_manifest

        pdir = self.project_dir(name)
        os.makedirs(pdir, exist_ok=True)
        spark = res.nodes.sparkSession
        snap_ids: dict[str, int] = {}
        for stage in _STORED_STAGES:
            commit_snapshot(spark, getattr(res, stage), pdir, stage)
            snap_ids[stage] = int(read_manifest(pdir, stage)["snapshot"])
        reg = self._read_registry()
        prev = reg["projects"].get(name, {})
        versions = list(prev.get("versions", []))
        versions.append({"stages": snap_ids,
                         "n_parts": res.stats["n_parts"],
                         "fits": res.stats["fits"],
                         "saved_ms": int(time.time() * 1000)})
        reg["projects"][name] = {
            "dir": pdir,
            "saved_ms": versions[-1]["saved_ms"],
            "inputPath": prev.get("inputPath", ""),
            "versions": versions,
        }
        self._write_registry(reg)
        return pdir

    def open(self, spark: SparkSession, name: str,
             version: int | None = None, as_of_ms: int | None = None):
        """Load a saved project into a CpgResult: a snapshot read of the
        CPG plus the lazily derived exports (works in a fresh Spark session;
        no pipeline recompute).

        ``version`` (1-based) / ``as_of_ms`` open an older save. Every open
        resolves through ONE registry version entry — the stage snapshot ids
        recorded together at save time — so stages can never mix across
        saves even if a later save was killed mid-commit."""
        from .lineage import read_snapshot
        from .operators.callgraph import link_misses
        from .pipeline import CpgResult
        from .triples import build_triples

        reg = self._read_registry()
        if name not in reg["projects"]:
            raise KeyError(f"no project {name!r}; have {sorted(reg['projects'])}")
        meta = reg["projects"][name]
        pdir = meta["dir"]
        versions = meta.get("versions", [])
        if not versions:
            raise ValueError(f"project {name!r} has no committed version")
        if version is not None:
            if not 1 <= version <= len(versions):
                raise ValueError(f"project {name!r} has versions "
                                 f"1..{len(versions)}, not {version}")
            entry = versions[version - 1]
        elif as_of_ms is not None:
            at = [v for v in versions if v["saved_ms"] <= as_of_ms]
            if not at:
                raise ValueError(f"project {name!r} had no version at "
                                 f"{as_of_ms}")
            entry = at[-1]
        else:
            entry = versions[-1]
        frames: dict[str, DataFrame] = {}
        for stage, snap in entry["stages"].items():
            df = read_snapshot(spark, pdir, stage, snapshot_id=snap)
            if df is None:
                raise ValueError(f"project {name!r}: stage {stage} has no "
                                 f"committed snapshot")
            frames[stage] = df
        stats = {"workspace": name}
        if "triples" not in frames:
            # a version that stores only the CPG: derive the exports
            n_parts, fits = entry["n_parts"], entry["fits"]
            nodes, edges = frames["nodes"], frames["edges"]
            frames["triples"] = build_triples(nodes, edges, frames["spans"],
                                              n_parts=n_parts, fits=fits)
            frames["link_misses"] = link_misses(
                nodes, edges.filter(F.col("kind") == "CALL"))
            stats.update(n_parts=n_parts, fits=fits)
        res = CpgResult(**frames, stats=stats)
        self._open[name] = res
        return res

    def import_code(self, spark: SparkSession, docs_or_path, name: str,
                    **pipeline_kwargs):
        """Reference ``importCode``: build the CPG for a corpus and save it
        as a named project. ``docs_or_path`` is a docs DataFrame, a
        ``documents.parquet``-holding directory, or None for the fixture
        corpus."""
        from .corpus import fixture_docs_df
        from .pipeline import run_pipeline
        from .synth import synth_docs

        input_path = ""
        if docs_or_path is None:
            docs = fixture_docs_df(spark)
        elif isinstance(docs_or_path, str):
            input_path = docs_or_path
            docs = synth_docs(
                spark.read.parquet(os.path.join(docs_or_path,
                                                "documents.parquet")))
        else:
            docs = docs_or_path
        res = run_pipeline(spark, docs,
                           **{"n_parts": 4, **pipeline_kwargs})
        self.save(name, res)
        if input_path:
            reg = self._read_registry()
            reg["projects"][name]["inputPath"] = input_path
            self._write_registry(reg)
        self._open[name] = res
        return res

    def cpg(self, spark: SparkSession, name: str):
        """Open a project and wrap it in the query DSL's Cpg."""
        from .query import Cpg

        res = self._open.get(name) or self.open(spark, name)
        return Cpg(nodes=res.nodes, edges=res.edges)

    # ---- lifecycle --------------------------------------------------------
    def close(self, name: str) -> None:
        """Reference ``cpg.close()``: drop the in-session handle (frames are
        lazy over snapshot reads, so there is nothing pinned beyond the
        session; reopen with :meth:`open`)."""
        self._open.pop(name, None)

    def delete(self, name: str) -> None:
        """Remove the project's data and registry entry."""
        self.close(name)
        reg = self._read_registry()
        meta = reg["projects"].pop(name, None)
        self._write_registry(reg)
        if meta and os.path.isdir(meta["dir"]):
            shutil.rmtree(meta["dir"], ignore_errors=True)
