"""Shared fixtures: one SparkSession + one pipeline run over the fixture corpus.

Mirrors the reference's Code2CpgFixture strategy
(x2cpg/src/test/.../testfixtures/Code2CpgFixture.scala:17-39): build the CPG
once, assert against it with graph lookups. ``G`` is the pandas-side assertion
helper (succ_of / reaching / call-edge views by code string).
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from joern_spark.corpus import fixture_docs, fixture_docs_df
from joern_spark.operators.ast_pass import parse_docs, split_rows
from joern_spark.operators.method_kernels import fused_method_kernels, type_hints
from joern_spark.pipeline import run_pipeline
from joern_spark.session import get_spark


def _driver_heap_gb() -> int:
    """min(20g, 0.4 x MemTotal): the session accumulates pipeline caches
    and broadcasts across every test module, so it wants a large heap — but
    heap plus JVM overhead near physical memory gets the JVM killed by the
    host's OOM killer mid-suite. At 0.4 the suite's peak JVM RSS stays under
    half of MemTotal."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return max(1, min(20, int(0.4 * kb / 2**20)))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="joern_spark_tests",
                  cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
                  shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": f"{_driver_heap_gb()}g",
                              "spark.ui.showConsoleProgress": "false"})
    yield s


@pytest.fixture
def no_auto_broadcast(spark):
    """Catalyst auto-broadcasts any dim under the session threshold from size
    stats alone — disable that so tests observe OUR dispatch decision, which
    is what survives at 100x scale (where stats exceed the threshold anyway)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.fixture(scope="session")
def cpg(spark):
    return run_pipeline(spark, fixture_docs_df(spark), n_parts=4)


def kernel_hints(nodes0):
    """The fused kernel's (node_id, recovered_type) rows for parse-output
    nodes — what the pipeline hands the field-access and call linkers."""
    return type_hints(fused_method_kernels(
        nodes0, fits=True, with_dominators=False, with_dataflow=False))


@pytest.fixture(scope="session")
def cpg_hints(spark):
    """``kernel_hints`` of the fixture corpus (node ids match ``cpg``'s),
    checkpointed so plans that read them hold no kernel subtree."""
    rows = parse_docs(fixture_docs_df(spark)).persist()
    hints = kernel_hints(split_rows(rows)[0]).localCheckpoint(eager=True)
    rows.unpersist()
    return hints


class G:
    """Code-string-level views of the CPG for golden assertions."""

    def __init__(self, cpg):
        self.nodes = cpg.nodes.toPandas().set_index("node_id")
        self.edges = cpg.edges.toPandas()
        self.spans = cpg.spans.toPandas()
        self.triples = cpg.triples.toPandas()

    def code(self, node_id) -> str:
        return self.nodes.loc[node_id, "code"]

    def doc_nodes(self, doc_id: str) -> pd.DataFrame:
        return self.nodes[self.nodes["doc_id"] == doc_id]

    def doc_edges(self, doc_id: str, kind: str) -> pd.DataFrame:
        return self.edges[(self.edges["doc_id"] == doc_id) & (self.edges["kind"] == kind)]

    def edge_codes(self, doc_id: str, kind: str) -> set[tuple[str, str]]:
        e = self.doc_edges(doc_id, kind)
        return {(self.code(s), self.code(d)) for s, d in zip(e["src"], e["dst"])}

    def succ_of(self, doc_id: str, code: str) -> set[str]:
        """CfgTestFixture.succOf analog (CfgTestFixture.scala:45-70)."""
        return {d for s, d in self.edge_codes(doc_id, "CFG") if s == code}

    def rd(self, doc_id: str) -> set[tuple[str, str, str]]:
        e = self.doc_edges(doc_id, "REACHING_DEF")
        return {
            (self.code(s), self.code(d), v)
            for s, d, v in zip(e["src"], e["dst"], e["variable"])
        }

    def rd_pairs(self, doc_id: str) -> set[tuple[str, str]]:
        return {(s, d) for s, d, _ in self.rd(doc_id)}

    def calls(self, doc_id: str | None = None):
        """(call_code, callee_name, callee_full_name, callee_external) rows."""
        e = self.edges[self.edges["kind"] == "CALL"]
        if doc_id is not None:
            e = e[e["doc_id"] == doc_id]
        out = []
        for s, d in zip(e["src"], e["dst"]):
            dn = self.nodes.loc[d]
            out.append((self.code(s), dn["name"], dn["full_name"], bool(dn["is_external"])))
        return out


@pytest.fixture(scope="session")
def g(cpg) -> G:
    return G(cpg)


@pytest.fixture(scope="session")
def docs_by_id():
    return {d["doc_id"]: d for d in fixture_docs()}


F1 = "fixtures/c/flow"
F2 = "fixtures/c/free_list"
F3 = "fixtures/c/test"
F4 = "fixtures/c/zoo"
F5 = "fixtures/java/MethodTest.java"
F6 = "fixtures/java/Dispatch.java"
F8 = "fixtures/c/flow_media"
F9 = "fixtures/c/try"
F10 = "fixtures/c/fnptr"
F11 = "fixtures/java/Hint.java"
F12 = "fixtures/c/macro"
F13 = "fixtures/js/app.js"
F15 = "fixtures/py/app.py"
F18 = "fixtures/jimple/Dispatch.jimple"
F19 = "fixtures/java/Crypto.java"
F20 = "fixtures/c/metrics"
F21 = "fixtures/js/view.jsx"
F22 = "fixtures/c/heap"
F23 = "fixtures/c/lencheck"
F24 = "fixtures/java/Net.java"
F25 = "fixtures/android/app/build.gradle"
F26 = "fixtures/android/lib/build.gradle"
F27 = "fixtures/java/Servlet.java"
F28 = "fixtures/java/Trust.java"
F30 = "fixtures/c/envcopy"
F31 = "fixtures/js/phpish.js"
F32 = "fixtures/java/RootCheck.java"
F36 = "fixtures/java/Rng.java"
F38 = "fixtures/java/FwdActivity.java"
F39 = "fixtures/java/EvilReceiver.java"
F40 = "fixtures/java/Dyn.java"
F41 = "fixtures/java/WebHost.java"
F42 = "fixtures/java/Unzip.java"
F43 = "fixtures/java/Trustmgr.java"
F44 = "fixtures/java/Redirector.java"
F45 = "fixtures/php/inject.php"
F46 = "fixtures/c/uaf_field"
F47 = "fixtures/kotlin/Net.kt"
F48 = "fixtures/swift/Net.swift"
F49 = "fixtures/go/pool.go"
F50 = "fixtures/ruby/feed.rb"
F51 = "fixtures/csharp/Client.cs"
F52 = "fixtures/asm/bsum.asm"
