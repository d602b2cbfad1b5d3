"""End-to-end CPG triple factory (SURVEY.md §7.1 stage order).

docs → [ast] parse (mapInPandas) → [base] type/stub/paramOut passes (joins)
     → [kernel] per-doc fused CFG/dominators/reaching-def/type-recovery
     → [callgraph] static/CHA/naive linkers → [triples] materialization.

Everything document-local runs inside ONE ``mapInArrow`` over the parse
partitions (CFG, dominators/CDG, reaching-def, type recovery); its
cross-document facts arrive as columns filled by budgeted joins
(``method_kernels._kernel_input``): broadcast and shuffle-free under the
budget, shuffle joins re-clustered by doc over it — degrade, don't die, on
the same path. Every dimension join's broadcast-or-shuffle choice is a
``fits`` argument: two decisions per run, made from exact counts (the
per-kind node counts for the kernel and the stub passes, the vocabulary
leaf's rows for everything after it). Stage boundaries spill to parquet (``spill.py``): columnar,
atomic-rename, column-pruned downstream — the barriers that were measured
FLAT at 8→32 cores as deserialized localCheckpoint blocks. The six small
vocabulary frames (TYPE rows, stubs, paramOuts, namespaces, dependencies)
are one union leaf, checkpointed once (after the TYPE rows it reads)
concurrently with the kernel job; the wide nodes union is never copied — it
stays a lazy union of the parse nodes and that leaf.

The graph is the same in both run modes. Every run writes its stage spills
to its own scratch ``SpillDir()``, a temp dir removed at process exit (or
by ``spill.remove_scratch(result.scratch)``); the result's lazy frames read
from it (a durable run's ``edges`` and ``link_misses``). On a cluster the
scratch must sit on storage the executors share (``TMPDIR``), because
``SpillDir`` commits with ``os.rename``. With ``out_dir`` three things are
added, and ``out_dir`` holds only what a later run reads: the ast stage's
batches are written there and resume (each run parses only the docs whose
``part_id`` no committed ``ast_rows/batch-*`` covers, and the ``ast``
manifest records the part_ids and batch dirs), per-partition lineage rows
are appended for ast, edges, nodes and triples, and the triples are
committed as a snapshot partitioned by ``part_id`` with one sorted parquet
file per part_id (``lineage.clustered_writer``). Only the ast stage
resumes; every later stage is recomputed from the ast batches.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lineage import (append_lineage, commit_snapshot, read_manifest,
                      write_manifest)
from .operators.ast_pass import parse_docs, split_rows
from .operators.base_passes import (
    eval_type_pass,
    imports_linker,
    macro_ref_linker,
    type_ref_pass,
    vocabulary,
    vocabulary_edges,
)
from .operators.callgraph import (
    link_misses,
    method_ref_linker,
)
from .spill import SpillDir
from .triples import build_triples, part_id_col


@dataclass
class CpgResult:
    nodes: DataFrame
    edges: DataFrame
    spans: DataFrame
    triples: DataFrame
    link_misses: DataFrame
    stats: dict = field(default_factory=dict)
    # the run's scratch SpillDir root (None for a result read from storage)
    scratch: str | None = None


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str | None = None,
    n_parts: int = 32,
    with_dataflow: bool = True,
) -> CpgResult:
    # the run's decisions the triples are built with; Workspace.save records
    # them, so an opened project derives the same triples
    stats: dict = {"n_parts": n_parts}

    # ---- stage: ast (resumable per partition with out_dir) ---------------
    t0 = time.time()
    spill = SpillDir()
    batches = SpillDir(out_dir) if out_dir else spill
    docs = docs.withColumn("part_id", part_id_col(n_parts=n_parts))
    # committed batch dirs (snapshot semantics: "append" = a NEW batch dir +
    # manifest flip, never an in-place append — a killed write leaves only
    # an unreferenced dir, and resume re-parses cleanly without duplicating
    # the torn batch's rows)
    manifest = (read_manifest(out_dir, "ast") if out_dir else None) or {}
    done = sorted(manifest.get("part_ids", []))
    batch_dirs = list(manifest.get("data_dirs", []))
    todo = docs.filter(~F.col("part_id").isin(done)) if done else docs
    if done:
        stats["ast_resumed_parts"] = len(done)
    if not done or todo.limit(1).count() > 0:
        # 2x-core parse fan-out: the parse is a Python-cpu-bound mapInArrow,
        # so its wall is the SLOWEST partition — at exactly one partition per
        # core a single skewed doc pack idles every other core for the tail
        # (measured ~1.5x instead of 4x at 8->32). Twice the partitions
        # halves the expected tail at the cost of smaller (still whole-doc)
        # spill files.
        n_parse = max(min(n_parts, 32),
                      2 * spark.sparkContext.defaultParallelism)
        rows = parse_docs(todo.repartition(n_parse, "doc_id")) \
            .withColumn("part_id", part_id_col(n_parts=n_parts))
        # columnar parse barrier, partitioned by rowtype: the edges stage
        # re-scans this frame from ~10 linker branches that each want only
        # node rows (~20% of the stream) — directory-level pruning beats a
        # rowtype filter that every scan would otherwise decode 100% of rows
        # to apply. Each parse task writes one file per rowtype.
        name = f"ast_rows/batch-{len(batch_dirs) + 1:05d}"
        batch = batches.write(rows, name, partition_by="rowtype",
                              guard_contiguity=True)
        batch_dirs.append(os.path.join(batches.root, name))
        if out_dir:
            # lineage from the written batch, not the lazy parse (which would
            # run again); partition discovery moves rowtype to the end, and
            # the row checksum hashes the columns in order
            append_lineage(spark, out_dir, batch.select(*rows.columns),
                           "ast", t0)
            parts = {r[0] for r in batch.select("part_id").distinct().collect()}
            write_manifest(out_dir, "ast", part_ids=sorted(parts | set(done)),
                           data_dirs=batch_dirs)
    # one read per batch: Spark refuses several partitioned roots in one read
    cpg_rows = reduce(DataFrame.unionByName,
                      [spark.read.parquet(d) for d in batch_dirs])

    nodes0, edges0, spans = split_rows(cpg_rows)

    from .operators import dims
    from .operators.callgraph import candidate_pool, link_calls
    from .operators.method_kernels import fused_method_kernels, type_hints
    from .operators.type_recovery import field_access_linker

    # ---- per-kind node counts: one small job whose counts bound every
    # dimension the kernel, the vocabulary and the linkers join, so the
    # broadcast-or-shuffle decisions cost no per-join probe jobs. METHOD +
    # TYPE_DECL + MEMBER bound the kernel's three fact dimensions and the
    # stub passes' METHOD and TYPE_DECL anti-join dims. The same scan counts
    # the parse's error rows (one per document whose parse raised); the
    # batch is partitioned by rowtype, so no edge or span file is opened.
    def counts_job():
        rows = (cpg_rows.filter(F.col("rowtype").isin("node", "error"))
                .groupBy("rowtype", "kind").count().collect())
        counts = {r["kind"]: r["count"] for r in rows if r["rowtype"] == "node"}
        fits = sum(counts.get(k, 0) for k in ("METHOD", "TYPE_DECL", "MEMBER")) \
            <= dims.MAX_BROADCAST_DIM
        stats["kind_counts"], stats["kernel_fits"] = counts, fits
        stats["docs_failed"] = sum(r["count"] for r in rows
                                   if r["rowtype"] == "error")
        return counts, fits

    # ---- kernel job (python-heavy, scales with cores)
    def kernel_job() -> DataFrame:
        _, fits = counts_f.result()
        k = fused_method_kernels(nodes0, fits, with_dataflow=with_dataflow)
        return spill.write(k, "kernel_rows")

    # ---- vocabulary + kernel-independent edges: everything except the
    # field-access and hint linkers (which consume the kernel's _TYPE_HINT
    # rows) depends only on the vocabulary — materialize those branches
    # INSIDE the pool, so their many small join stages overlap the kernel's
    # long Python stage (the kernel's JVM task threads mostly wait on worker
    # sockets; FAIR scheduling shares the slots)
    def base_job():
        t1 = time.time()  # the base_nodes stage: vocabulary + nodes union
        counts, kernel_fits = counts_f.result()
        # ONE checkpointed leaf for the six vocabulary frames: `nodes` is
        # referenced ~12 times across the candidate pool / linkers, and every
        # reference inlines the full union subtree into the plan Catalyst
        # must analyze (measured as multi-second DRIVER gaps in the stage
        # timeline at small corpus). Checkpointed, `nodes` plans as a
        # 2-branch union everywhere, and each vocabulary frame a consumer
        # needs is a kind filter of the leaf.
        vocab = vocabulary(nodes0, edges0, kernel_fits).localCheckpoint(eager=True)
        types = vocab.filter(F.col("kind") == "TYPE")
        dep_nodes = vocab.filter(F.col("kind") == "DEPENDENCY")
        # run-wide broadcast-budget decision: every dimension any downstream
        # join broadcasts is vocabulary-or-stub-sized; their union is bounded
        # by the leaf's rows (paramOuts are per-parameter, not a dimension)
        # plus these kind counts, so this one `fits` is passed to every join
        # after the vocabulary. Over budget → every dim join plans a shuffle
        # join (degrade, not die)
        vocab_n = (
            vocab.filter(F.col("kind") != "METHOD_PARAMETER_OUT").count()
            + sum(counts.get(k, 0) for k in ("METHOD", "TYPE_DECL", "MEMBER",
                                             "FILE"))
        )
        fits = vocab_n <= dims.MAX_BROADCAST_DIM
        stats["vocab_n"], stats["fits"] = vocab_n, fits
        nodes = nodes0.unionByName(vocab)
        # the two spills are independent — submit both to the pool so the
        # (join-light) base union and the (join-heavy) candidate pool run as
        # concurrent Spark jobs instead of back-to-back
        base_norec_f = pool.submit(lambda: spill.write(
            edges0.unionByName(vocabulary_edges(vocab, nodes0, fits=fits))
            .unionByName(type_ref_pass(types, nodes0, fits=fits))
            .unionByName(eval_type_pass(nodes, types, fits=fits))
            .unionByName(method_ref_linker(nodes, fits=fits))
            .unionByName(macro_ref_linker(nodes0))
            .unionByName(imports_linker(nodes0, dep_nodes, fits=fits)),
            "edges_base_norec"))
        # static/CHA/naive call candidates (hint needs the kernel);
        # the pool-internal barrier pays only at corpus scale
        cand_barrier = counts.get("CALL", 0) > 300_000
        cand_f = pool.submit(lambda: spill.write(
            candidate_pool(nodes, edges0, fits=fits, barrier=cand_barrier),
            "call_candidates"))
        return nodes, fits, base_norec_f.result(), cand_f.result(), t1

    # 3 top-level jobs + base_job's 2 nested spill submissions (nested
    # submits need free workers or they queue behind their own parent)
    with ThreadPoolExecutor(max_workers=5) as pool:
        counts_f = pool.submit(counts_job)
        kernel_f = pool.submit(kernel_job)
        base_f = pool.submit(base_job)
        kernel_out = kernel_f.result()
        nodes, fits, base_norec, cand, t1 = base_f.result()

    # recovery events came out of the kernel as _TYPE_HINT rows
    recovered = type_hints(kernel_out)
    kernel_edges = kernel_out.filter(F.col("kind") != "_TYPE_HINT")

    # ---- stage: the kernel-dependent edge tail — field-access linking, hint
    # candidates, and the one-pass call arbitration over the pre-materialized
    # candidate pool
    call_edges = link_calls(nodes, edges0, recovered=recovered,
                            pre_candidates=cand, fits=fits)
    t2 = time.time()
    post_lazy = field_access_linker(nodes0, edges0, recovered=recovered,
                                    fits=fits).unionByName(call_edges)
    base_call = base_norec.unionByName(spill.write(post_lazy, "edges_call_fa"))
    edges = kernel_edges.unionByName(base_call)
    if out_dir:
        append_lineage(spark, out_dir,
                       edges.withColumn("part_id", part_id_col(n_parts=n_parts)),
                       "edges", t2)
        append_lineage(spark, out_dir,
                       nodes.withColumn("part_id", part_id_col(n_parts=n_parts)),
                       "base_nodes", t1)

    # calls that no linker resolved, from the materialized call edges
    misses = link_misses(nodes, base_call.filter(F.col("kind") == "CALL"))

    # ---- stage: triples
    t3 = time.time()
    triples = build_triples(nodes, edges, spans, n_parts=n_parts, fits=fits)
    if out_dir:
        # atomic snapshot commit: fresh snap dir + manifest-pointer flip
        triples = commit_snapshot(spark, triples, out_dir, "triples",
                                  partition_by="part_id")
        append_lineage(spark, out_dir, triples, "triples", t3)

    return CpgResult(nodes=nodes, edges=edges, spans=spans, triples=triples,
                     link_misses=misses, stats=stats, scratch=spill.root)
