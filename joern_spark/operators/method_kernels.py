"""Fused per-method kernel pass: CFG + dominators/CDG + reaching-def + type
recovery in ONE ``mapInArrow`` over the doc-partitioned parse output.

This is the only producer of per-method facts. Grouped-map passes
(pandas UDFs per group) would shuffle every node row by ``method_id`` and pay
per-group pandas overhead on ~30-row groups (measured ~88 ms CPU/doc at
sf0.1, dominated by group plumbing, not kernel math). Methods never span
documents, and a document's rows never span partitions (they are emitted by
one parse call), so all kernels run partition-locally with a python-side
groupby: one Arrow pass over the plain-Python per-method functions
(`cfg_edges_for_method`, `dominator_edges_for_method`,
`reaching_def_edges_for_method`, `recover_types_for_method`).

Cross-document facts (is a callee internal, its return types, a method's
enclosing class, the member types per field name) arrive as ordinary columns
on the input rows, filled by :func:`_kernel_input`'s budgeted left joins.
Under the broadcast budget those are broadcast hash joins and the node stream
is never shuffled; over it they are shuffle joins and the stream is
re-clustered by ``doc_id`` — the same kernel, degraded, never a second path.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ids import stub_id
from ..schema import EDGES_SCHEMA_DDL, arrow_schema
from .cfg_pass import cfg_edges_for_method
from .dims import budgeted_broadcast
from .dominators import dominator_edges_for_method
from .reaching_def import reaching_def_edges_for_method
from .type_recovery import recover_types_for_method

_YIELD_EVERY = 50_000  # output edge rows per yielded Arrow frame

_COLS = ["node_id", "doc_id", "kind", "name", "full_name", "code",
         "signature", "dispatch_type", "order", "argument_index", "line",
         "span_offset", "type_full_name", "is_external", "parent_id",
         "method_id", "ctrl_type"]


def _kernel_input(nodes: DataFrame, fits: bool) -> DataFrame:
    """Method-scoped node rows plus the cross-document fact columns:

    - CALL rows: ``callee_internal`` (true when any METHOD of that full_name
      is internal, else null — the EdgeValidator flag) and
      ``callee_ret_types`` (sorted non-ANY METHOD_RETURN types);
    - METHOD rows: ``class_full``, the TYPE_DECL that parents the method;
    - FIELD_IDENTIFIER rows: ``member_types``, class full name → sorted
      declared types of that class's members with the row's name.

    ``fits``: the three dimensions are bounded by the METHOD, TYPE_DECL and
    MEMBER counts; when those fit the broadcast budget the joins broadcast
    and keep the stream's doc-contiguous order, otherwise they shuffle and
    the rows are re-clustered by doc."""
    def dim(df):
        return budgeted_broadcast(df, fits)

    typed = F.col("type_full_name").isNotNull() & (F.col("type_full_name") != "")
    rets = nodes.filter(
        (F.col("kind") == "METHOD_RETURN") & typed
        & (F.col("type_full_name") != "ANY")
    ).select(F.col("method_id").alias("node_id"),
             F.col("type_full_name").alias("ret_type"))
    callees = (
        nodes.filter(F.col("kind") == "METHOD")
        .select("node_id", "full_name", "is_external")
        .join(dim(rets), "node_id", "left")
        .groupBy(F.col("full_name").alias("callee_full"))
        .agg(F.max(F.when(~F.col("is_external"), True)).alias("callee_internal"),
             F.array_sort(F.collect_set("ret_type")).alias("callee_ret_types"))
    )
    classes = nodes.filter(F.col("kind") == "TYPE_DECL").select(
        F.col("node_id").alias("class_id"), F.col("full_name").alias("class_full"))
    members = (
        nodes.filter((F.col("kind") == "MEMBER") & typed)
        .join(dim(classes), F.col("parent_id") == F.col("class_id"))
        .filter(F.col("class_full").isNotNull())
        .groupBy(F.col("name").alias("field"), "class_full")
        .agg(F.array_sort(F.collect_set("type_full_name")).alias("types"))
        .groupBy("field")
        .agg(F.map_from_entries(F.collect_list(F.struct("class_full", "types")))
             .alias("member_types"))
    )

    src = nodes.filter(F.col("method_id").isNotNull()).select(*_COLS)
    out = (
        src.join(dim(callees), (src["kind"] == "CALL")
                 & (src["full_name"] == F.col("callee_full")), "left")
        .join(dim(classes), (src["kind"] == "METHOD")
              & (src["parent_id"] == F.col("class_id")), "left")
        .join(dim(members), (src["kind"] == "FIELD_IDENTIFIER")
              & (src["name"] == F.col("field")), "left")
        .drop("callee_full", "class_id", "field")
    )
    if not fits:
        out = out.repartition("doc_id").sortWithinPartitions("doc_id")
    return out


def _synth_param_outs(rows: list[dict]) -> list[dict]:
    """Mirror MethodDecoratorPass inside the kernel: paramOut row per
    paramIn, with the identical deterministic id (stub_id('PARAM_OUT', pid))
    so emitted edges match the table built by parameter_out_pass."""
    outs = []
    for r in rows:
        if r["kind"] != "METHOD_PARAMETER_IN":
            continue
        o = dict(r)
        o["node_id"] = stub_id("PARAM_OUT", r["node_id"])
        o["kind"] = "METHOD_PARAMETER_OUT"
        outs.append(o)
    return outs


def fused_method_kernels(
    nodes: DataFrame,
    fits: bool,
    with_dominators: bool = True,
    with_dataflow: bool = True,
) -> DataFrame:
    """parse-output nodes → CFG (+DOMINATE/POST_DOMINATE/CDG) (+REACHING_DEF)
    edge rows, partition-locally, plus the per-method type-recovery events as
    rows with ``kind='_TYPE_HINT'`` (src=identifier id, variable=recovered
    type, dst=0) — the pipeline filters these out of the edge stream and
    feeds them, through :func:`type_hints`, to the field-access/hint
    linkers. ``fits`` picks broadcast or shuffle joins for the
    cross-document facts (:func:`_kernel_input`)."""
    import pyarrow as pa

    out_schema = arrow_schema(EDGES_SCHEMA_DDL)

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        # STREAMING group-by: a document's rows are contiguous in the input
        # (one parse call emits the whole doc, and _kernel_input either keeps
        # that order or re-clusters by doc), so methods complete at doc
        # boundaries.
        # Peak memory = one document + the output buffer — O(doc), not
        # O(partition) — restoring Arrow streaming semantics. A reappearing
        # doc_id would mean the contiguity assumption broke: fail loudly.
        # Arrow-native row I/O: ``to_pylist`` hands the kernels plain dicts
        # with exact int64 ids and None nulls (no pandas records pass), and
        # ``from_pylist`` lands the output the same way.
        out_rows: list[dict] = []

        def process(buf: dict[int, list[dict]]) -> None:
            for mid, rows in buf.items():
                doc_id = rows[0]["doc_id"]

                def emit(s, d, kind, var=""):
                    out_rows.append({
                        "src": s, "dst": d, "kind": kind, "variable": var,
                        "doc_id": doc_id, "method_id": mid,
                    })

                cfg = cfg_edges_for_method(rows)
                for s, d in cfg:
                    emit(s, d, "CFG")
                if with_dominators and cfg:
                    for s, d, k in dominator_edges_for_method(rows, cfg):
                        emit(s, d, k)
                for nid, rtype in recover_types_for_method(rows):
                    emit(nid, 0, "_TYPE_HINT", rtype)
                if with_dataflow and cfg:
                    krows = rows + _synth_param_outs(rows)
                    for s, d, v in reaching_def_edges_for_method(krows, cfg):
                        emit(s, d, "REACHING_DEF", v)

        buf: dict[int, list[dict]] = defaultdict(list)
        cur_doc: str | None = None
        seen_docs: set[str] = set()
        for batch in batches:
            for r in batch.to_pylist():
                d = r["doc_id"]
                if d != cur_doc:
                    if cur_doc is not None:
                        process(buf)
                        buf = defaultdict(list)
                        if len(out_rows) >= _YIELD_EVERY:
                            yield from pa.Table.from_pylist(
                                out_rows, schema=out_schema).to_batches()
                            out_rows = []
                    if d in seen_docs:
                        raise ValueError(
                            f"non-contiguous rows for doc {d!r}: fused kernel "
                            "requires doc-contiguous input (the parse output, "
                            "or _kernel_input's re-clustered shuffle join)")
                    seen_docs.add(d)
                    cur_doc = d
                buf[r["method_id"]].append(r)
        process(buf)
        yield from pa.Table.from_pylist(out_rows, schema=out_schema).to_batches()

    return _kernel_input(nodes, fits).mapInArrow(run, schema=EDGES_SCHEMA_DDL)


def type_hints(kernel_out: DataFrame) -> DataFrame:
    """The kernel's ``_TYPE_HINT`` rows as (node_id, recovered_type) — several
    rows per node when its variable carries several hints — the form the
    field-access and hint linkers take."""
    return kernel_out.filter(F.col("kind") == "_TYPE_HINT").select(
        F.col("src").alias("node_id"), F.col("variable").alias("recovered_type"))
