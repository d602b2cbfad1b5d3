"""Materialize nodes/edges as (subj, pred, obj) triples.

Granularity matches the reference's per-function JSON diff tooling
(``/root/reference/compareJson.py``): node-kind triples, property triples,
edge triples, plus media-span provenance triples (FIXTURES.md §2).

Plan shape: ONE scan of nodes (kind + all property triples via a generated
pred/obj array explode), ONE scan of edges, plus the (tiny) media-span join —
three union branches instead of eleven, so the downstream stage runs
3×n_parts tasks instead of 11×n_parts (task-scheduling overhead dominated
the triples stage at small scale; at 100 TB the same shape minimizes the
number of cache scans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.dims import budgeted_broadcast

N_PARTS_DEFAULT = 32

_PROP_COLUMNS = ["name", "full_name", "code", "signature", "dispatch_type"]
_INT_PROP_COLUMNS = ["order", "argument_index"]


def part_id_col(doc_col="doc_id", n_parts: int = N_PARTS_DEFAULT):
    return F.pmod(F.xxhash64(F.col(doc_col)), F.lit(n_parts)).cast("int")


def build_triples(nodes: DataFrame, edges: DataFrame, spans: DataFrame,
                  n_parts: int = N_PARTS_DEFAULT, *, fits: bool) -> DataFrame:
    """(subj, pred, obj, doc_id, part_id) rows; the FILE dim of the media
    join broadcasts when ``fits``."""
    pid = part_id_col(n_parts=n_parts)

    # node-kind + property triples in one scan: explode (pred, obj) pairs
    pairs = F.array(
        F.struct(F.lit("kind").alias("pred"), F.col("kind").alias("obj")),
        *[
            F.struct(F.lit(p).alias("pred"), F.col(p).cast("string").alias("obj"))
            for p in _PROP_COLUMNS + _INT_PROP_COLUMNS
        ],
    )
    node_t = (
        nodes.select(
            F.col("node_id").cast("string").alias("subj"),
            F.explode(pairs).alias("po"),
            "doc_id",
            pid.alias("part_id"),
        )
        .filter(F.col("po.obj").isNotNull() & (F.col("po.obj") != ""))
        .select("subj", F.col("po.pred").alias("pred"), F.col("po.obj").alias("obj"),
                "doc_id", "part_id")
    )

    edge_t = edges.select(
        F.col("src").cast("string").alias("subj"),
        F.col("kind").alias("pred"),
        F.col("dst").cast("string").alias("obj"),
        "doc_id", pid.alias("part_id"),
    )

    # media provenance: (file_node_id, media_ref, ref) in span order
    files = nodes.filter(F.col("kind") == "FILE").select(
        F.col("doc_id").alias("f_doc"), F.col("node_id").alias("file_id")
    )
    media_t = (
        spans.filter(F.col("kind") == "media")
        .join(budgeted_broadcast(files, fits), F.col("doc_id") == F.col("f_doc"))
        .select(
            F.col("file_id").cast("string").alias("subj"),
            F.lit("media_ref").alias("pred"),
            F.col("media_ref").alias("obj"),
            "doc_id", pid.alias("part_id"),
        )
    )

    return node_t.unionByName(edge_t).unionByName(media_t)
