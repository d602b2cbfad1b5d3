"""Graph export sinks (SURVEY.md §2.D).

Reference: ``joern-cli/.../JoernExport.scala:28-59,97-118`` — DOT / GraphML /
GraphSON / Neo4j-CSV / JSON, per representation (AST/CFG/DDG/CDG/PDG/ALL).
Here the canonical export is the ``triples`` table; these writers reshape
nodes/edges into interchange text formats.

Scale shape: per-method exports are produced distributed — one row per
method with the serialized subgraph string (each method's node and edge
rows meet in one ``mapInArrow`` task through ``frontier.map_groups``),
written as a text/parquet column; whole-graph single-file exports are
driver-side and flagged test-scale only.
"""

from __future__ import annotations

import json
import xml.sax.saxutils as sx

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .operators.frontier import arrow_batch, map_groups

REPRESENTATIONS = {
    "AST": ["AST"],
    "CFG": ["CFG"],
    "DDG": ["REACHING_DEF"],
    "CDG": ["CDG"],
    "PDG": ["REACHING_DEF", "CDG"],
    "CPG14": ["AST", "CFG", "REACHING_DEF"],
    "ALL": None,  # every edge kind
}


def _edge_filter(edges: DataFrame, representation: str) -> DataFrame:
    kinds = REPRESENTATIONS[representation]
    return edges if kinds is None else edges.filter(F.col("kind").isin(kinds))


_SUBGRAPH_SCHEMA = StructType([StructField("method_id", LongType()),
                               StructField("doc_id", StringType()),
                               StructField("text", StringType())])
_SUBGRAPH_BATCH = 1024  # methods per output batch


def method_subgraphs(nodes: DataFrame, edges: DataFrame,
                     representation: str = "ALL", fmt: str = "dot") -> DataFrame:
    """One row per method: (method_id, doc_id, text) with the serialized
    subgraph — the distributed export path. Nodes render in ``node_id``
    order and edges in ``(src, dst, kind)`` order, so the text depends on
    the graph alone, not on the order its rows arrive in."""
    e = _edge_filter(edges, representation).filter(F.col("method_id").isNotNull())
    n = nodes.filter(F.col("method_id").isNotNull()).select(
        "method_id", "node_id", "kind", "code", "doc_id")
    # one frame per method: node rows carry node_id, edge rows src/dst
    rows = n.unionByName(e.select("method_id", "src", "dst", "kind"),
                         allowMissingColumns=True)
    render = {"dot": _dot, "graphml": _graphml, "json": _json_graph,
              "graphson": _graphson}[fmt]

    def kernel(groups):
        out: list[list] = [[], [], []]
        for (mid,), members in groups:
            node_rows = sorted((r for r in members if r["node_id"] is not None),
                               key=lambda r: r["node_id"])
            edge_rows = sorted((r for r in members if r["node_id"] is None),
                               key=lambda r: (r["src"], r["dst"], r["kind"]))
            out[0].append(mid)
            out[1].append(node_rows[0]["doc_id"] if node_rows else None)
            out[2].append(render(node_rows, edge_rows, name=str(mid)))
            if len(out[0]) >= _SUBGRAPH_BATCH:
                yield arrow_batch(out, _SUBGRAPH_SCHEMA)
                out = [[], [], []]
        if out[0]:
            yield arrow_batch(out, _SUBGRAPH_SCHEMA)

    return map_groups(rows, ["method_id"], kernel, _SUBGRAPH_SCHEMA)


def _dot(node_rows, edge_rows, name: str) -> str:
    lines = [f'digraph "{name}" {{']
    for r in node_rows:
        label = (r.get("code") or r["kind"]).replace('"', r'\"')[:60]
        lines.append(f'  "{r["node_id"]}" [label="{label}"];')
    for e in edge_rows:
        lines.append(f'  "{e["src"]}" -> "{e["dst"]}" [label="{e["kind"]}"];')
    lines.append("}")
    return "\n".join(lines)


def _graphml(node_rows, edge_rows, name: str) -> str:
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">',
        '<key id="label" for="node" attr.name="label" attr.type="string"/>',
        '<key id="kind" for="edge" attr.name="kind" attr.type="string"/>',
        f'<graph id="{sx.escape(name)}" edgedefault="directed">',
    ]
    for r in node_rows:
        label = sx.escape((r.get("code") or r["kind"])[:60])
        out.append(f'<node id="n{r["node_id"]}"><data key="label">{label}</data></node>')
    for e in edge_rows:
        out.append(
            f'<edge source="n{e["src"]}" target="n{e["dst"]}">'
            f'<data key="kind">{sx.escape(e["kind"])}</data></edge>'
        )
    out += ["</graph>", "</graphml>"]
    return "\n".join(out)


def _json_graph(node_rows, edge_rows, name: str) -> str:
    return json.dumps({
        "name": name,
        "nodes": [
            {"id": r["node_id"], "kind": r["kind"], "code": r.get("code")}
            for r in node_rows
        ],
        "edges": [
            {"src": e["src"], "dst": e["dst"], "kind": e["kind"]} for e in edge_rows
        ],
    }, sort_keys=True)


def _graphson(node_rows, edge_rows, name: str) -> str:
    """TinkerPop GraphSON 3.0 typed graph (JoernExport.Format.Graphson)."""

    def g_long(v):
        return {"@type": "g:Int64", "@value": int(v)}

    vertices = [
        {
            "@type": "g:Vertex",
            "@value": {
                "id": g_long(r["node_id"]),
                "label": r["kind"],
                "properties": {
                    "code": [{
                        "@type": "g:VertexProperty",
                        "@value": {"id": g_long(r["node_id"]),
                                   "label": "code",
                                   "value": (r.get("code") or "")},
                    }]
                },
            },
        }
        for r in node_rows
    ]
    gedges = [
        {
            "@type": "g:Edge",
            "@value": {
                "id": g_long(i),
                "label": e["kind"],
                "outV": g_long(e["src"]),
                "inV": g_long(e["dst"]),
            },
        }
        for i, e in enumerate(edge_rows)
    ]
    return json.dumps(
        {"@type": "tinker:graph",
         "@value": {"vertices": vertices, "edges": gedges}},
        sort_keys=True,
    )


def neo4j_csv(nodes: DataFrame, edges: DataFrame):
    """Neo4j bulk-import shape: (nodes_csv_df, edges_csv_df) — write with
    ``df.write.csv`` (distributed, one header-less part per partition)."""
    n = nodes.select(
        F.col("node_id").alias(":ID"),
        F.col("kind").alias(":LABEL"),
        F.col("name").alias("name"),
        F.col("code").alias("code"),
    )
    e = edges.select(
        F.col("src").alias(":START_ID"),
        F.col("dst").alias(":END_ID"),
        F.col("kind").alias(":TYPE"),
        F.col("variable").alias("variable"),
    )
    return n, e

