"""joern_spark — a from-scratch, PySpark-native code-property-graph-as-knowledge-graph
triple factory with the query/data-processing capabilities of TheGreatAutomata/joern.

The reference (read-only at /root/reference) is a Scala/OverflowDB property-graph
engine; this package re-expresses what it *computes* as idiomatic Spark:

- per-document parse/AST construction = vectorized ``mapInPandas`` over an
  interleaved-span document table (reference: per-file ConcurrentWriterCpgPass,
  ``x2cpg/.../passes/AstCreationPass.scala``),
- linking passes = DataFrame joins (budgeted broadcast for dimension-sized
  symbol tables, shuffle joins with AQE skew-join over budget; reference:
  ``x2cpg/.../utils/LinkingUtil.scala``),
- per-method CFG / dominators / reaching-definitions / type recovery = one
  fused, doc-contiguous ``mapInArrow`` kernel (reference: ``CfgCreator.scala``,
  ``ReachingDefProblem.scala``),
- transitive closures (``repeat``, ``dominatedBy``, ``reachableBy``,
  ``callee*``, the type hierarchy) = one bounded frontier BFS,
  ``operators/frontier.expand``: a lazy walk over a broadcast adjacency
  under the dims budget, a checkpointed semi-naive join loop over it,
- materialization = partitioned parquet tables (``nodes``/``edges``/``triples``)
  with per-partition lineage rows and resumable stage manifests.
"""

__version__ = "0.1.0"
