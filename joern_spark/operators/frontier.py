"""Bounded semi-naive frontier expansion — the one transitive-closure loop.

Every transitive step the package answers is a BFS over one step relation:
the DSL's AST/dominator/CDG closures, the scan's per-start ancestor walks,
``reachableBy``, the bounded call-graph closure, the data-flow slice and the
type hierarchy (reference: ``repeat``/``dominatedBy``/``reachableBy``/
``callee*``). They all call :func:`expand`, which owns how a closure advances,
deduplicates, checkpoints, detects convergence and stops at the cap.

Spark shape: one round is frontier ⋈ step, then one aggregate per state over
the round's rows ∪ the visited set, which both keeps the minimum depth and
drops visited states (the anti-join, without a second shuffle). Two actions
per round: an eager ``localCheckpoint`` of the round's rows and an
``isEmpty`` probe for convergence. The visited set is the union of the
checkpointed rounds, so its lineage never grows past one round.
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# round cap for every closure; the DuckDB oracle twins recurse to fixpoint,
# so this is a safety valve, not a semantic bound — reaching it warns
MAX_ROUNDS = 256


def expand(seed: DataFrame, step: DataFrame, keys: Sequence[str] = (),
           max_depth: int | None = None) -> DataFrame:
    """Every ``(*keys, node_id, depth)`` state reachable from ``seed``.

    seed: ``(*keys, node_id, depth)``; step: ``(node_id, next_id, cost)``.
    ``keys`` pair each walk with its start (e.g. ``sink_id``), so per-start
    closures share one frontier without merging their visited sets.

    Each round joins the frontier to ``step`` and sets ``depth + cost``,
    drops rows with ``depth > max_depth`` when a bound is given, keeps the
    minimum depth per ``(*keys, node_id)`` within the round, and anti-joins
    the states already visited. A state's depth is therefore the one of the
    round that first reached it. The loop stops when a round adds nothing,
    or after ``MAX_ROUNDS`` rounds with a ``RuntimeWarning``. Returns every
    visited state, seed included, once.
    """
    keys = list(keys)
    state = [*keys, "node_id"]
    frontier = (
        seed.groupBy(*state).agg(F.min("depth").alias("depth"))
        .localCheckpoint(eager=True)
    )
    visited = frontier
    for _ in range(MAX_ROUNDS):
        nxt = frontier.join(step, "node_id").select(
            *keys, F.col("next_id").alias("node_id"),
            (F.col("depth") + F.col("cost")).alias("depth"),
        )
        if max_depth is not None:
            nxt = nxt.filter(F.col("depth") <= max_depth)
        # min depth per state and the visited anti-join in ONE shuffle: a
        # state any visited row touches is dropped
        nxt = (
            nxt.withColumn("seen", F.lit(False))
            .unionByName(visited.withColumn("seen", F.lit(True)))
            .groupBy(*state)
            .agg(F.min("depth").alias("depth"), F.max("seen").alias("seen"))
            .filter(~F.col("seen")).drop("seen")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            return visited
        visited = visited.unionByName(nxt)
        frontier = nxt
    warnings.warn(
        f"frontier.expand stopped at MAX_ROUNDS={MAX_ROUNDS} with a "
        "non-empty frontier; the closure is truncated",
        RuntimeWarning, stacklevel=2,
    )
    return visited
