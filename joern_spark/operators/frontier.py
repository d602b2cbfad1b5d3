"""Bounded semi-naive frontier expansion — the one transitive-closure loop.

Every transitive step the package answers is a BFS over one step relation:
the DSL's AST/dominator/CDG closures, the scan's per-start ancestor walks,
``reachableBy``, the bounded call-graph closure, the data-flow slice and the
type hierarchy (reference: ``repeat``/``dominatedBy``/``reachableBy``/
``callee*``). They all call :func:`expand`, which owns how a closure advances,
deduplicates, detects convergence and stops at the cap.

Two physical plans keep one contract; the size of the step relation picks
the plan (the dims budget, ``dims.MAX_BROADCAST_DIM`` rows):

- **Broadcast walk** (the step fits). One Arrow fetch of the step, broadcast
  as an adjacency map ``{node_id: [(next_id, cost)]}``; the seed is grouped
  by its keys (:func:`map_groups`) and ``mapInArrow`` runs a per-key BFS
  over the broadcast map. The plan is lazy: it runs no Spark job until the
  consumer's own action, so a closure costs its consumer one aggregate, not
  rounds of jobs. The fetch is memoized per step frame object (a caller that
  passes the same step again pays no second fetch) and released with it.
  Joern answers ``reachableBy``/``repeat`` the same way, over one
  in-memory graph.
- **Checkpointed loop** (over budget). One round is frontier ⋈ step, then
  one aggregate per state over the round's rows ∪ the visited set, which
  both keeps the minimum depth and drops visited states (the anti-join,
  without a second shuffle). Two actions per round: an eager
  ``localCheckpoint`` of the round's rows and an ``isEmpty`` probe for
  convergence. The visited set is the union of the checkpointed rounds, so
  its lineage never grows past one round.

:func:`map_groups` is how per-key work gets all of a key's rows into one
task: the broadcast walk, ``FlowEngine.flows``'s per-sink path walk and the
per-method export use it.
"""

from __future__ import annotations

import sys
import warnings
import weakref
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from . import dims

# round cap for every closure; the DuckDB oracle twins recurse to fixpoint,
# so this is a safety valve, not a semantic bound — reaching it warns
MAX_ROUNDS = 256

# rows per output batch of a mapInArrow task
BATCH_ROWS = 65536

# step frame → broadcast adjacency, or None when over budget; weak keys, so
# an entry is released with its step frame
_ADJACENCY: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _cap_message(cap: int) -> str:
    return (f"frontier.expand stopped at MAX_ROUNDS={cap} with a "
            "non-empty frontier; the closure is truncated")


def expand(seed: DataFrame, step: DataFrame, keys: Sequence[str] = (),
           max_depth: int | None = None) -> DataFrame:
    """Every ``(*keys, node_id, depth)`` state reachable from ``seed``.

    seed: ``(*keys, node_id, depth)``; step: ``(node_id, next_id, cost)``.
    ``keys`` pair each walk with its start (e.g. ``sink_id``), so per-start
    closures share one frontier without merging their visited sets. Keys and
    node ids keep their types (the type hierarchy walks string names).

    A state starts at the seed's minimum depth. Each round follows ``step``
    from the frontier and sets ``depth + cost``, drops rows with
    ``depth > max_depth`` when a bound is given, keeps the minimum depth per
    ``(*keys, node_id)`` within the round, and never enters a visited state
    again. A state's depth is therefore the one of the round that first
    reached it. A walk stops when a round adds nothing, or after
    ``MAX_ROUNDS`` rounds (read when ``expand`` is called). Returns every
    visited state, seed included, once.

    Both plans (module docstring) return the same rows. Under the budget the
    result is a lazy frame: return it to the consumer, do not collect around
    it. At the cap the checkpointed loop raises a ``RuntimeWarning``; the
    broadcast walk, which runs on a worker, writes the same text to the
    worker's stderr.
    """
    keys = list(keys)
    adj = _adjacency(step)
    if adj is not None:
        return _broadcast_walk(seed, adj, keys, max_depth)

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
    warnings.warn(_cap_message(MAX_ROUNDS), RuntimeWarning, stacklevel=2)
    return visited


def _adjacency(step: DataFrame):
    """The step as a broadcast ``{node_id: [(next_id, cost)]}``, or None when
    it has more than ``dims.MAX_BROADCAST_DIM`` rows. One Arrow fetch per
    step frame object."""
    if step in _ADJACENCY:
        return _ADJACENCY[step]
    budget = dims.MAX_BROADCAST_DIM
    tbl = step.select("node_id", "next_id", "cost").limit(budget + 1).toArrow()
    adj = None
    if tbl.num_rows <= budget:
        out: dict = {}
        # Arrow → Python keeps 64-bit ids exact (never through float64)
        for n, m, c in zip(*(col.to_pylist() for col in tbl.columns)):
            if n is not None:  # the loop's equi-join never matches a null
                out.setdefault(n, []).append((m, c))
        adj = step.sparkSession.sparkContext.broadcast(out)
    _ADJACENCY[step] = adj
    return adj


def map_groups(df: DataFrame, keys: Sequence[str], fn,
               schema: StructType) -> DataFrame:
    """``fn`` over every key's rows, each key's rows in one task.

    ``fn(groups)`` runs in a ``mapInArrow`` task: ``groups`` yields
    ``(key tuple, [row dict])`` once per key, the dicts holding ``df``'s
    other columns, and ``fn`` yields Arrow record batches of ``schema``.
    The rows meet through one aggregate (``collect_list`` per key). A
    ``repartition(*keys)`` before ``mapInArrow`` does not promise that:
    over a union of joins the final adaptive plan kept no exchange on the
    keys, and one key's rows reached two tasks."""
    keys = list(keys)
    rest = [c for c in df.columns if c not in keys]
    grouped = df.groupBy(*keys).agg(
        F.collect_list(F.struct(*rest)).alias("_rows"))
    n = len(keys)

    def run(batches):
        def groups():
            for b in batches:
                cols = [c.to_pylist() for c in b.columns]
                for row in zip(*cols):
                    yield tuple(row[:n]), row[n]

        yield from fn(groups())

    return grouped.mapInArrow(run, schema)


def arrow_batch(cols: list[list], schema: StructType):
    """One Arrow record batch of ``schema`` from column lists; Python ints
    keep 64-bit ids exact."""
    import pyarrow as pa

    aschema = to_arrow_schema(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, aschema)],
        schema=aschema)


def _broadcast_walk(seed: DataFrame, adj, keys: list[str],
                    max_depth: int | None) -> DataFrame:
    """The lazy plan: one ``mapInArrow`` task walks each key's BFS over the
    broadcast map, from all of the key's seed rows."""
    seed = seed.select(*keys, "node_id", "depth")
    return map_groups(seed, keys,
                      _walker(adj, seed.schema, max_depth, MAX_ROUNDS),
                      seed.schema)


def _walker(adj, schema: StructType, max_depth: int | None, cap: int):
    n_keys = len(schema) - 2

    def walk(groups):
        graph = adj.value
        out: list[list] = [[] for _ in range(n_keys + 2)]
        truncated = False
        for key, rows in groups:
            visited: dict = {}
            for r in rows:
                n, d = r["node_id"], r["depth"]
                if n not in visited or d < visited[n]:
                    visited[n] = d
            frontier = dict(visited)
            for _ in range(cap):
                nxt: dict = {}
                for n, d in frontier.items():
                    for m, c in graph.get(n, ()):
                        nd = d + c
                        if m in visited or (max_depth is not None
                                            and nd > max_depth):
                            continue
                        old = nxt.get(m)
                        if old is None or nd < old:
                            nxt[m] = nd
                if not nxt:
                    break
                visited.update(nxt)
                frontier = nxt
            else:
                truncated = True
            for n, d in visited.items():
                for i, k in enumerate(key):
                    out[i].append(k)
                out[n_keys].append(n)
                out[n_keys + 1].append(d)
            if len(out[n_keys]) >= BATCH_ROWS:
                yield arrow_batch(out, schema)
                out = [[] for _ in range(n_keys + 2)]
        if truncated:
            print(_cap_message(cap), file=sys.stderr)
        if out[n_keys]:
            yield arrow_batch(out, schema)

    return walk
