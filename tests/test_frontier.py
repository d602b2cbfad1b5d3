"""``frontier.expand`` — the one transitive-closure loop — against a
plain-Python BFS with the same round semantics: per round, depth + cost,
drop depth > max_depth, min depth per state, never re-enter a visited state,
stop on an empty round or at ``MAX_ROUNDS``.

Every case runs under both physical plans: the broadcast walk (default
budget) and the checkpointed loop (``dims.MAX_BROADCAST_DIM`` set to 0)."""

import warnings

import pytest
from pyspark.sql import functions as F

from joern_spark.operators import dims, frontier
from joern_spark.operators.frontier import expand

# 1 → 2 → 3 → 1 is a cycle through the seed node 1; 3 → 4 → 5 and 2 → 5
# give node 5 two arrival rounds; the parallel 1 → 7 edges arrive in the
# same round at two depths (like a REACHING_DEF and a call hop)
EDGES = [(1, 2, 1), (2, 3, 0), (3, 1, 1), (3, 4, 1), (4, 5, 0), (2, 5, 1),
         (5, 6, 1), (1, 7, 1), (1, 7, 0)]


def _bfs(seeds: dict, edges, max_depth=None, cap=frontier.MAX_ROUNDS) -> dict:
    """{(key, node): depth} reference for ``expand``."""
    adj: dict = {}
    for a, b, c in edges:
        adj.setdefault(a, []).append((b, c))
    visited, cur = dict(seeds), dict(seeds)
    for _ in range(cap):
        nxt: dict = {}
        for (k, n), d in cur.items():
            for m, c in adj.get(n, ()):
                nd = d + c
                if (max_depth is not None and nd > max_depth) or (k, m) in visited:
                    continue
                nxt[(k, m)] = min(nd, nxt.get((k, m), nd))
        if not nxt:
            break
        visited.update(nxt)
        cur = nxt
    return visited


def _step(spark, edges):
    return spark.createDataFrame(edges, "node_id long, next_id long, cost int")


def _plans():
    """Yield each plan name with ``expand`` forced onto that plan: the tiny
    steps here fit the default budget, and a zero budget sends every
    non-empty step to the checkpointed loop."""
    for plan in ("broadcast", "loop"):
        with pytest.MonkeyPatch.context() as mp:
            if plan == "loop":
                mp.setattr(dims, "MAX_BROADCAST_DIM", 0)
            yield plan


def test_unkeyed_matches_bfs(spark):
    edges = [(a, b, 1) for a, b, _ in EDGES]
    seed = spark.createDataFrame([(1, 0)], "node_id long, depth int")
    want = _bfs({(None, 1): 0}, edges)
    for plan in _plans():
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            got = {(None, r["node_id"]): r["depth"]
                   for r in expand(seed, _step(spark, edges)).collect()}
        assert got == want, plan
        # the seed is reachable again through 3 → 1 but keeps its depth
        assert got[(None, 1)] == 0 and len(got) == 7


def test_keyed_costs_and_bound_match_bfs(spark):
    seeds = {("a", 1): 0, ("b", 4): 0, ("b", 1): 0}
    seed = spark.createDataFrame([(k, n, d) for (k, n), d in seeds.items()],
                                 "key string, node_id long, depth int")
    for plan in _plans():
        got = {}
        for bound in (None, 0, 1):
            got[bound] = {(r["key"], r["node_id"]): r["depth"]
                          for r in expand(seed, _step(spark, EDGES), ["key"],
                                          max_depth=bound).collect()}
            assert got[bound] == _bfs(seeds, EDGES, max_depth=bound), (plan, bound)
        # key "b" reaches 5 from its seed 4 at depth 0, key "a" only at
        # depth 2: the keyed walks share one frontier but not their visited
        # sets
        assert got[None][("b", 5)] == 0 and got[None][("a", 5)] == 2
        assert got[None][("a", 7)] == 0
        assert ("a", 5) not in got[1] and ("b", 5) in got[0]


def test_union_of_joins_seed_states_once(spark):
    """A seed built like a per-sink sub-graph — a union of two joins over an
    earlier closure, semi-joined on the key — still gives every state once.
    The keyed walk must see all of a key's seed rows in one task; a
    ``repartition`` on the key was dropped from such a plan, and the walk
    returned states twice."""
    step = _step(spark, EDGES)
    starts = {(n, n): 0 for n in range(1, 8)}
    seed0 = spark.createDataFrame([(k, n, d) for (k, n), d in starts.items()],
                                  "key long, node_id long, depth int")
    sources = {1, 4, 7}
    closure = _bfs(starts, EDGES)
    marked = {k for k, n in closure if n in sources}
    seeds = {(k, m): 0 for k, n in closure for a, m, _ in EDGES
             if a == n and k in marked}
    seeds.update({(k, n): 0 for k, n in closure if n in sources})
    want = _bfs(seeds, EDGES, max_depth=2)
    for plan in _plans():
        visited = expand(seed0, step, ["key"]).select("key", "node_id")
        marks = visited.join(spark.createDataFrame(
            [(n,) for n in sources], "node_id long"), "node_id")
        seed = (
            visited.join(step, "node_id")
            .select("key", F.col("next_id").alias("node_id"))
            .unionByName(marks.select("key", "node_id"))
            .join(marks.select("key").distinct(), "key", "left_semi")
            .withColumn("depth", F.lit(0))
        )
        rows = expand(seed, step, ["key"], max_depth=2).collect()
        got = {(r["key"], r["node_id"]): r["depth"] for r in rows}
        assert len(rows) == len(got), plan
        assert got == want, plan


def test_round_cap_warns_and_truncates(spark, monkeypatch):
    """Both plans stop at the cap with the same truncated rows; the loop
    raises the ``RuntimeWarning`` in the driver (the broadcast walk runs on a
    worker, which can only write the text to its stderr)."""
    monkeypatch.setattr(frontier, "MAX_ROUNDS", 3)
    chain = [(i, i + 1, 1) for i in range(6)]
    seed = spark.createDataFrame([(0, 0)], "node_id long, depth int")
    for plan in _plans():
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            rows = expand(seed, _step(spark, chain)).collect()
        assert sorted((r["node_id"], r["depth"]) for r in rows) == [
            (0, 0), (1, 1), (2, 2), (3, 3)], plan
        if plan == "loop":
            assert any(issubclass(w.category, RuntimeWarning)
                       and "MAX_ROUNDS=3" in str(w.message) for w in caught)


def test_string_ids_keep_their_types(spark):
    """The type hierarchy walks string names, keyed by a string."""
    seed = spark.createDataFrame([("C", "C", 0), ("B", "B", 0)],
                                 "sub string, node_id string, depth int")
    for plan in _plans():
        step = spark.createDataFrame([("B", "A", 1), ("C", "B", 1)],
                                     "node_id string, next_id string, cost int")
        out = expand(seed, step, ["sub"])
        assert out.dtypes == [("sub", "string"), ("node_id", "string"),
                              ("depth", "int")], plan
        assert sorted(tuple(r) for r in out.collect()) == [
            ("B", "A", 1), ("B", "B", 0), ("C", "A", 2), ("C", "B", 1),
            ("C", "C", 0)], plan


def test_broadcast_walk_is_lazy_and_fetches_once(spark):
    """Under the budget ``expand`` runs one Spark job (the step fetch); a
    second call with the same step frame object runs none; the closure
    itself runs inside the consumer's action."""
    sc = spark.sparkContext
    step = _step(spark, EDGES)
    seed = spark.createDataFrame([(1, 0)], "node_id long, depth int")

    def jobs(group, fn):
        sc.setJobGroup(group, "frontier job count")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    first, n_first = jobs("frontier-expand-1", lambda: expand(seed, step))
    second, n_second = jobs("frontier-expand-2",
                            lambda: expand(seed, step, max_depth=1))
    assert (n_first, n_second) == (1, 0)
    assert {r["node_id"] for r in first.collect()} == {1, 2, 3, 4, 5, 6, 7}
    assert {r["node_id"] for r in second.collect()} == {1, 2, 3, 7}
