"""Call-graph construction: static linking, CHA dynamic dispatch, naive fallback.

Reference passes (SURVEY.md §2.A #21-24):
- StaticCallLinker (``x2cpg/.../callgraph/StaticCallLinker.scala:11-47``):
  STATIC_DISPATCH/INLINED calls joined to methods on full_name (+ signature
  when the call carries one). This is the hot join — callee names like
  ``printf``/``malloc`` are heavily skewed, so the METHOD dimension is
  broadcast (map-side join: no shuffle of the skewed fact side at all); if the
  dimension outgrew the broadcast threshold the fallback is AQE skew-join
  (enabled in session conf).
- DynamicCallLinker (``DynamicCallLinker.scala:25-229``): CHA/SAFEDISPATCH —
  resolve each DYNAMIC_DISPATCH call ``T.m`` against every implementor of
  ``m`` in the subclass closure of ``T``, with super-class fallback and
  internal-preferred pruning. The inheritance transitive closure is a
  ``frontier.expand`` over INHERITS_FROM (class-hierarchy depth rounds).
- NaiveCallLinker (``NaiveCallLinker.scala:13-28``): leftover calls by bare
  name (last-resort alias dictionary).

Also emits the ``link_misses`` side output (``LinkingUtil.logFailedDstLookup``
analog) — calls that no linker resolved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dims import budgeted_broadcast
from .frontier import expand


def _method_dim(nodes: DataFrame) -> DataFrame:
    return (
        nodes.filter(F.col("kind") == "METHOD")
        .select(
            F.col("full_name").alias("m_full"),
            F.col("name").alias("m_name"),
            F.col("signature").alias("m_sig"),
            F.col("node_id").alias("m_id"),
            F.col("is_external").alias("m_external"),
        )
    )


def _static_calls(nodes: DataFrame, id_alias: str = "call_id") -> DataFrame:
    """Static-dispatch calls projection — the ONE definition of which calls
    the static linker considers, shared by candidate generation and the
    resolved-membership probe so the naive linker's leftover set can never
    diverge from the static candidate set (round-4 advice)."""
    return nodes.filter(
        (F.col("kind") == "CALL")
        & F.col("dispatch_type").isin("STATIC_DISPATCH", "INLINED")
    ).select(
        F.col("node_id").alias(id_alias),
        F.col("full_name").alias("m_full"),
        F.col("signature").alias("c_sig"),
        "doc_id", "method_id",
    )


def _sig_conjunct():
    """Reference semantics: signature is an extra conjunct only when the
    call carries one (empty/null c_sig matches any method signature)."""
    return (
        (F.col("c_sig").isNull()) | (F.col("c_sig") == "")
        | (F.col("c_sig") == F.col("m_sig"))
    )


def _static_candidates(nodes: DataFrame, fits: bool) -> DataFrame:
    """Static-link candidate rows (src, dst, doc_id, method_id, m_external).

    While the METHOD dim ``fits``, a map-side join with no shuffle of the
    skewed fact side (hot callee names like printf/malloc); otherwise a
    shuffle join whose hot keys AQE's skew-join splits."""
    joined = _static_calls(nodes).join(
        budgeted_broadcast(_method_dim(nodes), fits), "m_full"
    ).filter(_sig_conjunct())
    return joined.select(
        F.col("call_id").alias("src"), F.col("m_id").alias("dst"),
        "doc_id", "method_id", "m_external",
    )


def _static_resolved(nodes: DataFrame, fits: bool) -> DataFrame:
    """Call ids (as ``src``) that the static linker WILL resolve — the same
    join key + signature conjunct as :func:`_static_candidates`, but as a
    left-semi probe against the broadcast METHOD dim: one map-side pass that
    yields one row per resolved call, never the call×methods expansion. Used
    as the anti-join build side for leftover-only naive linking, where only
    set membership matters."""
    calls = (
        _static_calls(nodes, id_alias="src")
        .withColumnRenamed("m_full", "c_full")
        .select("src", "c_full", "c_sig")
    )
    methods = _method_dim(nodes).select("m_full", "m_sig")
    return calls.join(
        budgeted_broadcast(methods, fits),
        (F.col("c_full") == F.col("m_full")) & _sig_conjunct(),
        "left_semi",
    ).select("src")


def method_ref_linker(nodes: DataFrame, *, fits: bool) -> DataFrame:
    """REF edges METHOD_REF → METHOD by method full_name.

    Reference: ``x2cpg/.../base/MethodRefLinker.scala:12-29`` (linkToSingle on
    methodFullNameToNode). The METHOD dim is the same broadcast dictionary the
    static linker uses; METHOD_REF rows are sparse, so this is a cheap
    map-side join at any scale.
    """
    refs = nodes.filter(F.col("kind") == "METHOD_REF").select(
        F.col("node_id").alias("ref_id"),
        F.col("full_name").alias("m_full"),
        "doc_id", "method_id",
    )
    methods = _method_dim(nodes)
    return (
        refs.join(budgeted_broadcast(methods, fits), "m_full")
        .select(
            F.col("ref_id").alias("src"), F.col("m_id").alias("dst"),
            F.lit("REF").alias("kind"), F.lit("").alias("variable"),
            "doc_id", "method_id",
        )
    )


def inheritance_closure(nodes: DataFrame, edges: DataFrame, *,
                        fits: bool) -> DataFrame:
    """Transitive subclass→superclass pairs over INHERITS_FROM.

    Returns (sub, sup) full names, including the reflexive pair.
    ``frontier.expand`` keyed by ``sub``: rounds = class-hierarchy depth,
    which is small even at web scale; each round is an equi-join on the
    closure frontier. The TYPE dim broadcasts when ``fits``.
    """
    decls = nodes.filter(F.col("kind") == "TYPE_DECL").select(
        F.col("node_id").alias("decl_id"), F.col("full_name").alias("decl_full")
    )
    types = nodes.filter(F.col("kind") == "TYPE").select(
        F.col("node_id").alias("type_id"), F.col("full_name").alias("type_full")
    )
    base = (
        edges.filter(F.col("kind") == "INHERITS_FROM")
        .join(decls, F.col("src") == F.col("decl_id"))
        .join(budgeted_broadcast(types, fits), F.col("dst") == F.col("type_id"))
        .select(F.col("decl_full").alias("sub"), F.col("type_full").alias("sup"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    reflexive = decls.select(
        F.col("decl_full").alias("sub"), F.col("decl_full").alias("sup")
    )
    step = base.select(F.col("sub").alias("node_id"), F.col("sup").alias("next_id"),
                       F.lit(1).alias("cost"))
    seed = base.unionByName(reflexive).select(
        "sub", F.col("sup").alias("node_id"), F.lit(0).alias("depth"))
    return expand(seed, step, ["sub"]).select("sub", F.col("node_id").alias("sup"))


def _dynamic_candidates(nodes: DataFrame, edges: DataFrame,
                        fits: bool) -> DataFrame:
    """CHA candidate set for DYNAMIC_DISPATCH calls: (src, dst, doc_id,
    method_id, m_external) distinct rows, NO internal-preference pruning;
    empty when the corpus has no dynamic dispatch (C-only inputs)."""
    calls = nodes.filter(
        (F.col("kind") == "CALL") & (F.col("dispatch_type") == "DYNAMIC_DISPATCH")
        & F.col("full_name").contains(".")
    ).select(
        F.col("node_id").alias("call_id"),
        F.col("full_name").alias("c_full"),
        F.col("name").alias("c_name"),
        "doc_id", "method_id",
        F.expr("substring_index(full_name, '.', 1)").alias("recv_type"),
    )
    methods = _method_dim(nodes).withColumn(
        "m_class", F.expr("substring_index(m_full, '.', 1)")
    )
    closure = inheritance_closure(nodes, edges, fits=fits)

    # subclass closure: recv_type → every sub where sub inherits recv
    subclasses = closure.select(
        F.col("sup").alias("recv_type"), F.col("sub").alias("impl_class")
    )
    down = (
        calls.join(budgeted_broadcast(subclasses, fits), "recv_type")
        .join(
            budgeted_broadcast(methods, fits),
            (F.col("impl_class") == F.col("m_class"))
            & (F.col("c_name") == F.col("m_name")),
        )
    )
    # superclass fallback for calls with no downward candidates
    resolved_ids = down.select("call_id").distinct()
    supers = closure.select(
        F.col("sub").alias("recv_type"), F.col("sup").alias("impl_class")
    )
    up = (
        calls.join(resolved_ids, "call_id", "left_anti")
        .join(budgeted_broadcast(supers, fits), "recv_type")
        .join(
            budgeted_broadcast(methods, fits),
            (F.col("impl_class") == F.col("m_class"))
            & (F.col("c_name") == F.col("m_name")),
        )
    )
    return (
        down.unionByName(up)
        .select(F.col("call_id").alias("src"), F.col("m_id").alias("dst"),
                "doc_id", "method_id", "m_external")
        .distinct()
    )


def _naive_candidates(nodes: DataFrame, resolved: DataFrame,
                      fits: bool) -> DataFrame:
    """Bare-name candidates for non-operator calls that ``resolved`` does not
    list.

    ``resolved`` (a frame of already-linked ``src`` call ids) is anti-joined
    BEFORE the name join: bare-name matching is cross-document quadratic per
    name (a method called ``run`` defined in k documents and called in k
    documents yields k² rows), so generating candidates for calls that
    static/CHA already resolved — rows the arbitration provably never keeps
    (their ``f_r01`` flag is 1) — costs quadratic work to produce garbage.
    The reference's NaiveCallLinker has the same shape: it runs on *leftover*
    calls only (``NaiveCallLinker.scala:13-28``)."""
    calls = nodes.filter(
        (F.col("kind") == "CALL") & ~F.col("name").startswith("<operator>")
    ).select(
        F.col("node_id").alias("call_id"), F.col("name").alias("m_name"),
        "doc_id", "method_id",
    ).join(resolved.select(F.col("src").alias("call_id")), "call_id",
           "left_anti")
    methods = _method_dim(nodes).filter(~F.col("m_name").startswith("<operator>"))
    return calls.join(budgeted_broadcast(methods, fits), "m_name").select(
        F.col("call_id").alias("src"), F.col("m_id").alias("dst"),
        "doc_id", "method_id", "m_external",
    )


def _rank(df: DataFrame, r: int) -> DataFrame:
    """Candidate rows tagged with their linker's arbitration rank."""
    return df.select("src", "dst", "doc_id", "method_id", "m_external",
                     F.lit(r).alias("rank"))


def candidate_pool(nodes: DataFrame, edges: DataFrame, *, fits: bool,
                   barrier: bool = False) -> DataFrame:
    """The kernel-independent candidate ranks (static=0, CHA=1, naive=3) as
    one frame — the pipeline materializes this concurrently with the fused
    kernel (whose output only the rank-2 hint candidates need), hiding the
    linkers' many small join stages behind the kernel's long Python stage.

    Pre-arbitration pruning (semantics-neutral): naive rows for calls that
    static/CHA already resolved — rows the final arbitration can NEVER keep,
    since its rank-3 keep condition requires f_r01 == 0 — are never
    generated. Bare-name naive matches are cross-document quadratic per
    name, so for a mostly-statically-resolved corpus this removes the bulk
    of the spill; the arbitration in :func:`link_calls` re-derives its flags
    over the pruned pool and keeps row-for-row identical output (a pruned
    naive row's src has f_r01 == 1, killing every rank-3 branch). CHA
    external stubs stay in the pool: :func:`link_calls` drops them when the
    call has an internal CHA candidate or a hint link. Every dim join
    broadcasts when ``fits``."""
    dyn = _dynamic_candidates(nodes, edges, fits)
    # The naive anti-join only needs set MEMBERSHIP of resolved call ids, not
    # the candidate rows — so the build side is a broadcast SEMI-join probe
    # (calls that match any method on the static key), never the full
    # static×methods expansion. The old shape eagerly checkpointed the whole
    # static∪CHA candidate frame (6 columns incl. doc_id strings) just to
    # reuse it as the anti-join build; on the bandwidth-walled host (and on
    # any real executor) that full-width materialization IS the cost — the
    # semi probe re-reads only the checkpointed vocabulary leaf map-side.
    # CHA is the one subtree whose re-evaluation is non-trivial (its
    # super-fallback branch already evaluates its down-branch twice), so at
    # corpus scale (caller passes barrier=True on CALL count) the CHA
    # candidate frame — a small fraction of all calls — is checkpointed
    # narrow instead of the whole pool.
    if barrier:
        dyn = dyn.localCheckpoint(eager=True)
    resolved = _static_resolved(nodes, fits).unionByName(dyn.select("src"))
    cand = _rank(_static_candidates(nodes, fits), 0) \
        .unionByName(_rank(dyn, 1))
    # leftover-only naive: anti-join the static/CHA-resolved call ids before
    # the quadratic name join (the k²-per-name rows the arbitration would
    # drop anyway are never produced; NaiveCallLinker.scala:13-28 leftover
    # semantics). Every rank-3 row in the pool is then already
    # arbitration-keepable on the f_r01 axis; the final arbitration in
    # :func:`link_calls` drops the (bounded) CHA-external leftovers in its
    # single pass.
    return cand.unionByName(_rank(_naive_candidates(nodes, resolved, fits), 3))


def link_calls(nodes: DataFrame, edges: DataFrame, recovered: DataFrame,
               pre_candidates: DataFrame, *, fits: bool) -> DataFrame:
    """All four call linkers in ONE pass: the :func:`candidate_pool` ranks
    (``pre_candidates``) plus the type-hint candidates from ``recovered``
    (no anti-joins) arbitrated by one per-call flag aggregate.

    Physically this replaces the linker chain's anti-join cascade — where
    each stage's "still unlinked?" probe re-evaluated every upstream linker,
    and the final materialization re-evaluated the whole chain again (the
    round-2 profile's anti-scaling edges stage) — with one candidate union
    and one shuffle by call id. Semantics are row-for-row identical to the
    sequential chain (asserted by
    tests/test_dims.py::test_link_calls_matches_sequential_chain): per call,

    - static/CHA candidates always link (CHA externals pruned when the call
      has an internal CHA candidate or a recovered-hint link);
    - hint candidates link iff no internal static/CHA method resolved the
      call (``XTypeHintCallLinker.calls`` emptiness condition);
    - naive candidates link iff nothing else linked the call, external stubs
      pruned when an internal bare-name match exists
      (``DynamicCallLinker.scala:187-196`` pruning applied across linkers).
    """
    from .type_recovery import _hint_candidates

    cand = pre_candidates.unionByName(
        _rank(_hint_candidates(nodes, edges, recovered, fits), 2))

    # per-call flags as a map-side-combined aggregate joined back, NOT a
    # window: a Window(partitionBy src) would shuffle + sort the full
    # candidate union and buffer every src group (and five chained
    # withColumns plan five separate Window operators — measured 9x task-CPU
    # inflation at 32 cores from the per-group buffer churn). The aggregate
    # shrinks to one row per call before its (tiny) shuffle, and AQE
    # broadcasts it back over the un-shuffled candidates; when calls outgrow
    # the broadcast threshold at 100x scale it degrades to a shuffle join —
    # exactly the exchange the window needed anyway, minus the sort.
    flag = lambda c, n: F.max(F.when(c, 1).otherwise(0)).alias(n)  # noqa: E731
    flags = cand.groupBy("src").agg(
        flag(F.col("rank") <= 1, "f_r01"),
        flag((F.col("rank") <= 1) & ~F.col("m_external"), "f_r01_int"),
        flag((F.col("rank") == 1) & ~F.col("m_external"), "f_dyn_int"),
        flag(F.col("rank") == 2, "f_hint"),
        flag((F.col("rank") == 3) & ~F.col("m_external"), "f_naive_int"),
    )
    cand = cand.join(flags, "src")
    hint_kept = (F.col("f_hint") == 1) & (F.col("f_r01_int") == 0)
    keep = (
        # static: always (the sequential chain never prunes static edges)
        (F.col("rank") == 0)
        # CHA internal: always; CHA external: only if no internal CHA
        # candidate and no hint link supersedes it
        | ((F.col("rank") == 1) & (~F.col("m_external")
           | ((F.col("f_dyn_int") == 0) & ~hint_kept)))
        # hint: iff no internal static/CHA resolution
        | ((F.col("rank") == 2) & (F.col("f_r01_int") == 0))
        # naive: iff the call is otherwise unlinked; externals pruned when an
        # internal bare-name candidate exists
        | ((F.col("rank") == 3) & (F.col("f_r01") == 0) & ~hint_kept
           & (~F.col("m_external") | (F.col("f_naive_int") == 0)))
    )
    return cand.filter(keep).select(
        "src", "dst", F.lit("CALL").alias("kind"), F.lit("").alias("variable"),
        "doc_id", "method_id",
    )


def link_misses(nodes: DataFrame, call_edges: DataFrame) -> DataFrame:
    """Side output: calls that no linker resolved (LinkingUtil.scala:142-154)."""
    calls = nodes.filter(F.col("kind") == "CALL").select(
        F.col("node_id").alias("call_id"), "name", "full_name", "doc_id"
    )
    return calls.join(
        call_edges.select(F.col("src").alias("call_id")).distinct(),
        "call_id", "left_anti",
    )
