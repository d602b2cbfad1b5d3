"""Broadcast-budget dispatch shared by every dimension join.

The reference links everything through in-memory maps (LinkingUtil.scala's
``methodFullNameToNode`` et al.); the distributed analog is a broadcast
dimension — but an UNCONDITIONAL broadcast dies at 100× corpus scale when the
METHOD/MEMBER dims (incl. stubs) outgrow executor memory. Every dim join in
the repo goes through :func:`budgeted_broadcast`: broadcast when a bounded
count (or the pipeline's precomputed vocabulary-size hint) says the dim fits,
otherwise return the frame unhinted so Catalyst plans a shuffle join — with
AQE skew handling enabled in the session conf, the job degrades instead of
dying.

The pipeline bounds the corpus vocabulary size ONCE per run from one per-kind
node count job: the fused kernel and the vocabulary's stub passes get an
explicit ``fits`` for their dim joins, the linkers get :func:`dim_fits_hint`,
so a pipeline run pays zero extra probe jobs; standalone calls (tests, DSL)
probe per-site with an early-stopping ``limit(budget+1).count()``.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# rows per broadcast dimension (the reference-derived 2M-row dictionary budget)
MAX_BROADCAST_DIM = 2_000_000

_FITS_HINT: bool | None = None


@contextmanager
def dim_fits_hint(fits: bool):
    """Install a run-scoped answer to "do the vocabulary dims fit the
    broadcast budget?" — read by every budgeted_broadcast call in the block
    (including ones on pipeline pool threads, which start inside it)."""
    global _FITS_HINT
    prev = _FITS_HINT
    _FITS_HINT = fits
    try:
        yield
    finally:
        _FITS_HINT = prev


# probe memo: semantically-equal dims recur (the method dim is rebuilt by
# every linker); keyed by the analyzed-plan hash so a probe runs once per
# distinct dim per process. A stale entry can only mis-pick the join
# strategy, never change results.
_PROBE_MEMO: dict[tuple[int, int], bool] = {}
_PROBE_MEMO_MAX = 4096


def budgeted_broadcast(dim: DataFrame, budget: int = MAX_BROADCAST_DIM,
                       fits: bool | None = None) -> DataFrame:
    """``F.broadcast(dim)`` when it fits the budget, else ``dim`` unhinted
    (shuffle join). ``fits=None`` consults the run hint, then falls back to a
    memoized bounded count that stops scanning at ``budget + 1`` rows."""
    if fits is None:
        fits = _FITS_HINT
    if fits is None:
        try:
            key = (dim.semanticHash(), budget)
        except Exception:
            key = None
        if key is not None and key in _PROBE_MEMO:
            fits = _PROBE_MEMO[key]
        else:
            fits = dim.limit(budget + 1).count() <= budget
            if key is not None:
                if len(_PROBE_MEMO) >= _PROBE_MEMO_MAX:
                    _PROBE_MEMO.clear()
                _PROBE_MEMO[key] = fits
    return F.broadcast(dim) if fits else dim
