"""Broadcast-budget dispatch shared by every dimension join.

The reference links everything through in-memory maps (LinkingUtil.scala's
``methodFullNameToNode`` et al.); the distributed analog is a broadcast
dimension — but an UNCONDITIONAL broadcast dies at 100× corpus scale when the
METHOD/MEMBER dims (incl. stubs) outgrow executor memory. Every pipeline dim
join goes through :func:`budgeted_broadcast` with a ``fits`` decision:
broadcast when the dim fits ``MAX_BROADCAST_DIM`` rows, otherwise return the
frame unhinted so Catalyst plans a shuffle join — with AQE skew handling
enabled in the session conf, the job degrades instead of dying.

``run_pipeline`` makes the decision from exact counts it already has (the
per-kind node counts job and the vocabulary leaf's row count) and passes it
down as an argument, so no join probes its dim. Query-time code outside the
pipeline joins unhinted and leaves the choice to Spark's own size threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# rows per broadcast dimension (the reference-derived 2M-row dictionary budget)
MAX_BROADCAST_DIM = 2_000_000


def budgeted_broadcast(dim: DataFrame, fits: bool) -> DataFrame:
    """``F.broadcast(dim)`` when ``fits``, else ``dim`` unhinted (a shuffle
    join, unless Spark's size threshold broadcasts it anyway)."""
    return F.broadcast(dim) if fits else dim
