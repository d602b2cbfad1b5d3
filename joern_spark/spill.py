"""Parquet spill materialization for pipeline stage boundaries.

Why parquet instead of ``localCheckpoint`` for the big barriers: checkpoint
blocks store deserialized wide rows — every downstream consumer re-scans
every column, and at 8→32 cores the block-manager materialization was
measured FLAT (~10-27 s) while a columnar write scales with cores and gives
every consumer column pruning + predicate pushdown for free. On a real
cluster the same boundary is a durable parquet/Iceberg snapshot, so the
sandbox path and the 100 TB path share one shape.

Writes are atomic-by-rename at the directory level: data lands in
``<name>.tmp-<token>`` and is renamed to ``<name>`` only after the write
job completes, so a killed write can never leave a half-visible stage
(SURVEY.md §1.3 snapshot-as-layer; the Iceberg-commit proxy).

A run's stage spills go to its own scratch ``SpillDir()``: a fresh temp dir,
removed at process exit or earlier by ``remove_scratch``, in both run modes,
so no run reads or replaces another run's spills. A durable run writes only
its resumable ast batches to a ``SpillDir(out_dir)``. The rename is an
``os.rename`` on the driver, so on a cluster the scratch, like any root,
must sit on storage every executor shares: point ``TMPDIR`` there.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

_CLEANUP_DIRS: list[str] = []


def _cleanup() -> None:
    for d in _CLEANUP_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup)


def remove_scratch(root: str) -> None:
    """Delete a scratch root now instead of at exit. Every frame that reads
    from it (a result's lazy ``edges``, say) is unreadable afterwards."""
    shutil.rmtree(root, ignore_errors=True)
    if root in _CLEANUP_DIRS:
        _CLEANUP_DIRS.remove(root)


class SpillDir:
    """A directory of atomically renamed parquet writes: ``root``, or without
    it a fresh scratch temp dir that is removed at process exit."""

    def __init__(self, root: str | None = None):
        if root:
            self.root = root
        else:
            self.root = tempfile.mkdtemp(prefix="joern_spark_spill_")
            _CLEANUP_DIRS.append(self.root)

    def write(self, df: DataFrame, name: str, partition_by: str | None = None,
              guard_contiguity: bool = False) -> DataFrame:
        """Write ``df`` to ``<root>/<name>`` (atomic rename) and read it back.

        ``guard_contiguity=True`` asserts no written file exceeds the
        session's ``spark.sql.files.maxPartitionBytes``: the fused kernel
        requires doc-contiguous input, which a read-back preserves only while
        files are never split mid-file (a split partition would silently hand
        the kernel half a document's rows). Violation = raise, not corrupt;
        the fix is a larger ``n_parts``.
        """
        spark = df.sparkSession
        final = os.path.join(self.root, name)
        tmp = os.path.join(self.root, f"{name}.tmp-{uuid.uuid4().hex[:8]}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        if guard_contiguity:
            limit = int(spark.conf.get("spark.sql.files.maxPartitionBytes",
                                       "134217728").rstrip("b"))
            for dirpath, _dirs, files in os.walk(final):
                for f in files:
                    if f.endswith(".parquet"):
                        size = os.path.getsize(os.path.join(dirpath, f))
                        if size > limit:
                            raise ValueError(
                                f"spill file {f} is {size}B > "
                                f"maxPartitionBytes {limit}B: read-back would "
                                "split it and break doc contiguity for the "
                                "fused kernel — raise n_parts")
        return spark.read.parquet(final)

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self.root, name))

    def exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self.root, name))
