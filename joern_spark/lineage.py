"""Per-partition lineage rows and resumable stage manifests.

The reference records layer completion in ``META_DATA.OVERLAYS``
(``semanticcpg/.../Overlays.scala:65-103``) and re-applies layers
idempotently; at cluster scale we instead persist:
- a ``lineage`` table row per (part_id, stage): row count, checksum, duration,
- a JSON manifest per stage: the ast stage's lists its completed part_ids
  (the checkpoint watermark) and batch dirs; a snapshot stage's points at
  its current snapshot and keeps the snapshot log.

Resume = anti-join incoming partitions against the ast manifest: only the
missing part ranges are parsed (north rule: "resumable from checkpoint with
per-partition lineage + metrics"). With Iceberg available these manifests
become snapshot metadata; plain parquet + JSON keeps the same contract in the
sandbox.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F


def manifest_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, "_manifests", f"{stage}.json")


def read_manifest(out_dir: str, stage: str) -> dict | None:
    p = manifest_path(out_dir, stage)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return None


def write_manifest(out_dir: str, stage: str, **fields) -> None:
    """Atomically replace the stage's manifest with ``fields`` (a
    ``os.replace`` flip, so readers see the old or the new one whole)."""
    p = manifest_path(out_dir, stage)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"stage": stage, "complete": True, **fields}, f)
    os.replace(tmp, p)


def clustered_writer(df: DataFrame, partition_by: str | None,
                     mode: str) -> DataFrameWriter:
    """The writer of a table laid out by ``partition_by``: the rows are first
    hash-shuffled on that column, so each value's rows meet in one task and
    land in ONE file of its ``<col>=<value>`` directory, and each task then
    sorts its rows by that column and then by every other column in frame
    order. Written unclustered, every input task would write a file into
    every value's directory (n_tasks × n_values small files, each paying its
    own footer and dictionaries). The sort makes a file's bytes a function
    of its rows alone, not of the order the shuffle fetched them in, and
    puts equal values next to each other for the encoder. The partition
    column must lead the sort: the write plans its own sort by that column
    and replaces any sort it is not a prefix of. Without ``partition_by``
    the frame is written as it is."""
    if not partition_by:
        return df.write.mode(mode)
    rest = [c for c in df.columns if c != partition_by]
    return (df.repartition(partition_by)
            .sortWithinPartitions(partition_by, *rest)
            .write.mode(mode).partitionBy(partition_by))


def commit_snapshot(spark: SparkSession, df: DataFrame, out_dir: str,
                    stage: str, partition_by: str | None = None,
                    keep_snapshots: int = 2) -> DataFrame:
    """Iceberg-style atomic stage commit (snapshot + metadata-pointer flip).

    Data always lands in a FRESH ``<stage>_data/snap-<n>`` directory — never
    an in-place overwrite — and the stage manifest (itself flipped with an
    atomic ``os.replace``) is only updated to point at the new snapshot after
    the parquet write has fully completed. A process killed mid-write leaves
    the previous snapshot untouched and still pointed-to: readers can never
    observe a half-visible stage (Iceberg's snapshot/metadata.json commit
    protocol; the reference's analog is the overlay ledger in
    ``semanticcpg/.../Overlays.scala:65-103``, which is likewise
    append-only-then-flip). Older snapshots beyond ``keep_snapshots`` are
    retired after the flip, so a reader that resolved the previous pointer
    mid-flight still finds its files.

    Layout: with ``partition_by`` the snapshot holds one file per partition
    value, its rows sorted by that column and then by every other column in
    frame order (``clustered_writer``), so the same rows give the same
    bytes whatever order they arrive in; the write runs at most one task per
    value. For the triples table that value is ``part_id``, so ``n_parts``
    sizes both the resume unit and the file. Without it the frame's own
    partitions are written, one file each, in the frame's row order.
    """
    data_root = os.path.join(out_dir, f"{stage}_data")
    prev = read_manifest(out_dir, stage) or {}
    snap = int(prev.get("snapshot", 0)) + 1
    data_dir = os.path.join(data_root, f"snap-{snap:05d}")
    clustered_writer(df, partition_by, "overwrite").parquet(data_dir)
    # snapshot log: Iceberg's metadata.json keeps every committed snapshot's
    # (id, timestamp) even after its data files are expired — that log is
    # what VERSION/TIMESTAMP AS OF resolves against. Same here: the manifest
    # carries the full history; read_snapshot() serves any entry whose data
    # directory is still retained and fails loudly on an expired one.
    log = list(prev.get("snapshots", []))
    log.append({"id": snap, "ts_ms": int(time.time() * 1000),
                "data_dir": data_dir})
    write_manifest(out_dir, stage, snapshot=snap, data_dir=data_dir,
                   snapshots=log)
    for name in sorted(os.listdir(data_root)):
        try:
            n = int(name.rsplit("-", 1)[1])
        except (IndexError, ValueError):
            continue
        if n <= snap - keep_snapshots:
            shutil.rmtree(os.path.join(data_root, name), ignore_errors=True)
    return spark.read.parquet(data_dir)


def read_snapshot(spark: SparkSession, out_dir: str, stage: str,
                  snapshot_id: int | None = None,
                  as_of_ms: int | None = None) -> DataFrame | None:
    """Resolve a stage snapshot via its manifest pointer — optionally back in
    time (Iceberg ``VERSION AS OF`` / ``TIMESTAMP AS OF`` semantics).

    - default: the current snapshot; ``None`` unless a complete one is
      visible (torn writes are invisible: an unflipped ``snap-*`` dir is
      never returned).
    - ``snapshot_id=n``: that exact committed snapshot.
    - ``as_of_ms=t``: the snapshot current at time ``t`` — the latest whose
      commit timestamp is ≤ ``t`` (``None`` if the stage had no snapshot yet
      at ``t``).
    Explicitly requested snapshots whose data directories were retired by
    ``keep_snapshots`` raise ``ValueError`` — an expired read must fail
    loudly, never silently serve the wrong version.
    """
    m = read_manifest(out_dir, stage)
    if not (m and m.get("complete")):
        return None
    if snapshot_id is None and as_of_ms is None:
        if m.get("data_dir") and os.path.isdir(m["data_dir"]):
            return spark.read.parquet(m["data_dir"])
        return None
    log = m.get("snapshots", [])
    if snapshot_id is not None:
        hits = [s for s in log if s["id"] == snapshot_id]
        if not hits:
            raise ValueError(
                f"stage {stage!r} has no snapshot {snapshot_id}; "
                f"log has ids {[s['id'] for s in log]}")
        entry = hits[0]
    else:
        at_or_before = [s for s in log if s["ts_ms"] <= as_of_ms]
        if not at_or_before:
            return None
        entry = max(at_or_before, key=lambda s: s["ts_ms"])
    if not os.path.isdir(entry["data_dir"]):
        raise ValueError(
            f"stage {stage!r} snapshot {entry['id']} has been expired "
            f"(data dir {entry['data_dir']} retired by keep_snapshots); "
            "raise keep_snapshots on commit_snapshot to retain more history")
    return spark.read.parquet(entry["data_dir"])


def snapshot_history(out_dir: str, stage: str) -> list[dict]:
    """The stage's committed-snapshot log (oldest first): one
    ``{id, ts_ms, data_dir}`` row per commit, including expired snapshots
    (Iceberg keeps the full log in metadata; only data files are retired)."""
    m = read_manifest(out_dir, stage) or {}
    return list(m.get("snapshots", []))


def lineage_rows(df: DataFrame, stage: str, duration_ms: int,
                 part_col: str = "part_id") -> DataFrame:
    """One lineage row per partition: counts + order-insensitive checksum."""
    return (
        df.groupBy(F.col(part_col).alias("part_id"))
        .agg(
            F.count("*").alias("rows_out"),
            # order-insensitive sum of row hashes; decimal(38) accumulator —
            # a long sum overflows under ANSI mode
            F.sum(
                F.xxhash64(*[c for c in df.columns if c != part_col])
                .cast("decimal(38,0)")
            ).cast("string").alias("checksum"),
        )
        .select(
            "part_id", F.lit(stage).alias("stage"),
            F.lit(None).cast("long").alias("rows_in"),
            "rows_out", "checksum",
            F.lit(duration_ms).alias("duration_ms"),
            F.lit("ok").alias("status"),
        )
    )


def append_lineage(spark: SparkSession, out_dir: str, df: DataFrame,
                   stage: str, started: float) -> None:
    duration_ms = int((time.time() - started) * 1000)
    rows = lineage_rows(df, stage, duration_ms)
    rows.write.mode("append").parquet(os.path.join(out_dir, "lineage"))
