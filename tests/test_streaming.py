"""Structured Streaming tests: incremental ingest parity with batch,
watermarked windows, stateful sessionization vs its batch oracle."""

import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from joern_spark.corpus import docs_df, fixture_docs
from joern_spark.pipeline import run_pipeline
from joern_spark.streaming import (
    sessionize_stream,
    stream_triple_factory,
    windowed_event_counts,
)
from joern_spark.streaming.events import sessionize_batch

SF_DIR = "/root/testdata/sf0.001"


def _await_rows(q, n_rows: int, timeout: float = 180) -> None:
    """Block until the query's committed micro-batches have read ``n_rows``
    input rows. A stateful query that times its state out in processing
    time never ends under ``availableNow``: it keeps running state-cleanup
    batches, so waiting for termination only waits out the timeout."""
    read: dict = {}
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        for p in q.recentProgress:
            read[p["batchId"]] = p["numInputRows"]
        if sum(read.values()) >= n_rows:
            return
        if q.exception() is not None:
            raise q.exception()
        time.sleep(0.2)
    raise AssertionError(f"query read {sum(read.values())} of {n_rows} rows "
                         f"in {timeout} s")


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    docs_dir, out_dir = str(root / "docs"), str(root / "out")
    os.makedirs(docs_dir)
    yield docs_dir, out_dir
    shutil.rmtree(root, ignore_errors=True)


def test_incremental_ingest_matches_batch(spark, stream_dirs):
    docs_dir, out_dir = stream_dirs
    all_docs = fixture_docs()
    # two arriving files → two micro-batches worth of input
    docs_df(spark, all_docs[:4]).write.mode("append").parquet(docs_dir)
    docs_df(spark, all_docs[4:]).write.mode("append").parquet(docs_dir)

    def spill_dirs():
        return {d for d in os.listdir(tempfile.gettempdir())
                if d.startswith("joern_spark_spill_")}

    before = spill_dirs()
    q = stream_triple_factory(spark, docs_dir, out_dir, n_parts=4)
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    # every micro-batch deleted its run's scratch spills
    assert spill_dirs() <= before

    streamed = spark.read.parquet(f"{out_dir}/triples_stream")
    batch = run_pipeline(spark, docs_df(spark, all_docs), n_parts=4).triples
    s = {tuple(r) for r in streamed.select("subj", "pred", "obj").collect()}
    b = {tuple(r) for r in batch.select("subj", "pred", "obj").collect()}
    assert s == b
    # each micro-batch writes one file per part_id it holds
    epochs = (spark.read.parquet(f"{out_dir}/lineage")
              .filter(F.col("stage").startswith("stream_epoch_"))
              .select("stage").distinct().count())
    files = [f for _p, _d, fs in os.walk(f"{out_dir}/triples_stream")
             for f in fs if f.endswith(".parquet")]
    assert 0 < len(files) <= 4 * epochs

    # restart with no new files → no duplicate work, no new rows
    n_before = streamed.count()
    q2 = stream_triple_factory(spark, docs_dir, out_dir, n_parts=4)
    try:
        q2.awaitTermination(300)
    finally:
        q2.stop()
    assert spark.read.parquet(f"{out_dir}/triples_stream").count() == n_before


def test_windowed_counts_batch_parity(spark):
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = windowed_event_counts(events)
    # same rollup expressed directly
    want = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    g = {(r["window_start"], r["event_type"]): r["n_events"] for r in got.collect()}
    w = {(r["window_start"], r["event_type"]): r["n_events"] for r in want.collect()}
    assert g == w


def test_windowed_counts_streaming_with_watermark(spark, tmp_path):
    src = str(tmp_path / "events_src")
    spark.read.parquet(f"{SF_DIR}/events.parquet").limit(500).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.format("memory").queryName("wincounts")
        .outputMode("append").trigger(availableNow=True).start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    # append mode emits only watermark-closed windows; with a finite input
    # the final windows stay open — assert the query ran and schema is right
    out = spark.sql("select * from wincounts")
    assert set(out.columns) == {
        "window_start", "window_end", "event_type", "n_events", "total_value_bp"
    }


def test_sessionize_stream_matches_batch_oracle(spark, tmp_path):
    src = str(tmp_path / "events_sess")
    events = spark.read.parquet(f"{SF_DIR}/events.parquet").filter(F.col("user_id") < 20)
    # one file → one micro-batch: the stateful kernel sorts within a batch
    # but (like the reference's watermark assumptions) expects batches to
    # arrive in event-time order
    events.select("user_id", "ts", "value").coalesce(1).write.parquet(src)

    written = spark.read.parquet(src)
    stream = spark.readStream.schema(written.schema).parquet(src)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory").queryName("sessions")
        .outputMode("append").trigger(availableNow=True).start()
    )
    try:
        _await_rows(q, written.count())
    finally:
        q.stop()
    got = spark.sql("select * from sessions")

    want = sessionize_batch(events)
    # closed sessions emitted by the stream must match the batch oracle
    # (the final open session per user is retained in state, not emitted)
    w = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in want.collect()
    }
    g = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in got.collect()
    }
    assert g <= w, f"stream emitted sessions not in oracle: {list(g - w)[:3]}"
    # most sessions close (the driver data spans days); expect real coverage
    assert len(g) >= len(w) - 20
