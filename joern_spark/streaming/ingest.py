"""Incremental triple-factory ingest: docs stream → CPG triples.

``readStream`` over a docs directory; every micro-batch runs the SAME
in-memory ``run_pipeline`` the batch path uses, appending to the
materialized triples table with per-batch lineage rows, then deleting the
micro-batch's scratch spills. Spark's streaming checkpoint tracks which
input files are consumed (exactly-once per file), so a failed run resumes
at file granularity: a micro-batch that did not commit is run again whole.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession

from ..lineage import append_lineage, clustered_writer
from ..pipeline import run_pipeline
from ..schema import DOCS_SCHEMA
from ..spill import remove_scratch


def stream_triple_factory(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    n_parts: int = 8,
    available_now: bool = True,
):
    """Start (and with ``available_now`` drain) the incremental ingest.

    Returns the StreamingQuery. Triples accumulate under
    ``{out_dir}/triples_stream`` partitioned by part_id, one file per
    part_id per micro-batch; lineage rows are stamped per micro-batch with
    the epoch id in the stage name.
    """
    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(docs_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        t0 = time.time()
        res = run_pipeline(spark, batch_df, n_parts=n_parts)
        try:
            clustered_writer(res.triples, "part_id", "append") \
                .parquet(os.path.join(out_dir, "triples_stream"))
            # triples already carry part_id (build_triples)
            append_lineage(spark, out_dir, res.triples,
                           f"stream_epoch_{epoch_id}", t0)
        finally:
            # the epoch's parse batch and spills: a long-running stream
            # would otherwise keep every epoch's until the process exits
            remove_scratch(res.scratch)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
