"""One timed CPG-pipeline run at a given parallelism (scaling evidence).

Usage: python tools/scaling_run.py <cpus> [sf_dir]
Prints one JSON line {"cpus": N, "sec": s, "triples": n, "tps": n/s}.

The BASELINE.json scaling rule (efficiency >= 0.8 from N to 4N executors)
is evidenced in this sandbox by running the same job at local[8] vs
local[32] on identical input (BASELINE.md).
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def main() -> None:
    cpus = int(sys.argv[1])
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    replicate = int(sys.argv[3]) if len(sys.argv) > 3 else 1

    from pyspark.sql import functions as F

    from joern_spark.hostmetrics import tree_cpu_seconds
    from joern_spark.pipeline import run_pipeline
    from joern_spark.session import get_spark
    from joern_spark.synth import synth_docs

    spark = get_spark(app_name=f"scaling_{cpus}", cpus=cpus,
                      shuffle_partitions=cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    documents = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if replicate > 1:
        # amortize fixed stage overhead: scaling is about throughput at
        # cluster-scale input, so replicate the corpus (distinct doc_ids)
        documents = (
            documents.select(F.col("doc_id").cast("string").alias("doc_id"))
            .withColumn("rep", F.explode(F.array(*[F.lit(i) for i in range(replicate)])))
            .select(F.concat("doc_id", F.lit("_"), "rep").alias("doc_id"))
        )
    docs = synth_docs(documents).persist()
    n_docs = docs.count()  # materialize input outside the timed section

    cpu0 = tree_cpu_seconds()
    t0 = time.time()
    res = run_pipeline(spark, docs, n_parts=max(cpus, 8))
    n_triples = res.triples.count()
    sec = time.time() - t0
    cpu = tree_cpu_seconds() - cpu0

    print(json.dumps({
        "cpus": cpus, "sec": round(sec, 2), "docs": n_docs,
        "triples": n_triples, "tps": round(n_triples / sec, 1),
        "cpu_sec": round(cpu, 1), "stages": res.stats,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
