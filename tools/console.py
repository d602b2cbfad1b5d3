"""Interactive joern-style console over the PySpark CPG (SURVEY.md §3.2).

The reference ships an interactive console (`console/src/main/scala/io/joern/
console/Console.scala`, launched by `joern-cli` via scala-repl-pp) that loads
a CPG and exposes `cpg.<starter>` traversal steps plus workspace commands.
This is the Spark twin: build (or resume) the triple factory's output and
drop into a Python REPL with the same objects the Scala console binds:

    cpg    joern_spark.query.Cpg over the nodes/edges frames
           (cpg.method("^flow$").ast_children().l(), cpg.call("malloc")...)
    res    CpgResult — nodes / edges / spans / triples / link_misses frames
           (for a project opened from --workspace, triples and link_misses
           are derived from the stored CPG: a build, not a read)
    spark  the SparkSession
    F      pyspark.sql.functions
    run_scan(res.nodes, res.edges)   joern-scan analog (findings DataFrame)

Usage:
  python tools/console.py                                # fixture corpus REPL
  python tools/console.py --sf-dir /root/testdata/sf0.001
  python tools/console.py --sf-dir DIR --out-dir SNAP    # durable, resumable
  python tools/console.py -c "cpg.method().count()"      # one-shot eval
"""

from __future__ import annotations

import argparse
import code
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

BANNER = r"""joern_spark console — PySpark CPG (reference: joern console, §3.2)
examples:
  cpg.method().count()
  cpg.method("^flow$").ast_children().l()
  cpg.call("free").argument(1).l()
  cpg.flow(sinks=cpg.call("system").argument(1).to_df(),
           sources=cpg.parameter().to_df()).show()
  run_scan(res.nodes, res.edges).show()
objects: cpg, res, spark, F, run_scan   (ctrl-d to exit)"""


def build(sf_dir: str | None = None, out_dir: str | None = None,
          cpus: int = 8, workspace: str | None = None,
          project: str = "default"):
    """Build the session + pipeline objects the console binds.

    With ``workspace``: open ``project`` from the named workspace when it is
    already saved there (a snapshot read of the CPG — no pipeline run, the
    reference's ``open``), else ``importCode`` the corpus into it and save.
    """
    from pyspark.sql import functions as F  # noqa: N812

    from joern_spark.corpus import fixture_docs_df
    from joern_spark.pipeline import run_pipeline
    from joern_spark.query import Cpg
    from joern_spark.scan import run_scan
    from joern_spark.session import get_spark
    from joern_spark.synth import synth_docs

    spark = get_spark(app_name="joern_spark_console", cpus=cpus,
                      shuffle_partitions=cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    ws = None
    if workspace is not None:
        from joern_spark.workspace import Workspace

        ws = Workspace(workspace)
        if any(p["name"] == project for p in ws.projects()):
            res = ws.open(spark, project)
        else:
            res = ws.import_code(
                spark, sf_dir, project,
                n_parts=4 if sf_dir is None else 32)
    else:
        if sf_dir:
            documents = spark.read.parquet(f"{sf_dir}/documents.parquet")
            docs = synth_docs(documents)
        else:
            docs = fixture_docs_df(spark)
        res = run_pipeline(spark, docs, out_dir=out_dir,
                           n_parts=4 if sf_dir is None else 32)
    cpg = Cpg(nodes=res.nodes, edges=res.edges)
    return {"cpg": cpg, "res": res, "spark": spark, "F": F,
            "run_scan": run_scan, "workspace": ws}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default=None,
                    help="documents.parquet dir (default: fixture corpus)")
    ap.add_argument("--out-dir", default=None,
                    help="durable snapshot dir (resumable re-load)")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--workspace", default=None,
                    help="workspace dir: open --project if saved there, "
                         "else importCode + save (console workspace layer)")
    ap.add_argument("--project", default="default",
                    help="project name inside --workspace")
    ap.add_argument("-c", dest="expr", default=None,
                    help="evaluate one expression and exit (no REPL)")
    args = ap.parse_args()

    ns = build(args.sf_dir, args.out_dir, args.cpus,
               workspace=args.workspace, project=args.project)
    if args.expr is not None:
        out = eval(args.expr, ns)  # noqa: S307 — explicit user-supplied REPL input
        if out is not None:
            print(out)
        return
    code.interact(banner=BANNER, local=ns)


if __name__ == "__main__":
    main()
