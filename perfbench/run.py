"""Repo benchmark: output-checked runs of the CPG pipeline's durable path and
of the query layer (see perfbench/README.md for the workloads and metrics).

    python3 perfbench/run.py --workload persist-500 --seed 0 --seconds 10 --trace 0

Each run starts a fresh Spark session at local[nproc], builds its corpus from
the seed and sets the workload up, then repeats the workload's timed section
until ``--seconds`` have passed (at least once) and checks every pass's output.
The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Every run also
appends a record with the host facts to perfbench/results/runs.jsonl; a
traced run writes its per-layer metrics and span list to
perfbench/results/trace-<workload>-seed<seed>.json.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")
EXPECTED = os.path.join(HERE, "expected.json")

DOCS = 500               # the sf0.001/sf0.01 corpus size (doc_ids 0..499)
SALT_STRIDE = 1_000_000  # seed s > 0 shifts doc_ids by s * SALT_STRIDE
SCAN_PACKS = ["core", "java", "kotlin", "ghidra", "php"]  # 17 queries
PROJECT = "bench"

WORKLOADS = ("persist-500", "scan-17q-500")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be >= 0")
    return args


# ---------------------------------------------------------------------------
# host facts
# ---------------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def memcpy_point() -> float | None:
    """The 4-process memcpy point of tools/hw_calibration.py (copies/s); a
    low value flags a neighbour saturating memory bandwidth."""
    try:
        from tools.hw_calibration import _stream, throughput
    except ImportError:
        return None
    return throughput(4, 1.0, _stream)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# ---------------------------------------------------------------------------
# inputs and output checks
# ---------------------------------------------------------------------------

def corpus(spark, n: int, salt: int):
    """``n`` synthetic docs; salt 0 keeps doc_ids 0..n-1 (the sf0.001 and
    sf0.01 documents tables), any other salt shifts them, so the program
    generates different code from the same templates."""
    from pyspark.sql import functions as F

    from joern_spark.synth import synth_docs

    ids = spark.range(n).select((F.col("id") + salt * SALT_STRIDE).alias("doc_id"))
    docs = synth_docs(ids).persist()
    docs.count()
    return docs


def triples_digest(df) -> dict:
    """Count and order-independent hash of a triples frame; the hash sum is
    a decimal(38,0), since a long sum overflows under ANSI mode."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("subj", "pred", "obj").cast("decimal(38,0)")).alias("h"),
    ).first()
    return {"triples": int(row["n"]), "hash": str(row["h"])}


def findings_digest(rows) -> dict:
    from joern_spark.scan import QUERY_PACKS

    per_pack: dict[str, int] = {}
    h = 0
    for r in rows:
        pack = QUERY_PACKS.get(r["name"], "?")
        per_pack[pack] = per_pack.get(pack, 0) + 1
        key = f"{r['name']}|{r['node_id']}|{r['doc_id']}|{r['code']}"
        h += int(hashlib.md5(key.encode()).hexdigest()[:16], 16)
    return {"findings": len(rows), "per_pack": dict(sorted(per_pack.items())),
            "hash": str(h % (1 << 64))}


def load_expected() -> dict:
    with open(EXPECTED) as f:
        return json.load(f)


def check(workload: str, seed: int, observed: dict, expected: dict) -> list[str]:
    """Problems with one pass's output; empty when it is correct. Seeds with
    pinned values must match them exactly; every seed must be internally
    consistent (checked by the workload before this)."""
    problems = list(observed.pop("inconsistent", []))
    pinned = expected.get(workload, {}).get(str(seed))
    if pinned is None:
        return problems
    for key, want in pinned.items():
        if observed.get(key) != want:
            problems.append(f"{key}: expected {want!r}, got {observed.get(key)!r}")
    return problems


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Persist:
    """run_pipeline(out_dir=fresh dir) over the 500 docs, then the count of
    the committed triples snapshot read back with read_snapshot."""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work = spark, work
        self.n_parts = max(spark.sparkContext.defaultParallelism, 8)
        self._passes = 0
        self.docs = corpus(spark, DOCS, seed)

    def out_dir(self) -> str:
        return os.path.join(self.work, f"out-{self._passes}")

    def one_pass(self) -> int:
        from joern_spark import lineage, pipeline

        self._passes += 1
        out_dir = self.out_dir()
        self.res = pipeline.run_pipeline(self.spark, self.docs, out_dir=out_dir,
                                         n_parts=self.n_parts)
        snap = lineage.read_snapshot(self.spark, out_dir, "triples")
        self.n = snap.count()
        return self.n

    def observe(self) -> dict:
        from joern_spark import lineage

        snap = triples_digest(lineage.read_snapshot(self.spark, self.out_dir(),
                                                    "triples"))
        mem = triples_digest(self.res.triples)
        obs = dict(snap)
        obs["inconsistent"] = [
            f"{what} differs: {a} vs {b}" for what, a, b in [
                ("timed count vs snapshot", self.n, snap["triples"]),
                ("snapshot vs in-memory", snap, mem)] if a != b]
        return obs

    def stored_bytes(self) -> int:
        from layers import dir_bytes

        return dir_bytes(self.out_dir())

    def extras(self) -> dict:
        counts = self.res.stats.get("kind_counts", {})
        return {"docs": DOCS, "methods": counts.get("METHOD", 0),
                "triples": self.n}

    def cleanup(self) -> None:
        shutil.rmtree(self.out_dir(), ignore_errors=True)


class Scan:
    """Workspace.open on a project saved in setup with import_code, then
    run_scan over the timed packs and a collect of the findings."""

    def __init__(self, spark, work: str, seed: int, tracer):
        from joern_spark.workspace import Workspace

        self.spark, self.tracer = spark, tracer
        self.ws = Workspace(os.path.join(work, "workspace"))
        n_parts = max(spark.sparkContext.defaultParallelism, 8)
        docs = corpus(spark, DOCS, seed)
        self.ws.import_code(spark, docs, name=PROJECT, n_parts=n_parts)
        docs.unpersist()
        self.n = self.ws.open(spark, PROJECT).triples.count()

    def one_pass(self, packs=None) -> int:
        """One scan; returns the project's triple count, the size of the
        graph the scan covers."""
        from joern_spark import scan

        res = self.ws.open(self.spark, PROJECT)
        findings = scan.run_scan(res.nodes, res.edges, packs=packs or SCAN_PACKS)
        with self.tracer.span("scan.collect"):
            self.rows = findings.collect()
        self.ws.close(PROJECT)
        return self.n

    def observe(self) -> dict:
        obs = findings_digest(self.rows)
        obs["inconsistent"] = [
            f"{p} findings in a {SCAN_PACKS} scan" for p in obs["per_pack"]
            if p not in SCAN_PACKS]
        return obs

    def stored_bytes(self) -> int:
        from layers import dir_bytes

        return dir_bytes(self.ws.project_dir(PROJECT))

    def extras(self) -> dict:
        return {"findings": len(self.rows)}

    def cleanup(self) -> None:
        pass


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def start_spark(work: str, trace: bool):
    from joern_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temp file of the driver, the JVM and the Python workers
    # inside the run's work dir (the pipeline's ephemeral spill included)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG", None)
    n = nproc()
    return get_spark(app_name="perfbench", cpus=n, shuffle_partitions=n,
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and its Python workers, and
    wait for each to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _children(proc.pid) if proc else []
    # jobs AQE started speculatively may still run; end them before the stop
    sc = spark.sparkContext
    sc.cancelAllJobs()
    deadline = time.time() + 10
    while sc.statusTracker().getActiveJobsIds() and time.time() < deadline:
        time.sleep(0.1)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _children(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(x) for x in f.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


def untraced_median(workload: str) -> float | None:
    path = os.path.join(RESULTS, "runs.jsonl")
    walls = []
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                try:
                    r = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if (r.get("workload") == workload and not r.get("trace")
                        and r.get("correct")):
                    walls.append(r["metrics"]["wall_s"]["value"])
    return statistics.median(walls) if walls else None


def run(args, work: str, host: dict, expected: dict) -> dict:
    """Set up, measure and check one run; returns its record."""
    import layers
    from joern_spark.hostmetrics import (load_avg, steal_fraction,
                                         steal_fraction_probe, tree_cpu_seconds)

    tracer = layers.Tracer()
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        if args.trace:
            tracer.install(spark)
        if args.workload == "persist-500":
            wl = Persist(spark, work, args.seed)
        else:
            wl = Scan(spark, work, args.seed, tracer)
        setup_s = time.perf_counter() - t_setup

        walls, cpus, steals, problems = [], [], [], []
        observed = None
        attempted = failed = 0
        deadline = time.perf_counter() + args.seconds
        while True:
            attempted += 1
            probe = steal_fraction_probe()
            c0 = tree_cpu_seconds()
            t0 = time.perf_counter()
            try:
                if args.trace:
                    with tracer.root_span("timed"):
                        triples = wl.one_pass()
                else:
                    triples = wl.one_pass()
                wall = time.perf_counter() - t0
                cpu = tree_cpu_seconds() - c0
                steals.append(steal_fraction(probe))
                observed = wl.observe()
                bad = check(args.workload, args.seed, observed, expected)
            except Exception:
                traceback.print_exc()
                failed += 1
                problems.append("pass raised")
                break
            if bad:
                failed += 1
                problems.extend(bad)
            walls.append(wall)
            cpus.append(cpu)
            stored = wl.stored_bytes()
            # a traced run traces one pass: its spans hang off one root
            if args.trace or time.perf_counter() >= deadline:
                break
            wl.cleanup()

        wall_s = statistics.median(walls) if walls else 0.0
        metrics = {}
        if walls and not args.trace:
            metrics = {
                "wall_s": (wall_s, "s"),
                "cpu_s": (statistics.median(cpus), "s"),
                "triples_per_s": (triples / wall_s, "1/s"),
                "stored_bytes_per_triple": (stored / triples, "B/triple"),
                "setup_s": (setup_s, "s"),
            }
        extras = wl.extras() if walls else {}
        extras["peak_rss_mb"] = jvm_peak_rss_mb(spark)
        wl.cleanup()
        if args.trace and walls and isinstance(wl, Scan):
            # each timed pack once more on its own, untraced, for its wall
            pack_walls = {}
            for p in SCAN_PACKS:
                t0 = time.perf_counter()
                wl.one_pass([p])
                pack_walls[p] = time.perf_counter() - t0
            extras["pack_walls"] = pack_walls
        host["steal_fraction"] = statistics.median(steals) if steals else None
        host["loadavg_end"] = load_avg()
    finally:
        if spark is not None:
            stop_spark(spark)

    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "time": time.time(), "host": host,
              "attempted": attempted, "failed": failed, "problems": problems,
              "observed": observed, "peak_rss_mb": extras["peak_rss_mb"],
              "correct": failed == 0 and bool(walls),
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()},
              "setup_s": setup_s}
    if args.trace and walls:
        base = untraced_median(args.workload)
        extras["overhead"] = wall_s / base - 1 if base else 0.0
        ev = layers.read_tasks(os.path.join(work, "eventlog"))
        layer, spans = layers.summarize(tracer, ev, extras)
        absent = tracer.absent_metrics()
        if base is None:
            absent.append("trace.overhead")
        record["metrics"] = {k: {"value": layer[k], "unit": u}
                             for k, u in layers.LAYER_METRICS.items()}
        os.makedirs(RESULTS, exist_ok=True)
        with open(os.path.join(
                RESULTS, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "host": host, "untraced_median_wall_s": base,
                       "absent": absent, "absent_hooks": tracer.absent,
                       "metrics": record["metrics"], "spans": spans}, f, indent=1)
    return record


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "joern_spark", "pipeline.py")):
        print(f"perfbench: no joern_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from joern_spark.hostmetrics import load_avg

    host = {"nproc": nproc(), "mem_total_mb": round(mem_total_mb(), 1),
            "loadavg": load_avg(), "memcpy_4proc": memcpy_point()}

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        record = run(args, work, host, load_expected())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    for p in record["problems"]:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({k: record[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
