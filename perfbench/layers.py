"""Per-layer tracing for the traced benchmark run (``--trace 1``).

The program is not edited: the tracer wraps public entry points of the
``joern_spark`` modules (and two PySpark methods they call) from here. Each
wrapper records a span (id, name, parent, thread, start, end, counters) and
sets the calling thread's Spark job description to the span id, so every job
the span submits carries it into the event log (``SPARK_GRAFT_EVENTLOG``, read
by ``session.get_spark``). After the session stops, the event log's task
metrics are summed per span and per layer.

A hook whose target no longer exists is recorded as absent and skipped, so a
later change to the program degrades the trace instead of crashing the run.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

DESC_KEY = "spark.job.description"
TAG = "perfbench-span:"
PACKS = ["core", "c", "java", "kotlin", "android", "ghidra", "php"]

# Every per-layer metric the traced run reports, in BENCHMARK.json order.
# A metric reads 0 on a workload that does not exercise its layer; one whose
# hook target is missing is listed under "absent" in the trace file.
LAYER_METRICS = {
    "ast_pass.wall_s": "s", "ast_pass.task_cpu_s": "s",
    "ast_pass.task_run_s": "s", "ast_pass.us_per_doc": "us",
    "ast_pass.second_parse_wall_s": "s",
    "type_recovery.dicts_wall_s": "s", "type_recovery.dicts_stages": "count",
    "method_kernels.wall_s": "s", "method_kernels.task_cpu_s": "s",
    "method_kernels.task_run_s": "s", "method_kernels.us_per_method": "us",
    "base_passes.checkpoints": "count", "base_passes.checkpoint_wall_s": "s",
    "base_passes.edges_wall_s": "s",
    "callgraph.candidates_wall_s": "s", "callgraph.arbitration_wall_s": "s",
    "callgraph.shuffle_write_mb": "MB",
    "triples.wall_s": "s", "triples.rows": "count",
    "spill.bytes_written": "B", "lineage.wall_s": "s",
    "lineage.task_cpu_s": "s", "lineage.snapshot_wall_s": "s",
    "lineage.bytes_written": "B", "workspace.open_s": "s",
    "scan.build_s": "s", "scan.collect_s": "s",
    **{f"scan.pack.{p}.wall_s": "s" for p in PACKS},
    "scan.findings": "count",
    "dataflow.flow_calls": "count", "dataflow.flow_wall_s": "s",
    "pipeline.driver_idle_s": "s", "pipeline.driver_idle_share": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.gc_s": "s",
    "spark.disk_spill_mb": "MB", "unattributed.task_cpu_s": "s",
    "jvm.peak_rss_mb": "MB",
    "trace.wall_s": "s", "trace.overhead": "ratio",
}

def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _tail(path: str) -> str:
    return "/".join(str(path).rstrip("/").split("/")[-2:])


def _spill_bytes(a, _out):
    return {"bytes": dir_bytes(os.path.join(a["self"].root, a["name"]))}


def _lineage_bytes(a, _out):
    return {"lineage_bytes": dir_bytes(os.path.join(a["out_dir"], "lineage"))}


# "module:Class.method" → (span name from the bound arguments, counters taken
# after the call, the metrics that read these spans). The "pyspark:" targets
# resolve to the classes of a live DataFrame and its writer.
HOOKS = {
    "joern_spark.spill:SpillDir.write": (
        lambda a: f"spill:{a['name']}", _spill_bytes,
        ["method_kernels.wall_s", "method_kernels.task_cpu_s",
         "method_kernels.task_run_s", "method_kernels.us_per_method",
         "base_passes.edges_wall_s", "callgraph.candidates_wall_s",
         "callgraph.arbitration_wall_s", "callgraph.shuffle_write_mb",
         "spill.bytes_written"]),
    "joern_spark.lineage:append_lineage": (
        lambda a: f"lineage.append:{a['stage']}", _lineage_bytes,
        ["ast_pass.second_parse_wall_s", "lineage.wall_s",
         "lineage.task_cpu_s", "lineage.bytes_written"]),
    "joern_spark.lineage:commit_snapshot": (
        lambda a: f"lineage.commit:{a['stage']}", None,
        ["lineage.snapshot_wall_s", "triples.wall_s"]),
    "joern_spark.lineage:read_snapshot": (
        lambda a: f"lineage.read:{a['stage']}", None, []),
    "joern_spark.operators.type_recovery:collect_recovery_dicts": (
        lambda a: "type_recovery.dicts", None,
        ["type_recovery.dicts_wall_s", "type_recovery.dicts_stages"]),
    "joern_spark.workspace:Workspace.open": (
        lambda a: "workspace.open", None, ["workspace.open_s"]),
    "joern_spark.scan:run_scan": (
        lambda a: "scan.run_scan", None, ["scan.build_s"]),
    "joern_spark.dataflow:FlowEngine.flow": (
        lambda a: "dataflow.flow", None,
        ["dataflow.flow_calls", "dataflow.flow_wall_s"]),
    "pyspark:DataFrame.localCheckpoint": (
        lambda a: "localCheckpoint", None,
        ["base_passes.checkpoints", "base_passes.checkpoint_wall_s"]),
    "pyspark:DataFrameWriter.parquet": (
        lambda a: f"parquet:{_tail(a['path'])}", None,
        ["ast_pass.wall_s", "ast_pass.task_cpu_s", "ast_pass.task_run_s",
         "ast_pass.us_per_doc"]),
}


class Tracer:
    """Span recorder. Spans are kept in memory and written out at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.absent: list[str] = []
        self.active = False
        self.root: dict | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    # ---- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield {"counters": {}}
            return
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "thread": threading.get_ident(), "start": time.time(),
               "end": None, "counters": {}}
        stack.append(rec)
        prev = sc.getLocalProperty(DESC_KEY) if sc else None
        if sc:
            sc.setLocalProperty(DESC_KEY, f"{TAG}{rec['id']}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if sc:
                sc.setLocalProperty(DESC_KEY, prev)
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def root_span(self, name: str):
        """The timed section: spans opened in threads with no open span of
        their own (the pipeline's job pool) become its children."""
        self.active = True
        with self.span(name) as rec:
            self.root = rec
            try:
                yield rec
            finally:
                self.root = None
                self.active = False

    # ---- hooks ------------------------------------------------------------
    def hook(self, target: str, owner, attr: str, namer, after=None) -> None:
        orig = getattr(owner, attr, None) if owner is not None else None
        if orig is None:
            self.absent.append(target)
            return
        sig = inspect.signature(orig)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            bound = sig.bind(*args, **kwargs)
            bound.apply_defaults()
            a = bound.arguments
            with tracer.span(namer(a)) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    rec["counters"].update(after(a, out))
                return out

        setattr(owner, attr, wrapper)
        # rebind copies made by `from module import name` in loaded modules
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("joern_spark")
                    and getattr(mod, "__dict__", {}).get(attr) is orig):
                setattr(mod, attr, wrapper)

    def install(self, spark) -> None:
        df = spark.range(1)
        classes = {"DataFrame": type(df), "DataFrameWriter": type(df.write)}
        for target, (namer, after, _metrics) in HOOKS.items():
            module, path = target.split(":")
            *owner_path, attr = path.split(".")
            if module == "pyspark":
                owner = classes[owner_path[0]]
            else:
                try:
                    owner = importlib.import_module(module)
                except ImportError:
                    owner = None
                for part in owner_path:
                    owner = getattr(owner, part, None)
            self.hook(target, owner, attr, namer, after)

    def absent_metrics(self) -> list[str]:
        return sorted({m for t in self.absent for m in HOOKS[t][2]})


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def _event_files(ev_dir: str) -> list[str]:
    files = [f for f in glob.glob(os.path.join(ev_dir, "**", "*"), recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))]

    def order(f):
        base = os.path.basename(f)
        parts = base.split("_")
        idx = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(f), idx)

    return sorted(files, key=order)


def read_tasks(ev_dir: str) -> dict:
    """Jobs, stages and tasks of the event log, with each job's span id."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    for path in _event_files(ev_dir):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(DESC_KEY) or ""
                    span = int(desc[len(TAG):]) if desc.startswith(TAG) else None
                    jobs[ev["Job ID"]] = {"submit": ev.get("Submission Time", 0),
                                          "span": span}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    if si.get("Submission Time"):
                        stages[si["Stage ID"]] = {
                            "submit": si["Submission Time"],
                            "tasks": si.get("Number of Tasks", 0)}
                elif kind == "SparkListenerTaskEnd":
                    ti = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev.get("Stage ID"),
                        "launch": ti.get("Launch Time", 0),
                        "finish": ti.get("Finish Time", 0),
                        "failed": bool(ti.get("Failed")),
                        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                        "run_s": tm.get("Executor Run Time", 0) / 1e3,
                        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                        "spill_mb": tm.get("Disk Bytes Spilled", 0) / 2**20,
                        "shuffle_mb": sw.get("Shuffle Bytes Written", 0) / 2**20,
                    })
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages,
            "tasks": tasks}


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def summarize(tracer: Tracer, ev: dict, extras: dict) -> tuple[dict, list]:
    """Per-layer metrics and the span list (with self time and task sums)
    over the root span's window."""
    root = next(s for s in tracer.spans if s["parent"] is None)
    lo, hi = root["start"] * 1000, root["end"] * 1000
    spans = {s["id"]: s for s in tracer.spans if s["start"] >= root["start"]}
    children: dict[int, list] = {}
    for s in spans.values():
        children.setdefault(s["parent"], []).append(s)
    for s in spans.values():
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        s["wall_s"] = s["end"] - s["start"]
        s["self_s"] = s["wall_s"] - _covered(kids, s["start"], s["end"])
        s.update(cpu_s=0.0, run_s=0.0, shuffle_mb=0.0, stage_ids=set())

    win_jobs = {j for j, d in ev["jobs"].items() if lo <= d["submit"] <= hi}
    win_stages = {sid for sid in ev["stages"]
                  if ev["stage_job"].get(sid) in win_jobs}
    win_tasks = [t for t in ev["tasks"] if lo <= t["launch"] <= hi]
    unattributed = 0.0
    for t in win_tasks:
        job = ev["jobs"].get(ev["stage_job"].get(t["stage"]), {})
        s = spans.get(job.get("span"))
        if s is None:
            unattributed += t["cpu_s"]
            continue
        s["cpu_s"] += t["cpu_s"]
        s["run_s"] += t["run_s"]
        s["shuffle_mb"] += t["shuffle_mb"]
        s["stage_ids"].add(t["stage"])

    def subtree(s) -> list:
        out = [s]
        for c in children.get(s["id"], []):
            out.extend(subtree(c))
        return out

    def total(pred, key="wall_s", inclusive=False) -> float:
        hit = [s for s in spans.values() if pred(s["name"])]
        if not inclusive:
            return sum(s[key] for s in hit)
        return sum(x[key] for s in hit for x in subtree(s))

    def named(n):
        return lambda name: name == n

    def prefix(p):
        return lambda name: name.startswith(p)

    ast = prefix("parquet:ast_rows/") if any(
        s["name"].startswith("parquet:ast_rows/") for s in spans.values()) \
        else named("spill:ast_rows")
    kernel = named("spill:kernel_rows")

    def under_scan(s) -> bool:
        while s is not None:
            if s["name"] == "scan.run_scan":
                return True
            s = spans.get(s["parent"])
        return False

    # the pipeline's vocabulary checkpoints, not the FlowEngine's
    checkpoints = [s for s in spans.values()
                   if s["name"] == "localCheckpoint" and not under_scan(s)]
    dict_spans = [s for s in spans.values() if s["name"] == "type_recovery.dicts"]
    idle = (hi - lo) / 1000 - _covered(
        [(t["launch"] / 1000, t["finish"] / 1000) for t in win_tasks],
        lo / 1000, hi / 1000)
    wall = (hi - lo) / 1000
    docs, methods = extras.get("docs", 0), extras.get("methods", 0)
    ast_wall = total(ast)
    kernel_wall = total(kernel)
    m = {
        "ast_pass.wall_s": ast_wall,
        "ast_pass.task_cpu_s": total(ast, "cpu_s", True),
        "ast_pass.task_run_s": total(ast, "run_s", True),
        "ast_pass.us_per_doc": ast_wall / docs * 1e6 if docs else 0.0,
        "ast_pass.second_parse_wall_s": total(named("lineage.append:ast")),
        "type_recovery.dicts_wall_s": total(named("type_recovery.dicts")),
        "type_recovery.dicts_stages": len(set().union(
            *[x["stage_ids"] for s in dict_spans for x in subtree(s)])
            & win_stages),
        "method_kernels.wall_s": kernel_wall,
        "method_kernels.task_cpu_s": total(kernel, "cpu_s", True),
        "method_kernels.task_run_s": total(kernel, "run_s", True),
        "method_kernels.us_per_method":
            kernel_wall / methods * 1e6 if methods else 0.0,
        "base_passes.checkpoints": len(checkpoints),
        "base_passes.checkpoint_wall_s": sum(s["wall_s"] for s in checkpoints),
        "base_passes.edges_wall_s": total(named("spill:edges_base_norec")),
        "callgraph.candidates_wall_s": total(named("spill:call_candidates")),
        "callgraph.arbitration_wall_s": total(named("spill:edges_call_fa")),
        "callgraph.shuffle_write_mb": total(
            lambda n: n in ("spill:call_candidates", "spill:edges_call_fa"),
            "shuffle_mb", True),
        "triples.wall_s": total(named("lineage.commit:triples")),
        "triples.rows": extras.get("triples", 0),
        "spill.bytes_written": sum(s["counters"].get("bytes", 0)
                                   for s in spans.values()),
        "lineage.wall_s": total(prefix("lineage.append:")),
        "lineage.task_cpu_s": total(prefix("lineage.append:"), "cpu_s", True),
        "lineage.snapshot_wall_s": total(prefix("lineage.commit:")),
        "lineage.bytes_written": max([s["counters"].get("lineage_bytes", 0)
                                      for s in spans.values()] or [0]),
        "workspace.open_s": total(named("workspace.open")),
        "scan.build_s": total(named("scan.run_scan")),
        "scan.collect_s": total(named("scan.collect")),
        **{f"scan.pack.{p}.wall_s": extras.get("pack_walls", {}).get(p, 0.0)
           for p in PACKS},
        "scan.findings": extras.get("findings", 0),
        "dataflow.flow_calls": len([s for s in spans.values()
                                    if s["name"] == "dataflow.flow"]),
        "dataflow.flow_wall_s": total(named("dataflow.flow")),
        "pipeline.driver_idle_s": idle,
        "pipeline.driver_idle_share": idle / wall if wall else 0.0,
        "spark.jobs": len(win_jobs),
        "spark.stages": len(win_stages),
        "spark.tasks": len(win_tasks),
        "spark.failed_tasks": sum(t["failed"] for t in win_tasks),
        "spark.gc_s": sum(t["gc_s"] for t in win_tasks),
        "spark.disk_spill_mb": sum(t["spill_mb"] for t in win_tasks),
        "unattributed.task_cpu_s": unattributed,
        "jvm.peak_rss_mb": extras.get("peak_rss_mb", 0.0),
        "trace.wall_s": wall,
        "trace.overhead": extras.get("overhead", 0.0),
    }
    span_list = [
        {k: (sorted(v) if isinstance(v, set) else v) for k, v in s.items()}
        for s in sorted(spans.values(), key=lambda s: s["start"])
    ]
    return m, span_list
