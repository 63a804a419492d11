"""Tracing from outside the program.

Three sources, all recorded by the benchmark's own code:

- spans: the benchmark times every operation and, when tracing, every call
  into a layer's public function (wrappers installed on the module
  attributes the engine looks up at call time). Spans stay in memory and
  are written out when the run ends.
- Spark job groups: every traced operation runs under its own job group,
  so the event log can be windowed to exactly that operation.
- the Spark event log: each stage is attributed to a layer by the RDD
  operator scopes it contains; task intervals give per-layer busy time and
  the time no task ran.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager

PANDAS_SCOPES = ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                 "MapInPandas", "FlatMapGroupsInArrow", "MapInArrow",
                 "ArrowEvalPython", "BatchEvalPython")
MERGE_SCOPES = ("TakeOrderedAndProject", "HashAggregate",
                "ObjectHashAggregate", "SortAggregate")
SCAN_SCOPES = ("InMemoryTableScan", "Scan parquet")

# exclusive attribution when stages of one operation overlap in time
LAYER_PRIORITY = ["kernel", "scan", "merge", "project", "other"]


def classify_stage(rdd_infos: list[dict]) -> str:
    """Layer of one stage from its RDDs' operator scopes:
    kernel  — a pandas/Arrow UDF operator (the shard kernel, phrase match);
    project — reads the docstats table (payload projection);
    merge   — top-k / aggregate merge;
    scan    — cached or parquet block scan;
    other   — anything else (pure exchanges, AQE shuffle reads)."""
    scopes, names = set(), []
    for r in rdd_infos:
        names.append(r.get("Name", ""))
        sc = r.get("Scope")
        if sc:
            try:
                scopes.add(json.loads(sc).get("name", "").strip())
            except ValueError:
                pass
    if any(s in scopes for s in PANDAS_SCOPES):
        return "kernel"
    # the docstats table is the only one with a sha256 column (file
    # locations in plan strings are truncated, column lists come first)
    if any("FileScan parquet" in n and "sha256#" in n for n in names):
        return "project"
    if any(s in scopes for s in MERGE_SCOPES):
        return "merge"
    if any(s in scopes for s in SCAN_SCOPES):
        return "scan"
    return "other"


def sweep(t0: float, t1: float, tasks: list[tuple[float, float, str]]
          ) -> tuple[dict, float]:
    """Partition the window [t0, t1] (seconds) into per-layer busy time and
    idle time. tasks: (start, end, layer). An instant belongs to the
    highest-priority layer with a running task, or to idle when no task of
    the window runs. Returns ({layer: seconds}, idle_seconds); the layer
    times plus idle sum to t1 - t0."""
    cuts = {t0, t1}
    for s, e, _ in tasks:
        if e > t0 and s < t1:
            cuts.add(max(s, t0))
            cuts.add(min(e, t1))
    pts = sorted(cuts)
    busy = {k: 0.0 for k in LAYER_PRIORITY}
    idle = 0.0
    for a, b in zip(pts, pts[1:]):
        if b <= a:
            continue
        live = {layer for s, e, layer in tasks if s <= a and e >= b}
        for k in LAYER_PRIORITY:
            if k in live:
                busy[k] += b - a
                break
        else:
            idle += b - a
    return busy, idle


class EventLog:
    """Jobs, stages and tasks of one finished application's event log,
    indexed by job group."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*"))
                 if os.path.isfile(f)]
        # rolled logs (eventlog_v2_*/events_*) if rolling was left on
        files += glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
        self.stage_group: dict[int, str] = {}
        self.stage_class: dict[int, str] = {}
        self.stage_span: dict[int, tuple[float, float]] = {}
        self.group_jobs: dict[str, int] = {}
        self.tasks: dict[int, list[dict]] = {}
        for path in sorted(files):
            with open(path) as f:
                for line in f:
                    self._add(json.loads(line))

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                return
            self.group_jobs[group] = self.group_jobs.get(group, 0) + 1
            for st in ev.get("Stage Infos", []):
                sid = st["Stage ID"]
                self.stage_group[sid] = group
                self.stage_class[sid] = classify_stage(st.get("RDD Info", []))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sub, done = info.get("Submission Time"), info.get("Completion Time")
            if sub is not None and done is not None:
                self.stage_span[info["Stage ID"]] = (sub / 1e3, done / 1e3)
        elif kind == "SparkListenerTaskEnd":
            ti = ev["Task Info"]
            acc = {a["Name"]: a.get("Update") for a in ti.get("Accumulables", [])}
            self.tasks.setdefault(ev["Stage ID"], []).append({
                "start": ti["Launch Time"] / 1e3,
                "end": ti["Finish Time"] / 1e3,
                "acc": acc,
            })

    def stages(self, group: str) -> list[int]:
        return sorted(s for s, g in self.stage_group.items()
                      if g == group and s in self.tasks)

    def op_profile(self, group: str, t0: float, t1: float) -> dict:
        """Counts, accumulator sums and the exclusive layer split of one
        operation's window."""
        sids = self.stages(group)
        tasks = [(t["start"], t["end"], self.stage_class[s])
                 for s in sids for t in self.tasks[s]]
        busy, idle = sweep(t0, t1, tasks)
        # Spark's "time to initialize Python workers" task metric is left
        # out: in Spark 4.1 it exceeds the wall time of the task that
        # reports it, so it cannot be read as a share of an operation
        py = {"run": 0.0, "bytes_in": 0.0}
        for s in sids:
            if self.stage_class[s] != "kernel":
                continue
            for t in self.tasks[s]:
                py["run"] += num(t["acc"].get("time to run Python workers")) / 1e3
                py["bytes_in"] += num(t["acc"].get("data sent to Python workers"))
        return {
            "jobs": self.group_jobs.get(group, 0), "stages": len(sids),
            "tasks": len(tasks), "busy": busy, "idle": idle,
            "python": py,
        }

    def group_sums(self, group: str) -> dict:
        """Byte and spill totals of a job group, plus the summed duration
        of its pandas/Arrow stages."""
        out = {"shuffle_bytes": 0.0, "spill_bytes": 0.0, "input_bytes": 0.0,
               "output_bytes": 0.0, "kernel_stage_s": 0.0}
        for s in self.stages(group):
            for t in self.tasks[s]:
                a = t["acc"]
                out["shuffle_bytes"] += num(
                    a.get("internal.metrics.shuffle.write.bytesWritten"))
                out["spill_bytes"] += (
                    num(a.get("internal.metrics.memoryBytesSpilled"))
                    + num(a.get("internal.metrics.diskBytesSpilled")))
                out["input_bytes"] += num(a.get("internal.metrics.input.bytesRead"))
                out["output_bytes"] += num(
                    a.get("internal.metrics.output.bytesWritten"))
            if self.stage_class[s] == "kernel" and s in self.stage_span:
                a, b = self.stage_span[s]
                out["kernel_stage_s"] += b - a
        return out


def num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class Tracer:
    """Spans and job groups. Inactive (the untraced run) it only keeps the
    benchmark's own operation timings and never touches the SparkContext."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.hooks_on = enabled
        self.spans: list[dict] = []
        self.calls: dict[str, list[dict]] = {}
        self._stack: list[int] = []
        self._installed: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "parent": parent, "name": name,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def op(self, group: str, name: str, **attrs):
        """One operation: its own job group when tracing."""
        traced = self.enabled and self.hooks_on
        if traced:
            self.sc.setJobGroup(group, name)
        try:
            with self.span(name, group=group if traced else None,
                           **attrs) as rec:
                yield rec
        finally:
            if traced:
                self.untimed()

    def untimed(self) -> None:
        """Later Spark jobs are benchmark bookkeeping (answer checks)."""
        if self.enabled:
            self.sc.setJobGroup("bench-untimed", "benchmark bookkeeping")

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")

    # -- layer hooks ---------------------------------------------------------

    def hook(self, module, attr: str, layer: str) -> None:
        """Wrap module.attr so each call while hooks are on records a span
        (plan-side duration) and its arguments and result for isolated
        re-runs."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if not tracer.hooks_on:
                return orig(*a, **kw)
            with tracer.span(layer) as rec:
                out = orig(*a, **kw)
            tracer.calls.setdefault(layer, []).append(
                {"args": a, "kwargs": kw, "result": out,
                 "s": rec["end"] - rec["start"]})
            return out

        setattr(module, attr, wrapper)
        self._installed.append((module, attr, orig))

    def unhook(self) -> None:
        for module, attr, orig in reversed(self._installed):
            setattr(module, attr, orig)
        self._installed.clear()


def install_layer_hooks(tracer: Tracer) -> None:
    import liresolr_spark.api as api
    from liresolr_spark.operators import boolean, multiterm, phrase, wand

    tracer.hook(api, "wand_topk", "wand.topk")
    tracer.hook(wand, "wand_topk_many", "wand.topk_many")
    for fn in ("expand_prefix", "expand_wildcard", "expand_fuzzy"):
        tracer.hook(multiterm, fn, "multiterm.expand")
    tracer.hook(boolean, "boolean_restriction", "boolean.restriction")
    tracer.hook(phrase, "phrase_topk", "phrase.topk")
    tracer.hook(phrase, "phrase_topk_many", "phrase.topk_many")


def jvm_pid(spark) -> int | None:
    gw = getattr(type(spark.sparkContext), "_gateway", None)
    proc = getattr(gw, "proc", None)
    return getattr(proc, "pid", None)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver: this Python process plus the
    JVM it started."""
    import resource

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = jvm_pid(spark)
    if pid:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0
