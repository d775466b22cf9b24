"""Per-layer tracing from outside the package.

Nothing here edits the package: spans come from wrapping public
functions for the duration of a traced window, engine counters are read
through py4j, and execution figures come from Spark's own event log,
summarised after the session stops. Every wrapper tags the Spark jobs it
starts with a job description (``perfbench op=<n> span=<name>``), so the
event log attributes each stage to the operation and span that caused it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict

PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """In-memory spans for one traced window; written out when the run ends."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple] = []
        self.op = None
        # per-op counters read at layer boundaries: {op: {name: value}}
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    # -- spans ------------------------------------------------------------
    def _describe(self, name: str) -> None:
        self.spark.sparkContext.setJobDescription(f"perfbench op={self.op} span={name}")

    def start_op(self, op: int, key: str) -> None:
        self.op = op
        self._stack = [{"name": key, "op": op, "parent": None, "depth": 0,
                        "start": time.perf_counter()}]
        self._describe("op")

    def end_op(self) -> None:
        root = self._stack.pop()
        root["end"] = time.perf_counter()
        self.spans.append(root)
        self.spark.sparkContext.setJobDescription(None)
        self.op = None

    def add(self, name: str, value: float) -> None:
        """Add ``value`` to counter ``name`` of the running op."""
        self.counts[self.op][name] += value

    def wrap(self, name: str, fn, on_call=None):
        """``fn`` recorded as a child span of the current span while an op runs.

        ``on_call(args, kwargs)`` runs inside the span, before ``fn``, when
        the op itself made the call (not when another wrapped call did).
        """
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.op is None:
                return fn(*args, **kwargs)
            span = {"name": name, "op": tracer.op, "parent": tracer._stack[-1]["name"],
                    "depth": len(tracer._stack), "start": time.perf_counter()}
            tracer._stack.append(span)
            tracer._describe(name)
            try:
                if on_call is not None and span["depth"] == 1:
                    on_call(args, kwargs)
                return fn(*args, **kwargs)
            finally:
                span["end"] = time.perf_counter()
                tracer._stack.pop()
                tracer.spans.append(span)
                tracer._describe(tracer._stack[-1]["name"] if len(tracer._stack) > 1 else "op")

        return traced

    def patch(self, owner, attr: str, name: str | None = None, on_call=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper until :meth:`unpatch`."""
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self.wrap(name or attr, original, on_call))

    def patch_function(self, fn, name: str | None = None, on_call=None) -> None:
        """Wrap ``fn`` in every loaded package module that imported it by name."""
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("navigator_data_ingest_spark")
                    and getattr(mod, fn.__name__, None) is fn):
                self.patch(mod, fn.__name__, name or fn.__name__, on_call)

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def durations(self, name: str, top_level: bool = False) -> dict[int, float]:
        """Total duration per op of the spans called ``name``.

        ``top_level`` keeps only spans called directly by the op, so a
        writer call nested inside a wrapped sink function is not counted twice.
        """
        out: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == name and (not top_level or s["depth"] == 1):
                out[s["op"]] += s["end"] - s["start"]
        return out

    def build_s(self) -> dict[int, float]:
        """Per op, the time before its first executing span (sink, count or
        forced planning): the Python/py4j plan build, with any jobs it starts."""
        roots = {s["op"]: s for s in self.spans if s["depth"] == 0}
        out = {}
        for op, root in roots.items():
            first = min((s["start"] for s in self.spans if s["op"] == op
                         and s["name"] in ("sink", "count", "catalyst")), default=root["end"])
            out[op] = first - root["start"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- engine counters read through py4j ------------------------------------
def catalyst_phases_ms(df) -> dict[str, float]:
    """Force planning of ``df`` and read its analysis/optimization/planning times."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {p: float(phases.apply(p).durationMs()) if phases.contains(p) else 0.0
            for p in PHASES}


class CodegenCounter:
    """Delta of the driver JVM's codegen compilation-time histogram."""

    def __init__(self, spark):
        self._hist = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                      .CodegenMetrics.METRIC_COMPILATION_TIME())
        self._count, self._sum = self._read()

    def _read(self) -> tuple[int, float]:
        snap = self._hist.getSnapshot()
        return int(self._hist.getCount()), float(sum(snap.getValues()))

    def delta(self) -> tuple[int, float]:
        """(compilations, compile ms) since construction.

        The histogram keeps every sample until it holds 1028; past that
        the time is estimated from the count and the reservoir mean.
        """
        count, total = self._read()
        n = count - self._count
        if count <= 1028:
            return n, total - self._sum
        return n, n * float(self._hist.getSnapshot().getMean())


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the gateway process) in MiB."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# -- event log ------------------------------------------------------------
def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def summarise_event_log(log_dir: str) -> dict:
    """Jobs, stages and task figures per traced op from the event logs in ``log_dir``.

    Only jobs whose description starts with ``perfbench op=`` count.
    Returns ``{"ops": {op: figures}, "span_jobs": {op: {span: jobs}}}``.
    """
    jobs, stage_job, stage_tasks = {}, {}, defaultdict(list)
    # Spark 4 writes each application's log as a directory of rolled files
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    if not desc.startswith("perfbench op="):
                        continue
                    op, span = desc[len("perfbench op="):].split(" span=")
                    jobs[ev["Job ID"]] = {"op": int(op), "span": span,
                                          "start": ev["Submission Time"], "end": None}
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    stage_tasks[(ev["Stage ID"], ev["Stage Attempt ID"])].append({
                        "task_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    ops: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    span_jobs: dict[int, dict] = defaultdict(lambda: defaultdict(int))
    intervals: dict[int, list] = defaultdict(list)
    for job in jobs.values():
        ops[job["op"]]["jobs"] += 1
        span_jobs[job["op"]][job["span"]] += 1
        if job["end"] is not None:
            intervals[job["op"]].append((job["start"], job["end"]))
    for (sid, _attempt), tasks in stage_tasks.items():
        job = jobs[stage_job[sid]]
        fig = ops[job["op"]]
        fig["stages"] += 1
        fig["tasks"] += len(tasks)
        input_bytes = sum(t["input_bytes"] for t in tasks)
        task_s = sum(t["task_s"] for t in tasks)
        if input_bytes:
            fig["input_scans"] += 1
            fig["input_task_s"] += task_s
        for k in ("input_bytes", "output_bytes", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            fig[k] += sum(t[k] for t in tasks)
        fig["task_s"] += task_s
    for op, ivs in intervals.items():
        busy, end = 0.0, None
        for s, e in sorted(ivs):
            if end is None or s > end:
                busy += e - s
                end = e
            elif e > end:
                busy += e - end
                end = e
        ops[op]["exec_s"] = busy / 1000.0
    return {"ops": ops, "span_jobs": span_jobs}
