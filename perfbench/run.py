#!/usr/bin/env python3
"""Repository benchmark: one command, closed loop, one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (BENCHMARK.json says why each exists):

* ``ingest_batch``: ``main.run_batch`` on a sequence of distinct
  PipelineUpdates files generated from the seed;
* ``headline_sf0.001``: the pinned core headliners over the repository's
  sf0.001 test tables (copied into ``perfbench/data``), noop sink, in an
  order shuffled by the seed. ``headline_sf0.1`` is the same over the
  sf0.1 tables, whose directory ``--data`` names; it is not in
  BENCHMARK.json.

A run sets the session up several times (``setup_s`` is the median),
checks every output outside the timed region, and runs whole passes over
the workload's operations until they have taken ``--seconds``. With
``--trace 1`` a second, traced window follows and the per-layer metrics
are reported instead. Each metric is printed on its own short line; the
last line is the JSON result. The run writes only under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_batch", "headline_sf0.1", "headline_sf0.001")


def _configure_environment(work: str, trace: bool) -> None:
    """Point every scratch location of Python, the JVM and Spark into ``work``."""
    from layers import event_log_conf
    from workloads import CORES, DRIVER_MEMORY

    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(event_log_conf(os.path.join(work, "events")))
    args = ["--driver-java-options",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            f" -Dderby.system.home={os.path.join(work, 'derby')}"
            " -XX:-UsePerfData"]  # no /tmp/hsperfdata_* files
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _make_workload(name: str, seed: int, work: str, data: str | None):
    from workloads import HEADLINE_CORE, HEADLINE_DATA, INGEST

    if name == "ingest_batch":
        from ingest import Ingest

        return Ingest(INGEST, seed, work)
    from headline import Headline

    data = data or HEADLINE_DATA[name]
    if data is None or not os.path.isfile(os.path.join(data, "lineitem.parquet")):
        raise SystemExit(f"perfbench: {name} needs --data, a directory of its tables")
    return Headline(HEADLINE_CORE, data, seed)


def _set_up(workload, repeats: int):
    """Start the session and warm it ``repeats`` times; the first launches the JVM.

    The workload prepares its first inputs on a second thread during the
    first set-up, which mostly waits on the JVM launch; the later
    set-ups run alone. ``setup_s`` is the median of all of them.
    Returns (session, get_spark seconds, set-up seconds) per set-up.
    """
    from workloads import MASTER

    from navigator_data_ingest_spark.session import get_spark

    prep_error = []

    def prepare():
        try:
            workload.prepare()
        except Exception as e:  # re-raised on the main thread below
            prep_error.append(e)

    prep = threading.Thread(target=prepare)
    prep.start()
    spark, starts, totals = None, [], []
    for i in range(repeats):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=MASTER)
        spark.sparkContext.setLogLevel("ERROR")
        starts.append(time.perf_counter() - t0)
        workload.warm_up(spark)
        totals.append(time.perf_counter() - t0)
        if i == 0:
            prep.join()
            if prep_error:
                raise prep_error[0]
    return spark, starts, totals


def _cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def _window(spark, workload, passes, seconds: float, tracer=None):
    """Whole passes until the operations have taken ``seconds`` in all:
    [(op, label, seconds or None)]. The work a pass does between
    operations (writing inputs, checking outputs) is not counted."""
    ops, spent = [], 0.0
    for order in passes:
        for label, arg in order:
            op = len(ops)
            if tracer is not None:
                tracer.start_op(op, label)
            t0 = time.perf_counter()
            try:
                workload.run(spark, arg, tracer)
                ok = True
            except Exception as e:  # counted in fail_ratio; the loop goes on
                print(f"perfbench: {label} failed: {type(e).__name__}: {e}", file=sys.stderr)
                ok = False
            finally:
                if tracer is not None:
                    tracer.end_op()
            dt = time.perf_counter() - t0
            spent += dt
            ops.append((op, label, dt if ok else None))
        if spent >= seconds:
            break
    return ops


def _per_pass(ops, figure=lambda op, dt: dt, stat=statistics.median) -> float:
    """Sum over a pass's distinct operations of ``stat`` of ``figure``.

    With the defaults this is one pass's run time: the headline total of
    the pinned queries, or one batch.
    """
    by_key = defaultdict(list)
    for op, key, dt in ops:
        if dt is not None:
            by_key[key].append(figure(op, dt))
    return sum(stat(v) for v in by_key.values())


def _tail(samples: list[float]) -> dict[str, tuple[float, str]]:
    """The highest whole percentile above the median with at least ten
    samples beyond it, as {"query_pNN_s": ...}; empty with too few samples."""
    n = len(samples)
    pct = next((p for p in range(99, 50, -1) if n - 1 - (n - 1) * p // 100 >= 10), None)
    if pct is None:
        return {}
    return {f"query_p{pct}_s": (sorted(samples)[(n - 1) * pct // 100], "s")}


def _per_layer(workload, tracer, traced, summary, starts, peak_rss, overhead):
    """Per-layer figures of the traced window, each the sum over a pass of
    the per-operation mean."""
    from workloads import CORES

    counts = tracer.counts
    ev = summary["ops"]
    span_jobs = summary["span_jobs"]
    build_s = tracer.build_s()
    durations = {name: tracer.durations(name, top_level=name != "source")
                 for name in ("source", "sink", "count")}

    def pp(get):
        # means, not medians: several layer figures are whole counts or
        # whole milliseconds per operation
        return _per_pass(traced, lambda op, dt: get(op), statistics.fmean)

    def counter(name):
        return pp(lambda op: counts[op].get(name, 0.0))

    def exec_fig(name):
        return pp(lambda op: ev.get(op, {}).get(name, 0.0))

    run_s = _per_pass(traced)

    def share(seconds):
        return seconds / run_s if run_s else 0.0  # no traced operation succeeded

    exec_s, task_s = exec_fig("exec_s"), exec_fig("task_s")
    return {
        "session.start_s": (statistics.median(starts[1:]), "s"),
        "session.cold_start_s": (starts[0], "s"),
        "session.jvm_peak_rss_mb": (peak_rss, "MiB"),
        "plan.build_s": (pp(lambda op: build_s.get(op, 0.0)), "s"),
        "plan.build_jobs": (pp(lambda op: sum(
            span_jobs.get(op, {}).get(s, 0) for s in ("build", "source"))), "count"),
        "catalyst.analysis_ms": (counter("catalyst.analysis_ms"), "ms"),
        "catalyst.optimization_ms": (counter("catalyst.optimization_ms"), "ms"),
        "catalyst.planning_ms": (counter("catalyst.planning_ms"), "ms"),
        "codegen.compiles": (counter("codegen.compiles"), "count"),
        # a share, not a time: warm batches reuse cached classes and compile nothing
        "codegen.compile_share": (share(counter("codegen.compile_ms") / 1000.0), "ratio"),
        "exec.s": (exec_s, "s"),
        "exec.jobs": (exec_fig("jobs"), "count"),
        "exec.stages": (exec_fig("stages"), "count"),
        "exec.tasks": (exec_fig("tasks"), "count"),
        "exec.task_s": (task_s, "s"),
        "exec.core_util": (task_s / (exec_s * CORES) if exec_s else 0.0, "ratio"),
        "exec.shuffle_read_bytes": (exec_fig("shuffle_read_bytes"), "B"),
        "exec.shuffle_write_bytes": (exec_fig("shuffle_write_bytes"), "B"),
        "exec.spill_bytes": (exec_fig("spill_bytes"), "B"),
        "sources.read_s": (pp(lambda op: durations["source"].get(op, 0.0)), "s"),
        "sources.input_scans": (exec_fig("input_scans"), "count"),
        "sources.input_read_ratio": (exec_fig("input_bytes") / workload.input_bytes(), "ratio"),
        "sources.scan_task_s": (exec_fig("input_task_s"), "s"),
        "sinks.write_s": (pp(lambda op: durations["sink"].get(op, 0.0)), "s"),
        "sinks.bytes_written": (exec_fig("output_bytes"), "B"),
        "sinks.files_written": (counter("sinks.files_written"), "count"),
        "main.recount_share": (
            share(pp(lambda op: durations["count"].get(op, 0.0))), "ratio"),
        "trace.overhead_s": (overhead, "s"),
    }


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM's Python workers)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for tid in os.listdir(f"/proc/{p}/task") if os.path.isdir(f"/proc/{p}/task") else ():
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop the session, then the JVM and the workers it started; wait for all."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)


def _emit(name: str, value: float, unit: str) -> None:
    print(f"metric {name} {value:.6g} {unit}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="directory of the headline tables"
                    " (required by headline_sf0.1)")
    args = ap.parse_args(argv)

    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, ROOT)
    try:
        _configure_environment(work, bool(args.trace))
        try:
            import navigator_data_ingest_spark  # noqa: F401  (the system under test)
        except ImportError as e:
            print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
            return 2
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from layers import Tracer, jvm_peak_rss_mb, summarise_event_log
    from workloads import SETUP_REPEATS

    workload = _make_workload(args.workload, args.seed, work, args.data)
    clock = time.perf_counter()

    def log(step):
        nonlocal clock
        now = time.perf_counter()
        print(f"perfbench: {step} took {now - clock:.2f} s", file=sys.stderr)
        clock = now

    spark, starts, totals = _set_up(workload, SETUP_REPEATS)
    log(f"{SETUP_REPEATS} set-ups ({', '.join(f'{t:.2f}' for t in totals)} s)")
    traced = []
    try:
        checks = workload.before_windows(spark)
        log("warm pass and checks before the windows")
        passes = workload.passes()
        ticks = _cpu_ticks()
        ops = _window(spark, workload, passes, args.seconds)
        total, stolen = (b - a for a, b in zip(ticks, _cpu_ticks()))
        log(f"timed window, {stolen / total:.1%} of CPU time stolen by the host"
            f" ({' '.join(f'{dt:.2f}' for _, _, dt in ops if dt is not None)})")
        if args.trace:
            tracer = Tracer(spark)
            workload.trace_patches(tracer)
            try:
                traced = _window(spark, workload, passes, args.seconds, tracer)
            finally:
                tracer.unpatch()
            peak_rss = jvm_peak_rss_mb(spark)
            log(f"traced window ({len(traced)} operations)")
        checks += workload.after_windows(spark)
        log("checks after the windows")
    finally:
        _stop(spark)
    for key, error in checks:
        if error is not None:
            print(f"perfbench: check failed for {key}: {error[:800]}", file=sys.stderr)
    attempted = len(ops) + len(traced) + len(checks)
    failed = (sum(dt is None for _, _, dt in ops + traced)
              + sum(error is not None for _, error in checks))
    samples = [dt for _, _, dt in ops if dt is not None]
    if not samples:
        print("perfbench: no operation succeeded", file=sys.stderr)
        return 1

    e2e = {
        "setup_s": (statistics.median(totals), "s"),
        "run_s": (_per_pass(ops), "s"),
    }
    # Printed alongside, not gated. On ingest_batch a pass is one batch,
    # so the first two restate run_s.
    p50 = statistics.median(samples)
    if args.workload == "ingest_batch":
        extra = {"batch_p50_s": (p50, "s"), "docs_per_s": (workload.docs / p50, "1/s")}
    else:
        extra = {"query_p50_s": (p50, "s"), **_tail(samples)}
        by_key = defaultdict(list)
        for _, key, dt in ops:
            if dt is not None:
                by_key[key].append(dt)
        extra.update({f"query.{k}_s": (statistics.median(v), "s") for k, v in by_key.items()})
    extra["samples"] = (len(samples), "count")
    extra["fail_ratio"] = (failed / attempted, "ratio")
    for name, (v, unit) in {**e2e, **extra}.items():
        _emit(name, v, unit)

    metrics = e2e
    if args.trace:
        summary = summarise_event_log(os.path.join(work, "events"))
        overhead = _per_pass(traced) - e2e["run_s"][0]
        metrics = _per_layer(workload, tracer, traced, summary, starts, peak_rss, overhead)
        for name, (v, unit) in metrics.items():
            _emit(name, v, unit)
        traces = os.path.join(HERE, "_work", "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
