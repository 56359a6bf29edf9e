#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation, one JSON result.

    python3 perfbench/run.py --workload validate_docs --seed 1 --seconds 6 --trace 0

Each run starts a Spark session sized for the host (3 task slots, or one
fewer than the cores if that is less; a 2 GB driver heap limit; scratch
files under ``.perfbench-work/`` of the checkout), builds the workload's
inputs from ``--seed``, warms up, then runs a single-client closed loop:
each iteration starts when the previous one returns, until ``--seconds``
have passed. Outputs of every iteration are checked against a DuckDB
reference after the loop.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a separate
run of the same loop with Spark's event log on and timing shims around the
library's public functions; it prints the per-layer metrics and writes its
spans to ``.perfbench-out/``. Workloads, metrics and their bounds are
listed in ``BENCHMARK.json``; ``perfbench/baseline.json`` holds recorded
figures.

The last line of standard output is the result object; the line before it
(``detail: {...}``) carries per-iteration times, failed operations with
their base, cache leaks, steal % and load average.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MB = 1 << 20
PROBE_REPS = 3     # repetitions of each single-layer probe (traced run)
# ContextCleaner drops the blocks, broadcasts and shuffles of the objects a
# full GC found unreachable on its own thread; a second full GC after this
# pause frees what it dropped, so the live heap read next does not depend on
# how far the cleaner got
CLEANER_PAUSE_S = 0.25
# Task slots leave one core to the Python driver, the JIT compiler and GC:
# with every core of a 4-core host running tasks, validate_docs iterations
# kept speeding up through the whole run and ten runs spread 17.5 % (quartile
# distance over median) in iter_s; with 3 slots two sets spread 6 % and 15 %.
MAX_SLOTS = 3
DRIVER_MEMORY = "2g"
# event-log timestamps have millisecond resolution and the JVM clock is read
# separately from Python's; allow this much job time outside a window
ACCOUNTING_TOLERANCE_S = 0.05


def _loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _prepare_dirs(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Python workers import the package through PYTHONPATH, not sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp


def _start_session(work: str, trace: bool):
    from datavalidation_spark.session import get_spark
    from perfbench.tracing import event_log_conf

    slots = max(1, min(len(os.sched_getaffinity(0)) - 1, MAX_SLOTS))
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} -XX:-UsePerfData"
        ),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    spark = get_spark("perfbench", cores=slots, shuffle_partitions=max(slots, 8), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, slots


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args, work: str) -> tuple[dict, dict, dict]:
    from bench import _cpu_ticks, _steal_pct
    from perfbench.tracing import PHASE_PROPERTY, Tracer, install_shims
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(enabled=bool(args.trace))
    spark, slots = _start_session(work, bool(args.trace))
    session_s = time.perf_counter() - T_PROCESS
    sc = spark.sparkContext
    persistent = sc._jsc.getPersistentRDDs
    memory = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()

    def jvm_live_mb() -> float:
        """JVM heap left after full GCs plus non-heap (metaspace, code cache)."""
        sc._jvm.System.gc()
        gc.collect()
        time.sleep(CLEANER_PAUSE_S)
        sc._jvm.System.gc()
        used = memory.getHeapMemoryUsage().getUsed() + memory.getNonHeapMemoryUsage().getUsed()
        return used / MB

    def phase(name: str) -> None:
        tracer.phase = name
        sc.setLocalProperty(PHASE_PROPERTY, name)

    try:
        with install_shims(tracer):
            wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
            phase("setup")
            t0 = time.perf_counter()
            with tracer.span("datagen.docs"):
                wl.build_inputs()
            input_s = time.perf_counter() - t0
            n = 0
            warmup_walls = []
            for _ in range(wl.warmup_iterations):
                phase(f"warmup{n}")
                t0 = time.perf_counter()
                out = wl.iteration(n)
                warmup_walls.append(time.perf_counter() - t0)
                wl.after_iteration(n, out)
                n += 1
            warmup_s = sum(warmup_walls)
            rdds_before = persistent().size()

            load0, steal0 = _loadavg_1m(), _cpu_ticks()
            iters, outputs, extras, leaked, live_jvm = [], [], [], [], []
            attempted = failed = 0
            setup_s = time.perf_counter() - T_PROCESS
            t_loop = time.perf_counter()
            while not iters or time.perf_counter() - t_loop < args.seconds:
                live_jvm.append(jvm_live_mb())
                phase(f"iter{len(iters)}")
                w0, t0 = time.time(), time.perf_counter()
                try:
                    with tracer.span("iteration"):
                        out = wl.iteration(n)
                except Exception as exc:  # a failed operation is counted, not fatal
                    print(f"iteration {len(iters)} failed: {exc!r}"[:500], file=sys.stderr)
                    out = None
                wall = time.perf_counter() - t0
                iters.append({"wall_s": wall, "window": (w0, w0 + wall)})
                attempted += wl.ops_per_iteration
                failed += wl.ops_per_iteration if out is None else wl.failed_ops(out)
                outputs.append(out)
                leaked.append(persistent().size() - rdds_before)
                extras.append(wl.after_iteration(n, out))
                n += 1
            steal = _steal_pct(steal0, _cpu_ticks())
            load1 = _loadavg_1m()
            # before the probes and the check, whose DuckDB and extra jobs
            # are the benchmark's own memory, not the program's
            python_rss_mb = _vm_hwm_mb("self")
            peak_rss_mb = python_rss_mb + _vm_hwm_mb(sc._jvm.ProcessHandle.current().pid())

            probes = []
            if args.trace:
                phase("probe")
                probes = [wl.probe() for _ in range(PROBE_REPS)]

            phase("check")
            t0 = time.perf_counter()
            try:
                problems = wl.check(outputs)
            except Exception as exc:
                problems = [f"check raised {exc!r}"[:500]]
            failed = min(attempted, failed + len(problems))
            check_s = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        _stop_session(spark)
        stop_s = time.perf_counter() - t0

    walls = [it["wall_s"] for it in iters]
    iter_s = _median(walls)
    metrics = {
        "setup_s": (setup_s, "s"),
        "iter_s": (iter_s, "s"),
        "docs_per_s": (wl.n_docs / iter_s, "docs/s"),
        "live_mem_mb": (python_rss_mb + _median(live_jvm), "MB"),
    }
    noop = [o["noop_s"] for o in outputs if o and "noop_s" in o]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "task_slots": slots,
        "n_docs": wl.n_docs,
        "samples": len(walls),
        "iter_wall_s": walls,
        "resume_noop_s": noop,
        "session_s": session_s,
        "input_s": input_s,
        "warmup_wall_s": warmup_walls,
        "check_s": check_s,
        "stop_s": stop_s,
        "ops_attempted": attempted,
        "ops_failed": failed,
        "ops_failed_frac": failed / attempted if attempted else 1.0,
        "problems": problems,
        "cache_leaked_rdds": leaked,
        "jvm_live_mb": live_jvm,
        "python_rss_mb": python_rss_mb,
        "peak_rss_mb": peak_rss_mb,
        "steal_pct": steal,
        "loadavg_1m_start": load0,
        "loadavg_1m_end": load1,
    }
    if args.trace:
        from perfbench.tracing import read_event_log

        metrics, detail["trace"] = _layer_metrics(
            tracer, read_event_log(os.path.join(work, "eventlog")),
            iters, extras, outputs, probes, leaked, live_jvm, peak_rss_mb,
            dict(session_s=session_s, input_s=input_s, warmup_s=warmup_s),
        )
        os.makedirs(os.path.join(ROOT, ".perfbench-out"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".perfbench-out", f"{args.workload}-seed{args.seed}-spans.jsonl"))
        detail["span_self_s"] = tracer.self_times()
    summary = {"correct": not problems and failed == 0, "attempted": attempted, "failed": failed}
    return summary, metrics, detail


def _layer_metrics(tracer, phases, iters, extras, outputs, probes, leaked, live_jvm,
                   peak_rss_mb, setup):
    """Per-layer metrics of a traced run, and the input-fixed counts and the
    wall-time accounting check for the detail line."""
    from perfbench.tracing import job_busy_s
    from perfbench.workloads import QueryMix

    timed = [f"iter{i}" for i in range(len(iters))]

    def per_iter(d: dict, default=0.0):
        return _median([d.get(p, default) for p in timed])

    def spark(key: str) -> float:
        return _median([phases.get(p, {}).get(key, 0.0) for p in timed])

    def probe_spans(name: str) -> float:
        return _median([s["end"] - s["start"] for s in tracer.spans
                        if s["name"] == name and s["phase"] == "probe"])

    intervals = [phases.get(p, {}).get("job_intervals", []) for p in timed]
    busy = [job_busy_s(iv, *it["window"]) for iv, it in zip(intervals, iters)]
    # job time of an iteration that fell outside its timed window: if this
    # exceeds the tolerance, busy + gap no longer accounts for the wall time
    outside = [job_busy_s(iv, 0.0, float("inf")) - b for iv, b in zip(intervals, busy)]
    walls = [it["wall_s"] for it in iters]
    gaps = [w - b for w, b in zip(walls, busy)]
    ok_out = [o for o in outputs if o]
    # outputs that are fixed by the input, not by speed: checked, not bounded
    counts = {
        "uniqueness.dup_keys": _median([p["dup_keys"] for p in probes if "dup_keys" in p]),
        "validate.n_violations": _median([o.get("n_violations", 0) for o in ok_out]),
        "audit.partitions_validated": _median([sum(o.get("validated", [])) for o in ok_out]),
        "unattributed_jobs": phases.get("unattributed", {}).get("jobs", 0),
        "accounting": {
            "tolerance_s": ACCOUNTING_TOLERANCE_S,
            "max_job_time_outside_window_s": max(outside, default=0.0),
            "ok": max(outside, default=0.0) <= ACCOUNTING_TOLERANCE_S,
        },
    }
    m = {
        "session.start_s": (setup["session_s"], "s"),
        "datagen.docs_s": (setup["input_s"], "s"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "rules.plan_build_s": (per_iter(tracer.durations("rules.plan_build")), "s"),
        "spans.annotate_s": (probe_spans("spans.annotate"), "s"),
        "uniqueness.duplicate_keys_s": (probe_spans("uniqueness.duplicate_keys"), "s"),
        "validate.violations_s": (per_iter(tracer.durations("validate.violations")), "s"),
        "validate.verdicts_s": (per_iter(tracer.durations("validate.verdicts")), "s"),
        "audit.validated_partitions_s": (per_iter(tracer.durations("audit.validated_partitions")), "s"),
        "audit.record_s": (per_iter(tracer.durations("audit.record")), "s"),
        "audit.resume_noop_s": (_median([o["noop_s"] for o in ok_out if "noop_s" in o]), "s"),
        "acid.commit_s": (per_iter(tracer.durations("acid.commit")), "s"),
        "acid.commits": (per_iter(tracer.counts("acid.commit"), 0), "count"),
        "acid.files_written": (_median([e.get("files_written", 0) for e in extras]), "count"),
        "acid.bytes_written_mb": (_median([e.get("bytes_written", 0) / MB for e in extras]), "MB"),
        **{
            f"{layer}_s": (per_iter(tracer.durations(layer)), "s")
            for layer in QueryMix.QUERIES.values()
        },
        "spark.jobs": (spark("jobs"), "count"),
        "spark.stages": (spark("stages"), "count"),
        "spark.tasks": (spark("tasks"), "count"),
        "spark.shuffle_stages": (spark("shuffle_stages"), "count"),
        "spark.executor_run_s": (spark("executor_run_s"), "s"),
        "spark.executor_cpu_s": (spark("executor_cpu_s"), "s"),
        "spark.jvm_gc_s": (spark("jvm_gc_s"), "s"),
        "spark.scan_mb": (spark("scan_mb"), "MB"),
        "spark.shuffle_write_mb": (spark("shuffle_write_mb"), "MB"),
        "spark.shuffle_read_mb": (spark("shuffle_read_mb"), "MB"),
        "spark.spill_mb": (spark("spill_mb"), "MB"),
        "spark.task_skew": (spark("task_skew"), "ratio"),
        "spark.python_run_s": (spark("python_run_s"), "s"),
        "spark.python_boot_s": (spark("python_boot_s"), "s"),
        "spark.python_sent_mb": (spark("python_sent_mb"), "MB"),
        "spark.job_busy_s": (_median(busy), "s"),
        "driver.gap_s": (_median(gaps), "s"),
        "cache.leaked_rdds": (max(leaked) if leaked else 0, "count"),
        "jvm.live_mb": (max(live_jvm, default=0.0), "MB"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "trace.iter_s": (_median(walls), "s"),
    }
    return m, counts


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "datavalidation_spark")):
        print(f"datavalidation_spark not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # the checkout root, not perfbench/, so modules resolve as packages
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    _prepare_dirs(work)
    try:
        summary, metrics, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    detail["process_s"] = time.perf_counter() - T_PROCESS
    print("detail: " + json.dumps(detail, default=str))
    summary["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
