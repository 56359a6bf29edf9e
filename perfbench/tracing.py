"""Tracing for the per-layer run: in-memory spans around the library's
public functions, and a reader for Spark's JSON event log.

Spans are recorded by the benchmark around its calls into each layer
(``Tracer.span``) and by shims that wrap the public functions the
workloads reach (``install_shims``). Each span keeps its name, start, end,
parent and the benchmark phase (iteration id) it ran in.

The event log gives what the driver cannot see: jobs, stages and task
metrics. Jobs are attributed to a phase through the ``perfbench.phase``
local property the benchmark sets before each phase.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict

PHASE_PROPERTY = "perfbench.phase"
MB = 1 << 20
# SQL metrics of Python-worker operators (Arrow boundary): name -> (key, scale)
PYTHON_METRICS = {
    "time to run Python workers": ("python_run_s", 1e-3),  # timing, ms
    "time to start Python workers": ("python_boot_s", 1e-3),
    "data sent to Python workers": ("python_sent_mb", 1 / MB),  # size, bytes
}


class Tracer:
    """Spans kept in memory; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.phase = "setup"
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "phase": self.phase,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def durations(self, name: str) -> dict[str, float]:
        """Total inclusive duration of spans called ``name``, per phase."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == name:
                out[s["phase"]] += s["end"] - s["start"]
        return out

    def counts(self, name: str) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            if s["name"] == name:
                out[s["phase"]] += 1
        return out

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered = _union_length(children.get(i, []), s["start"], s["end"])
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def shim(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return shim


@contextlib.contextmanager
def install_shims(tracer: Tracer):
    """Wrap the public functions the workloads call, restoring them on exit.

    Functions imported by name into another module are patched there too,
    so calls made inside the library (``run_resumable`` calling
    ``validate_documents``) are traced as well."""
    from datavalidation_spark.engine import acid, audit, uniqueness, validate
    from datavalidation_spark.rules import core
    from perfbench import workloads

    targets = [
        (validate, "validate_documents", "rules.plan_build"),
        (audit, "validate_documents", "rules.plan_build"),
        (workloads, "validate_documents", "rules.plan_build"),
        (core, "annotate", "spans.annotate_plan"),
        (validate, "annotate", "spans.annotate_plan"),
        (uniqueness, "duplicate_keys", "uniqueness.duplicate_keys_plan"),
        (validate, "duplicate_keys", "uniqueness.duplicate_keys_plan"),
        (audit.AuditLog, "validated_partitions", "audit.validated_partitions"),
        (audit.AuditLog, "record", "audit.record"),
        (acid.ManifestLog, "commit", "acid.commit"),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    if tracer.enabled:
        for owner, attr, name in targets:
            setattr(owner, attr, _wrap(tracer, name, getattr(owner, attr)))
    try:
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per phase: Spark runtime metrics summed over that phase's jobs,
    including the Python-worker SQL metrics of its tasks.

    Call after ``SparkSession.stop()`` so the log is complete."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stage_phase: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    stage_shuffle_write: dict[int, int] = defaultdict(int)
    phases: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                phase = props.get(PHASE_PROPERTY, "unattributed")
                jobs[ev["Job ID"]] = {"phase": phase, "start": ev["Submission Time"]}
                for sid in ev["Stage IDs"]:
                    stage_phase.setdefault(sid, phase)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                p = phases[stage_phase.get(sid, "unattributed")]
                p["tasks"] += 1
                p["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                p["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                p["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                p["scan_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
                sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                p["shuffle_write_mb"] += sw / MB
                sr = m.get("Shuffle Read Metrics") or {}
                p["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                p["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / MB
                for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
                    if acc.get("Name") in PYTHON_METRICS and "Update" in acc:
                        key, scale = PYTHON_METRICS[acc["Name"]]
                        p[key] += float(acc["Update"]) * scale
                stage_tasks[sid].append(m.get("Executor Run Time", 0))
                stage_shuffle_write[sid] += sw
    per_phase_intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for job in jobs.values():
        p = phases[job["phase"]]
        p["jobs"] += 1
        per_phase_intervals[job["phase"]].append((job["start"] / 1e3, job["end"] / 1e3))
    for sid, times in stage_tasks.items():
        p = phases[stage_phase.get(sid, "unattributed")]
        p["stages"] += 1
        if stage_shuffle_write[sid] > 0:
            p["shuffle_stages"] += 1
        med = statistics.median(times)
        if med > 0:
            p["task_skew"] = max(p["task_skew"], max(times) / med)
    for phase, p in phases.items():
        p["job_intervals"] = per_phase_intervals.get(phase, [])
    return {k: dict(v) for k, v in phases.items()}


def job_busy_s(intervals, lo: float, hi: float) -> float:
    """Seconds of ``[lo, hi]`` during which at least one job ran."""
    return _union_length(intervals, lo, hi)
