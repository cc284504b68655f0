"""Per-layer accounting, taken from outside the program.

A span runs a block of calls under its own Spark job group and times it.
Spans nest: an inner span takes over the job group and hands it back on
exit. In a traced unit each call into a layer is a span whose output is
materialized before the next call, so every job, stage and task the layer
causes falls inside it. Jobs are counted with ``sc.statusTracker()``;
executed stages, tasks, JVM task CPU, shuffle write and spill are read from
the Spark event log (JSON lines, standard library only), which is enabled
only in traced runs. The CPU time of the Python workers, where the
program's pandas UDFs run, is read from ``/proc`` at each span's ends.
"""
from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

from perfbench.common import descendants

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def python_worker_cpu_s(jvm_pid: int) -> float:
    """User + system CPU of the JVM's descendants (the Python daemon and
    its workers), including workers that have already exited: a parent's
    ``cutime``/``cstime`` hold the CPU of the children it has reaped."""
    ticks = 0
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is field 3 of proc(5): utime..cstime are fields 14-17
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / _CLK_TCK


class Span:
    def __init__(self, name: str, group: str):
        self.name = name
        self.group = group
        self.start = 0.0
        self.end = 0.0
        self.jobs = 0
        self.py_cpu_s = 0.0
        self.rows_out = 0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class LayerTracer:
    def __init__(self, spark):
        from pyspark import SparkContext

        self.sc = spark.sparkContext
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.spans: list = []

    @contextmanager
    def span(self, name: str, tag: str):
        """Time one block of calls; ``tag`` tells repeated blocks apart."""
        sp = Span(name, f"perfbench:{tag}:{name}")
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(sp.group, sp.group)
        cpu0 = python_worker_cpu_s(self.jvm_pid)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.py_cpu_s = python_worker_cpu_s(self.jvm_pid) - cpu0
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(outer, outer)
            sp.jobs = len(self.sc.statusTracker().getJobIdsForGroup(sp.group))
            self.spans.append(sp)

    def by_tag(self, tag: str) -> dict:
        prefix = f"perfbench:{tag}:"
        return {s.name: s for s in self.spans if s.group.startswith(prefix)}


def _union_length(intervals: list) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _empty_entry() -> dict:
    return {
        "stages": 0,
        "tasks": 0,
        "jvm_cpu_s": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        "intervals": [],
    }


def event_log_stats(eventlog_dir: str) -> dict:
    """job group -> executed stages, tasks, JVM task CPU, shuffle write,
    spill and task intervals, from the (closed) event log of this run."""
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        f for f in glob.glob(os.path.join(eventlog_dir, "**"), recursive=True)
        if os.path.isfile(f)
        and not os.path.basename(f).startswith("appstatus")
    )
    stage_group: dict = {}
    out: dict = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"
                    )
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stage_group[key] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(
                        (info["Stage ID"], info["Stage Attempt ID"])
                    )
                    if group:
                        out.setdefault(group, _empty_entry())["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(
                        (ev["Stage ID"], ev["Stage Attempt ID"])
                    )
                    if not group:
                        continue
                    entry = out.setdefault(group, _empty_entry())
                    info = ev["Task Info"]
                    metrics = ev.get("Task Metrics") or {}
                    entry["tasks"] += 1
                    entry["intervals"].append(
                        (info["Launch Time"] / 1000.0,
                         info["Finish Time"] / 1000.0)
                    )
                    entry["jvm_cpu_s"] += metrics.get(
                        "Executor CPU Time", 0
                    ) / 1e9
                    entry["shuffle_write_mb"] += (
                        metrics.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0) / 1e6
                    entry["spill_mb"] += (
                        metrics.get("Memory Bytes Spilled", 0)
                        + metrics.get("Disk Bytes Spilled", 0)
                    ) / 1e6
    return out


def layer_metrics(span: Span, log: dict) -> dict:
    """The per-layer record of one span. ``task_cpu_s`` is the CPU of the
    JVM task threads plus that of the Python workers; ``driver_gap_s`` is
    the span's wall time not covered by any of its tasks: its fixed cost."""
    entry = log.get(span.group) or _empty_entry()
    clipped = [
        (max(lo, span.start), min(hi, span.end))
        for lo, hi in entry["intervals"]
        if hi > span.start and lo < span.end
    ]
    return {
        "wall_s": span.wall_s,
        "jobs": span.jobs,
        "stages": entry["stages"],
        "tasks": entry["tasks"],
        "driver_gap_s": span.wall_s - _union_length(clipped),
        "task_cpu_s": entry["jvm_cpu_s"] + span.py_cpu_s,
        "shuffle_write_mb": entry["shuffle_write_mb"],
        "spill_mb": entry["spill_mb"],
        "rows_out": span.rows_out,
    }
