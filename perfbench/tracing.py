"""Spans and Spark-side counters for the traced run.

Spans are recorded by the benchmark around its own calls into each
layer of the package (nothing inside the package is instrumented).
Each span runs under its own Spark job group, so the jobs it launched
can be counted with the status tracker while the run is live, and its
tasks, shuffle bytes, spill and final AQE plan can be read from the
Spark event log once the session has stopped.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    group: str


class Tracer:
    """In-memory span recorder; `dump` writes the spans when the run
    ends."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[tuple[str, str]] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str):
        """Time the block as span `name` under a fresh job group; yields
        the group id. Spans nest; the parent's group is restored on
        exit."""
        self._seq += 1
        group = f"{self.run_id}:{self._seq}:{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((name, group))
        t0 = time.perf_counter()
        try:
            yield group
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(name, t0, t1, parent, self.run_id, group))
            if self._stack:
                sc.setJobGroup(self._stack[-1][1], self._stack[-1][0])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker()
                   .getJobIdsForGroup(group))

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def groups(self, name: str) -> list[str]:
        return [s.group for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def cpu_s() -> float:
    """CPU seconds run so far, all threads, by this process and the JVM
    it launched. Time the host steals from this guest is not in it, so
    it holds steady where wall time follows the host's load."""
    from pyspark import SparkContext
    t = os.times()
    own = t.user + t.system
    if SparkContext._gateway is None:
        return own
    with open(f"/proc/{SparkContext._gateway.proc.pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return own + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """`with Stopwatch() as sw:` times the block; then `sw.wall` and
    `sw.cpu` (see cpu_s) hold its seconds."""

    def __enter__(self):
        self._start = time.perf_counter(), cpu_s()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._start[0]
        self.cpu = cpu_s() - self._start[1]


def noop(df) -> None:
    """Force full execution of `df` with no output I/O."""
    df.write.format("noop").mode("overwrite").save()


def _exchanges(plan: dict) -> int:
    own = 1 if plan.get("nodeName") == "Exchange" else 0
    return own + sum(_exchanges(c) for c in plan.get("children", []))


class EventLog:
    """Per-job-group totals parsed from an uncompressed Spark event log:
    tasks, shuffle bytes written, bytes spilled and the number of
    shuffle exchanges in each SQL execution's final (AQE) plan."""

    _SQL = "org.apache.spark.sql.execution.ui."

    def __init__(self, log_dir: str):
        self.by_group: dict[str, dict[str, int]] = defaultdict(
            lambda: {"tasks": 0, "shuffle_write_bytes": 0,
                     "spill_bytes": 0, "exchanges": 0})
        # one log file per SparkContext; stage and execution ids restart
        # in each, so they are resolved file by file
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            self._read(path)

    def _read(self, path: str) -> None:
        stage_group: dict[int, str] = {}
        exec_group: dict[int, str] = {}
        final_plan: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if g is None:
                        continue
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    agg = self.by_group[g]
                    agg["tasks"] += 1
                    agg["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                    agg["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                elif kind in (self._SQL + "SparkListenerSQLExecutionStart",
                              self._SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    final_plan[int(ev["executionId"])] = ev["sparkPlanInfo"]
        for eid, g in exec_group.items():
            if eid in final_plan:
                self.by_group[g]["exchanges"] += _exchanges(final_plan[eid])

    def total(self, groups: list[str], key: str) -> int:
        return sum(self.by_group[g][key] for g in groups if g in self.by_group)
