"""Call recording and Spark event-log attribution.

Every public engine call the benchmark makes goes through `Recorder.call`,
which times it from outside (wall clock) and, in a traced run, tags the
Spark jobs it submits with `SparkContext.setJobGroup("<phase>|<layer>|<n>")`.
The traced run writes an uncompressed Spark event log; `parse_event_log`
reads it with the standard `json` module and sums task metrics per job
group, so each call's executor time, tasks and bytes can be attributed to
the layer that issued it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# a timed window's engine and check calls must cover its wall time to
# within this share; the rest is the benchmark's own loop overhead
RECONCILE_TOLERANCE = 0.05


@dataclass
class Call:
    phase: str
    layer: str
    group: str
    wall_s: float


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of this machine's CPUs since boot; steal is time
    the hypervisor gave to other tenants while a CPU here wanted to run.
    (0, 0) where /proc/stat does not exist."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return ticks[7], sum(ticks)


@dataclass
class Window:
    phase: str
    wall_s: float


@dataclass
class Recorder:
    sc: object
    traced: bool
    calls: list[Call] = field(default_factory=list)
    windows: list[Window] = field(default_factory=list)

    def call(self, phase: str, layer: str, fn):
        """Run `fn()` as one call of `layer`, timed from outside."""
        group = f"{phase}|{layer}|{len(self.calls)}"
        if self.traced:
            self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.calls.append(Call(phase, layer, group, time.perf_counter() - t0))
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def window(self, phase: str):
        """A measured span whose wall time the calls inside must explain."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.windows.append(Window(phase, time.perf_counter() - t0))

    def walls(self, phase: str, layer: str) -> list[float]:
        return [c.wall_s for c in self.calls if c.phase == phase and c.layer == layer]

    def coverage(self, phase: str) -> float:
        """Share of the phase's window wall time spent inside recorded calls."""
        win = sum(w.wall_s for w in self.windows if w.phase == phase)
        inside = sum(c.wall_s for c in self.calls if c.phase == phase)
        return inside / win if win else 0.0


@dataclass
class GroupMetrics:
    jobs: int = 0
    tasks: int = 0
    exec_run_ms: float = 0.0
    exec_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


def find_event_log(log_dir: str) -> str:
    """The single finished (non-rolling) application log in `log_dir`."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    return paths[0]


def parse_event_log(path: str) -> dict[str, GroupMetrics]:
    """Sum task metrics per job group. Stages map to the group of the job
    that submitted them; tasks map through their stage."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                out[group].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"), "untagged")
                m = ev.get("Task Metrics") or {}
                g = out[group]
                g.tasks += 1
                g.exec_run_ms += m.get("Executor Run Time", 0)
                g.exec_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                g.gc_ms += m.get("JVM GC Time", 0)
                g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g.spill_bytes += m.get("Disk Bytes Spilled", 0)
                g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return dict(out)


def per_call(groups: dict[str, GroupMetrics], rec: Recorder, phase: str, layer: str) -> list[GroupMetrics]:
    """Event-log metrics of each call of (phase, layer), in call order."""
    return [
        groups.get(c.group, GroupMetrics())
        for c in rec.calls
        if c.phase == phase and c.layer == layer
    ]
