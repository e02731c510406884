"""Spans, counters and host probes for the benchmark.

Everything is kept in memory and written out once, when the run ends.
Spans are recorded from outside the package, around each call into a
layer: the benchmark sets a Spark job group per span, so the task counts
of a layer are read back from ``statusTracker`` and its shuffle and input
bytes from the event log (traced runs only).
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


def _cpu_lines() -> dict[str, list[int]]:
    with open("/proc/stat") as f:
        return {p[0]: [int(x) for x in p[1:]] for p in
                (line.split() for line in f) if p[0].startswith("cpu")}


class CpuSampler:
    """Busy share of this process's CPUs between two ``/proc/stat`` reads
    (user+nice+system+irq+softirq+steal over all jiffies)."""

    def __init__(self):
        self.cpus = [f"cpu{i}" for i in sorted(os.sched_getaffinity(0))]

    def snap(self) -> list[int]:
        lines = _cpu_lines()
        rows = [lines[c] for c in self.cpus if c in lines] or [lines["cpu"]]
        return [sum(col) for col in zip(*rows)]

    @staticmethod
    def busy(a: list[int], b: list[int]) -> float:
        d = [y - x for x, y in zip(a, b)]
        total = sum(d[:8])
        idle = d[3] + d[4]  # idle + iowait
        return (total - idle) / total if total > 0 else 0.0

    @staticmethod
    def steal(a: list[int], b: list[int]) -> float:
        d = [y - x for x, y in zip(a, b)]
        total = sum(d[:8])
        return d[7] / total if total > 0 else 0.0


def host_record(cpu: CpuSampler, c0: list[int], c1: list[int]) -> dict:
    """What the host did over the run, so a noisy run can be explained.
    Recorded only: it never gates, drops or repeats a run."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": len(cpu.cpus), "loadavg_1_5_15": load,
            "steal_pct": round(100.0 * cpu.steal(c0, c1), 3),
            "idle_share": round(1.0 - cpu.busy(c0, c1), 4)}


class Tracer:
    """In-memory spans ``(name, start, end, parent, run_id)`` plus per-span
    counts. A disabled tracer records nothing and sets no job groups."""

    def __init__(self, run_id: str, sc=None, enabled: bool = True):
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.cpu = CpuSampler()

    @contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "counts": dict(counts), "group": f"{self.run_id}:{sid}"}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        c0 = self.cpu.snap()
        rec["start"] = time.perf_counter()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu_busy"] = CpuSampler.busy(c0, self.cpu.snap())
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["tasks"], rec["tasks_failed"] = self._task_counts(rec)

    def _task_counts(self, rec) -> tuple[int, int]:
        if self.sc is None:
            return 0, 0
        st = self.sc.statusTracker()
        tasks = failed = 0
        for job in st.getJobIdsForGroup(rec["group"]):
            info = st.getJobInfo(job)
            for stage in (info.stageIds if info else []):
                s = st.getStageInfo(stage)
                if s is not None:
                    tasks += s.numCompletedTasks
                    failed += s.numFailedTasks
        return tasks, failed

    def duration(self, rec) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec) -> float:
        """Span duration minus the part of it its children cover."""
        kids = sorted((s["start"], s["end"]) for s in self.spans
                      if s["parent"] == rec["id"])
        covered, lo, hi = 0.0, None, None
        for a, b in kids:
            if hi is None or a > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = a, b
            else:
                hi = max(hi, b)
        if hi is not None:
            covered += hi - lo
        return self.duration(rec) - covered

    def by_layer(self, layer: str) -> list[dict]:
        return [s for s in self.spans if s["name"].split(":")[0] == layer]

    def attach_event_log(self, log_dir: str) -> None:
        """Add ``shuffle_write_bytes``, ``bytes_read`` and ``records_read``
        to every span from the event log of the (stopped) application."""
        stage_group: dict[int, str] = {}
        per_group: dict[str, list[int]] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                                     recursive=True)):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        g = (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id")
                        for s in ev.get("Stage IDs", []):
                            if g:
                                stage_group[s] = g
                    elif kind == "SparkListenerTaskEnd":
                        g = stage_group.get(ev.get("Stage ID"))
                        m = ev.get("Task Metrics") or {}
                        if g is None:
                            continue
                        acc = per_group.setdefault(g, [0, 0, 0])
                        acc[0] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                        inp = m.get("Input Metrics") or {}
                        acc[1] += inp.get("Bytes Read", 0)
                        acc[2] += inp.get("Records Read", 0)
        for rec in self.spans:
            sw, br, rr = per_group.get(rec["group"], [0, 0, 0])
            rec.update(shuffle_write_bytes=sw, bytes_read=br, records_read=rr)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)

    def table(self) -> str:
        """One row per span name (``layer:step``): spans, wall, self time,
        cpu share, tasks."""
        rows: dict[str, list[float]] = {}
        for s in self.spans:
            r = rows.setdefault(s["name"], [0, 0.0, 0.0, 0.0, 0, 0])
            d = self.duration(s)
            r[0] += 1
            r[1] += d
            r[2] += self.self_time(s)
            r[3] += s["cpu_busy"] * d
            r[4] += s.get("tasks", 0)
            r[5] += s.get("tasks_failed", 0)
        out = [f"{'layer:step':<36}{'spans':>6}{'wall_s':>10}{'self_s':>10}"
               f"{'cpu_busy':>10}{'tasks':>8}{'failed':>8}"]
        for layer, (n, wall, self_s, busy, tasks, failed) in rows.items():
            out.append(f"{layer:<36}{n:>6}{wall:>10.3f}{self_s:>10.3f}"
                       f"{busy / wall if wall else 0:>10.3f}{tasks:>8}"
                       f"{failed:>8}")
        return "\n".join(out)
