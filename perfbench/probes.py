"""Process-tree and host probes read from ``/proc``, spans, and the Spark
event-log reader used by the traced run.

Everything here is measured from outside the program: the driver Python
process, the JVM it launched and the pyspark workers that JVM forked are
one process tree, so CPU and memory are summed over that tree.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_pids() -> list[int]:
    """This process and all of its descendants."""
    me = os.getpid()
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(name)] = int(rest[1])
    out = []
    for pid in parent:
        q, seen = pid, set()
        while q > 1 and q not in seen:
            if q == me:
                out.append(pid)
                break
            seen.add(q)
            q = parent.get(q, 0)
    return out


def tree_cpu_s() -> float:
    """CPU-seconds used so far by the process tree, reaped children
    included (utime + stime + cutime + cstime)."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in rest[11:15])
    return total / _HZ


def tree_rss_mb() -> float:
    """Resident memory of the process tree right now, in MB."""
    pages = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            continue
    return pages * _PAGE / 1e6


def host_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU-seconds so far over all cores of this host.
    Busy counts every process on the host; steal is time the hypervisor
    gave this host's cores to other guests."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    busy = sum(vals) - vals[3] - vals[4] - vals[7]
    return busy / _HZ, vals[7] / _HZ


class Meter:
    """Wall, tree CPU and co-tenant load over one timed call."""

    def __enter__(self) -> Meter:
        self._host0 = host_cpu_s()
        self._cpu0 = tree_cpu_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = tree_cpu_s() - self._cpu0
        busy, steal = (b - a for a, b in zip(self._host0, host_cpu_s()))
        # busy cores not attributable to this tree, and cores taken by
        # other guests: co-tenant pressure, in cores
        self.ext_load = max(0.0, busy - self.cpu_s) / self.wall_s
        self.steal = steal / self.wall_s


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    cpu_s: float


class Tracer:
    """In-memory spans around the layer calls of one traced run.

    Each span runs under its own Spark job group ``<run_id>/<name>``, so
    the event log attributes every job to exactly one layer call.
    """

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(f"{self.run_id}/{name}", name)
        cpu0, t0 = tree_cpu_s(), time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, t0, time.time(), parent, self.run_id,
                                   tree_cpu_s() - cpu0))
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"{self.run_id}/{top}", top)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def self_s(self, name: str) -> float:
        """Span duration minus the part of it its child spans cover."""
        s = self.get(name)
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == name
        )
        return (s.end - s.start) - _union_len(kids, s.start, s.end)

    def dump(self, path: str) -> None:
        write_json(path, [s.__dict__ for s in self.spans])


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class JobStats:
    jobs: int = 0
    tasks: int = 0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0


@dataclass
class EventLog:
    """Jobs and completed stages parsed from one application's event log
    (``spark.eventLog.enabled``; works with the UI disabled)."""

    jobs: dict  # job id -> dict(start, end, group, batch, stages)
    stages: dict  # stage id -> dict(tasks, shuffle_b, spill_b)

    @classmethod
    def read(cls, log_dir: str) -> EventLog:
        (name,) = os.listdir(log_dir)
        jobs: dict = {}
        stages: dict = {}
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = dict(
                        start=ev["Submission Time"] / 1e3,
                        end=None,
                        group=props.get("spark.jobGroup.id"),
                        batch=props.get("streaming.sql.batchId"),
                        stages=ev["Stage IDs"],
                    )
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {
                        a.get("Name"): a.get("Value")
                        for a in info.get("Accumulables", [])
                    }
                    stages[info["Stage ID"]] = dict(
                        tasks=info["Number of Tasks"],
                        shuffle_b=int(
                            acc.get("internal.metrics.shuffle.write.bytesWritten", 0)
                        ),
                        spill_b=int(acc.get("internal.metrics.diskBytesSpilled", 0)),
                    )
        return cls(jobs, stages)

    def stats(self, job_ids) -> JobStats:
        out = JobStats()
        for j in job_ids:
            out.jobs += 1
            for sid in self.jobs[j]["stages"]:
                st = self.stages.get(sid)  # skipped stages never complete
                if st:
                    out.tasks += st["tasks"]
                    out.shuffle_mb += st["shuffle_b"] / 1e6
                    out.spill_mb += st["spill_b"] / 1e6
        return out

    def by_span(self, tracer: Tracer) -> dict[str, list[int]]:
        """Job ids per span: by job group where the job carries one of
        the tracer's groups, else by submission time to the innermost open
        span (jobs a streaming query submits from its own thread carry
        the query's group instead)."""
        out: dict[str, list[int]] = defaultdict(list)
        prefix = f"{tracer.run_id}/"
        for j, info in self.jobs.items():
            g = info["group"] or ""
            if g.startswith(prefix):
                out[g[len(prefix):]].append(j)
                continue
            inside = [
                s for s in tracer.spans if s.start <= info["start"] <= s.end
            ]
            if inside:
                out[min(inside, key=lambda s: s.end - s.start).name].append(j)
        return out

    def busy_s(self, job_ids, lo: float, hi: float) -> float:
        """Length of the union of the jobs' intervals inside [lo, hi]."""
        return _union_len(
            [(self.jobs[j]["start"], self.jobs[j]["end"] or hi) for j in job_ids],
            lo,
            hi,
        )


def write_json(path: str, obj) -> None:
    """Write JSON atomically: a reader never sees a half-written file."""
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)
