"""Measurement plumbing kept outside the program under test.

- ``Tracer``: spans around each public synspark call (name, start, end,
  parent, op id), kept in memory and written out as JSON lines at exit.
  Self time is a span's duration minus the time its child spans cover.
- ``SparkCounter``: jobs, stages and tasks per op, read from
  ``statusTracker()`` under a per-op job group, plus per-stage bytes and
  times from Spark's status REST endpoint when the UI is on.
- ``MemSampler``: peak memory (proportional set size) of this process
  plus all its descendants (the JVM and the Python workers), sampled
  from ``/proc``.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager


def percentile(values: list, q: float) -> float:
    """Linear-interpolated quantile ``q`` in [0, 1] of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least 10
    samples beyond it. Below 11 samples no percentile qualifies and the
    maximum is reported as percentile 100."""
    n = len(values)
    if n <= 10:
        return max(values), 100.0, n
    q = (n - 11) / (n - 1)  # the 11th-largest sample
    return percentile(values, q), round(100 * q, 1), n


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        rec = {"id": sid, "name": name, "parent": parent["id"]
               if parent else None,
               "op": op if op is not None else (parent or {}).get("op"),
               **attrs}
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["end"] = end
            stack.pop()
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += (rec["start"] - t_in) + \
                    (time.perf_counter() - end)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a = max(a, cur_end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + \
                (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda r: r["id"]):
                f.write(json.dumps(s, default=str) + "\n")


class SparkCounter:
    """Per-op Spark work, measured from outside the program.

    The calling thread sets a job group before the op (PySpark's pinned
    threads make it thread-local). Jobs that synspark starts from its own
    helper threads (the build's and the append's side jobs) carry no
    group; an op that runs alone also counts the jobs with no group that
    appeared during it. While ``grouped_only`` is set (ops from several
    threads at once) an op counts only its own group's jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.grouped_only = False
        self.stage_ids: dict[str, list[int]] = {}
        self.overhead_s = 0.0
        self._lock = threading.Lock()

    def _ungrouped(self) -> set:
        return set(self.tracker.getJobIdsForGroup(None))

    @contextmanager
    def op(self, group: str):
        """Yields a dict that holds jobs/stages/tasks after the block."""
        t_in = time.perf_counter()
        alone = not self.grouped_only
        before = self._ungrouped() if alone else set()
        self.sc.setJobGroup(group, group)
        out: dict = {}
        t_body = time.perf_counter()
        try:
            yield out
        finally:
            t_out = time.perf_counter()
            self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
            jobs = list(self.tracker.getJobIdsForGroup(group))
            if alone:
                jobs += sorted(self._ungrouped() - before)
            stages, tasks = [], 0
            for j in jobs:
                info = self.tracker.getJobInfo(j)
                if info is None:
                    continue
                for sid in info.stageIds:
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:
                        stages.append(sid)
                        tasks += st.numTasks
            self.stage_ids[group] = stages
            out.update(jobs=len(jobs), stages=len(stages), tasks=tasks)
            with self._lock:
                self.overhead_s += (t_body - t_in) + \
                    (time.perf_counter() - t_out)


def rest_stage_metrics(spark) -> dict[int, dict] | None:
    """{stage id: metrics} from the status REST endpoint, or None when
    the UI is off. Bytes and times are summed over the stage's tasks."""
    url = spark.sparkContext.uiWebUrl
    if not url:
        return None
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
            f"{url}/api/v1/applications/{app}/stages", timeout=30) as r:
        rows = json.load(r)
    out: dict[int, dict] = {}
    for st in rows:
        m = out.setdefault(st["stageId"], {"input": 0, "shuffle": 0,
                                           "run_ms": 0, "gc_ms": 0})
        m["input"] += st.get("inputBytes", 0)
        m["shuffle"] += st.get("shuffleWriteBytes", 0)
        m["run_ms"] += st.get("executorRunTime", 0)
        m["gc_ms"] += st.get("jvmGcTime", 0)
    return out


class MemSampler:
    """Peak memory (MB) of this process and all its descendants, summed
    as proportional set size: a page shared by several processes (the
    Python workers forked from one daemon, a JVM child between fork and
    exec) counts once in total, not once per process."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        # at the peak: {command name: [processes, MB]}
        self.peak_by_command: dict[str, list] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_mb

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        total, by_cmd = 0, {}
        for pid in descendants(os.getpid()) | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss = next(int(line.split()[1]) for line in f
                               if line.startswith("Pss:")) * 1024
                with open(f"/proc/{pid}/comm") as f:
                    cmd = f.read().strip()
            except (OSError, StopIteration, ValueError):
                continue  # the process ended between listing and reading
            total += pss
            n, mb = by_cmd.get(cmd, (0, 0.0))
            by_cmd[cmd] = [n + 1, mb + pss / 2**20]
        if total / 2**20 > self.peak_mb:
            self.peak_mb = total / 2**20
            self.peak_by_command = by_cmd


def descendants(root: int) -> set[int]:
    """All live descendant pids of ``root``, from /proc/*/stat."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may contain spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out
