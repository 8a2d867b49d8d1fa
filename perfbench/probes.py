"""Counter sources for the benchmark, all observing the engine from outside.

- `Spans`: an in-memory span log (name, start, end, parent, run id),
  written out once when the run ends.
- `StageReader`: reads Spark's status store (it works with the UI off) and
  sums the stages of every job launched under one job group, so each span's
  executor run time, shuffle, spill and failed tasks come from Spark itself.
- `RssSampler`: peak resident memory of the driver JVM plus every process
  it forked (the Python workers), sampled from `/proc`.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import uuid


class Spans:
    """Spans of one benchmark run; all share `run_id`."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.rows: list[dict] = []

    def start(self, name: str, parent: dict | None = None) -> dict:
        span = {
            "run_id": self.run_id,
            "name": name,
            "parent": parent["name"] if parent else None,
            "group": f"perfbench-{self.run_id}-{name}",
            "start": time.time(),
            "end": None,
        }
        self.rows.append(span)
        return span

    @staticmethod
    def end(span: dict) -> None:
        span["end"] = time.time()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for row in self.rows:
                fh.write(json.dumps(row) + "\n")


class StageReader:
    """Per-job-group totals from the SparkContext's status store."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()  # noqa: SLF001
        gw = sc._gateway  # noqa: SLF001
        # stageData(id, details, taskStatus, withSummaries, quantiles)
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has applied every finished job."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001

    def jobs_in(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def job_count(self) -> int:
        return int(self._store.jobsList(None).size())

    def totals(self, group: str) -> dict:
        """Sums over every stage attempt of every job in `group`, plus the
        task-time skew (max / median task duration) of its heaviest stage."""
        jobs = self.jobs_in(group)
        stage_ids: set[int] = set()
        for job in jobs:
            ids = self._store.job(job).stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        out = {"jobs": len(jobs), "run_ms": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "failed_tasks": 0, "task_skew": 1.0}
        heaviest = None
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
            for i in range(attempts.size()):
                st = attempts.apply(i)
                run_ms = int(st.executorRunTime())
                out["run_ms"] += run_ms
                out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                out["spill_bytes"] += int(st.diskBytesSpilled())
                out["failed_tasks"] += int(st.numFailedTasks())
                if heaviest is None or run_ms > heaviest[0]:
                    heaviest = (run_ms, sid, int(st.attemptId()))
        if heaviest is not None:
            out["task_skew"] = self._task_skew(heaviest[1], heaviest[2])
        return out

    def _task_skew(self, stage_id: int, attempt: int) -> float:
        tasks = self._store.taskList(stage_id, attempt, 1 << 30)
        durations = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durations.append(int(d.get()))
        med = statistics.median(durations) if durations else 0
        return max(durations) / med if med > 0 else 1.0


def _cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


class HostShare:
    """Wall time of an interval and the share of the CPU time this VM asked
    for that the host delivered (busy / (busy + steal), from /proc/stat).

    On a shared host the stolen share moves wall times by tens of percent
    from one minute to the next; `adjusted` (wall x share) is the wall time
    with the stolen CPU time taken out, which is what the benchmark
    compares."""

    def __init__(self) -> None:
        self._t0 = time.perf_counter()
        self._j0 = _cpu_jiffies()
        self.wall = self.share = self.adjusted = 0.0

    def stop(self) -> HostShare:
        self.wall = time.perf_counter() - self._t0
        busy, steal = (b - a for a, b in zip(self._j0, _cpu_jiffies()))
        self.share = busy / (busy + steal) if busy + steal else 1.0
        self.adjusted = self.wall * self.share
        return self


def _children(pid: int, parent_of: dict[int, int]) -> set[int]:
    tree, frontier = {pid}, [pid]
    while frontier:
        p = frontier.pop()
        for child, parent in parent_of.items():
            if parent == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree


def _parent_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ")"
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read()
    except OSError:
        return b""


def tree_rss_mb(root_pid: int) -> float:
    """Current resident memory of `root_pid` and all its descendants.

    A child the JVM spawns (a shell command) shares the JVM's address space
    until it execs, and meanwhile reports the JVM's whole RSS as its own;
    descendants still running the root's command line are such children and
    are skipped."""
    root_cmd = _cmdline(root_pid)
    return sum(
        _rss_kb(p) for p in _children(root_pid, _parent_map())
        if p == root_pid or _cmdline(p) != root_cmd
    ) / 1024


class RssSampler:
    """Samples `tree_rss_mb(root_pid)` on a thread; `stop()` returns the peak."""

    def __init__(self, root_pid: int, interval_s: float = 0.5) -> None:
        self._pid = root_pid
        self._interval = interval_s
        self._peak = 0.0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self._peak = max(self._peak, tree_rss_mb(self._pid))
            if self._halt.wait(self._interval):
                return

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._halt.set()
        self._thread.join(timeout=10)
        return max(self._peak, tree_rss_mb(self._pid))
