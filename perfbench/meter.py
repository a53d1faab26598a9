"""Measurement helpers: process-tree CPU, host diagnostics, and spans.

Everything here reads the operating system or Spark's own bookkeeping; none
of it adds a Spark action to a timed op.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """utime+stime+cutime+cstime, summed over this process and every descendant.

    The descendants are the driver JVM and the Python workers it forks;
    cutime/cstime carry the CPU of workers that already exited and were
    reaped. System-wide busy time is never used: it counts other tenants.
    """
    root = os.getpid()
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                raw = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        fields = raw.rsplit(")", 1)[1].split()
        pid = int(path.split("/")[2])
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    tree = {root}
    frontier = [root]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while frontier:
        for kid in children.get(frontier.pop(), []):
            if kid not in tree:
                tree.add(kid)
                frontier.append(kid)
    return sum(ticks.get(p, 0) for p in tree) / _CLK_TCK


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # guest time is already folded into user/nice, so leave it out of total
    return vals[7], sum(vals[:8])


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def calib_s() -> float:
    """Fixed single-process numpy workload (the bench.py idea): a host-speed
    reading recorded beside every run, never used to drop or scale one."""
    import numpy as np

    def one() -> float:
        a = np.random.default_rng(0).standard_normal((600, 600))
        t0 = time.perf_counter()
        for _ in range(3):
            a = np.tanh(a @ a / 600.0)
        return time.perf_counter() - t0

    one()  # the first pass starts the BLAS thread pool
    return min(one(), one(), one())


class Tracer:
    """Spans around calls into the engine, kept in memory until the run ends.

    Every span is one Spark job group, tagged with the op it belongs to.
    Untraced, a span records wall time and process-tree CPU only. Traced, it
    also records the ids of the jobs that ran inside it: its group's jobs
    plus ungrouped jobs started since the previous span ended. The ungrouped
    ones come from helper threads, which do not inherit the group
    (SnapshotStore.commit writes data and key index from a thread pool). Ops
    run one at a time, so no other caller starts a job inside a span, and job
    ids grow in submission order.
    """

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.spans: list[dict] = []
        self.recording = False
        self.op = 0
        self._last_job = -1

    def start(self) -> None:
        """Record from here on; earlier jobs (set-up, warm-up) are skipped."""
        self.recording = True
        if self.traced:
            self._last_job = max(self._job_ids(None), default=-1)

    def _job_ids(self, group: str | None) -> set[int]:
        # the status store is fed by the asynchronous listener bus; drain it
        # so the jobs that just ended are listed with their final counts
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        ids = set(tracker.getJobIdsForGroup(None))
        if group is not None:
            ids.update(tracker.getJobIdsForGroup(group))
        return ids

    def _job_counts(self, job_ids: list[int]) -> tuple[int, int]:
        """(jobs, tasks); tasks counts completed tasks, so a stage skipped
        through shuffle reuse adds none."""
        tracker = self.sc.statusTracker()
        tasks = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
        return len(job_ids), tasks

    @contextlib.contextmanager
    def span(self, name: str):
        """Time one call into the engine; outside the timed loop (set-up and
        warm-up) nothing is recorded."""
        if not self.recording:
            yield
            return
        group = f"pb{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        cpu0 = tree_cpu_s()
        t0_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        ok = False
        try:
            yield
            ok = True
        finally:
            wall_s = time.perf_counter() - t0
            rec = {
                "name": name, "op": self.op, "ok": ok, "wall_s": wall_s,
                "cpu_s": tree_cpu_s() - cpu0, "t0_ms": t0_ms, "t1_ms": t0_ms + wall_s * 1000.0,
            }
            self.sc.setJobGroup(None, None)
            if self.traced:
                new = sorted(j for j in self._job_ids(group) if j > self._last_job)
                if new:
                    self._last_job = new[-1]
                rec["jobs"], rec["tasks"] = self._job_counts(new)
            self.spans.append(rec)


def event_log_stats(log_dir: str, spans: list[dict]) -> None:
    """Add task_s, gap_ms, shuffle_bytes and spill_bytes to each span from
    the Spark event log written under log_dir (read after the session stops).

    A task belongs to the span whose interval holds its launch time: spans
    never overlap, and nothing else launches tasks inside one.
    gap_ms is the span's wall time during which none of its tasks ran:
    planning, Py4J calls, and waits between jobs.
    """
    tasks = []
    # Spark 4 writes a directory of rolled event files per application
    for path in glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True):
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append(
                    (
                        info["Launch Time"],
                        info["Finish Time"],
                        m.get("Executor Run Time", 0) / 1000.0,
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        m.get("Disk Bytes Spilled", 0),
                    )
                )
    tasks.sort()
    for s in spans:
        s["task_s"] = s["shuffle_bytes"] = s["spill_bytes"] = 0
        t0, t1 = s["t0_ms"], s["t1_ms"]
        intervals = []
        for launch, finish, run_s, shuf, spill in tasks:
            if launch > t1:
                break
            # launch times are whole ms; spans are at least ms apart
            if launch < t0 - 1:
                continue
            intervals.append((launch, min(finish, t1)))
            s["task_s"] += run_s
            s["shuffle_bytes"] += shuf
            s["spill_bytes"] += spill
        busy, edge = 0.0, t0
        for a, b in intervals:
            a = max(a, edge)
            if b > a:
                busy += b - a
                edge = b
        s["gap_ms"] = max(t1 - t0 - busy, 0.0)
