"""Observers that sit beside the measured operations: a /proc memory
sampler for the whole process tree, and per-operation failure accounting
that reads Spark's status tracker under one job group per operation."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory of `root` and all its descendants, in MiB."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Samples the process tree's VmRSS and keeps the peak: the driver, its
    JVM and the JVM's Python workers. The sampling runs in a child process
    (this file run as a script), so it never holds the driver's GIL while
    the driver times an operation; the child leaves itself out of the sum."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0

    def __enter__(self) -> "RssSampler":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid()),
             str(self.interval_s)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        return self

    def __exit__(self, *exc) -> None:
        out, _ = self._proc.communicate(timeout=30)  # closes stdin: stop
        self.peak_mb = float(out.strip() or 0.0)


def _sample_until_stdin_closes(root: int, interval_s: float) -> None:
    stop = threading.Event()

    def wait_eof():
        sys.stdin.read()
        stop.set()
    threading.Thread(target=wait_eof, daemon=True).start()
    me, peak = os.getpid(), 0.0
    while not stop.is_set():
        peak = max(peak, tree_rss_mb(root) - _rss_kb(me) / 1024.0)
        stop.wait(interval_s)
    print(peak)


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    group: str | None
    result: object = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0


@dataclass
class OpGuard:
    """Runs each operation under a guard: an exception is counted, printed
    to stderr and the loop goes on. Operations that reach Spark run under
    their own job group, so their jobs, stages, tasks and failed tasks can
    be read back from the status tracker once the run is over."""

    spark: object
    ops: list[Op] = field(default_factory=list)

    def run(self, kind: str, fn: Callable[[], object],
            uses_spark: bool = True) -> Op:
        sc = self.spark.sparkContext
        group = f"perfbench-op-{len(self.ops)}" if uses_spark else None
        if group:
            sc.setJobGroup(group, kind)
        t0 = time.perf_counter()
        try:
            result, ok = fn(), True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            result, ok = None, False
        op = Op(kind, time.perf_counter() - t0, ok, group, result)
        if group:
            sc.setJobGroup("perfbench-idle", "between operations")
        self.ops.append(op)
        return op

    def settle(self) -> None:
        """Read job, stage and task counts for every operation. Called once
        at the end, after Spark's listener bus has caught up."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        # the status store is fed asynchronously; let it drain
        deadline = time.monotonic() + 10
        while tracker.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.1)
        time.sleep(0.5)
        for op in self.ops:
            if op.group is None:
                continue
            job_ids = tracker.getJobIdsForGroup(op.group)
            op.jobs = len(job_ids)
            for job_id in job_ids:
                info = tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(stage_id)
                    if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                        continue  # skipped (reused shuffle) or evicted
                    op.stages += 1
                    op.tasks += st.numCompletedTasks
                    op.tasks_failed += st.numFailedTasks

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for op in self.ops if not op.ok or op.tasks_failed)


if __name__ == "__main__":
    _sample_until_stdin_closes(int(sys.argv[1]), float(sys.argv[2]))
