"""Measurements taken from outside the engine: the JVM process tree in
``/proc`` and Spark's own per-stage accounting in the AppStatusStore."""

from __future__ import annotations

import os
import time

MB = float(1 << 20)
_TICK = os.sysconf("SC_CLK_TCK")

# v1.StageData getters summed over every stage a step ran
STAGE_FIELDS = (
    "executorRunTime",     # ms
    "executorCpuTime",     # ns
    "jvmGcTime",           # ms
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "outputBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "resultSize",          # bytes sent back to the driver
)


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may itself hold spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` and its descendants: user + system time of
    each live process plus that of the children each has reaped (so a
    Python worker that already exited still counts)."""
    ticks = 0
    for p in descendants(pid):
        fields = _stat(p)
        if fields is not None:
            # utime, stime, cutime, cstime (proc(5) fields 14-17)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs summed:
    a contention signal, recorded beside every timed pass."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / MB
    raise RuntimeError(f"no VmHWM for pid {pid}")


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if (_stat(p) or ["Z"])[0] != "Z"]
        if alive:
            time.sleep(0.05)
    return alive


class StageReader:
    """Per-job-group totals from the AppStatusStore.

    Read once per step, right after the listener bus drains, so that no
    job or stage of the step has been evicted by Spark's retention
    limits (1,000 jobs and stages by default)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()

    def group(self, group: str) -> dict[str, int]:
        self.bus.waitUntilEmpty(60_000)
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in job_ids:
            seq = self.store.job(j).stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0}
        out.update((f, 0) for f in STAGE_FIELDS)
        for s in stage_ids:
            st = self.store.lastStageAttempt(s)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            for f in STAGE_FIELDS:
                out[f] += getattr(st, f)()
        return out
