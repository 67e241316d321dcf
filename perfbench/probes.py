"""Counters read from Spark and from /proc for the traced run.

Job, stage and task counts come from the status tracker, keyed by the
job group the benchmark sets around each operator.  Task time, shuffle
bytes, spill and input records come from the driver's status store (the
data behind Spark's REST ``StageData``), after the listener bus has
drained so the last stage's events are counted.
"""

from __future__ import annotations

import os


def job_ids(sc, group: str) -> set[int]:
    return set(sc.statusTracker().getJobIdsForGroup(group))


def drain_listeners(sc) -> None:
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def stage_totals(sc, jobs: set[int]) -> dict:
    """Sum the run stages of ``jobs``; skipped stages are not counted."""
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    out = dict(jobs=len(jobs), stages=0, tasks=0, task_busy_s=0.0,
               shuffle_write_bytes=0, spill_bytes=0, failed_tasks=0, rows_read=0)
    seen: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info is not None else ():
            if s in seen:
                continue
            seen.add(s)
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # noqa: BLE001 — never submitted (skipped)
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["task_busy_s"] += sd.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["failed_tasks"] += sd.numFailedTasks()
            out["rows_read"] += sd.inputRecords()
    return out


def phases_ms(qe) -> dict:
    """Catalyst phase durations recorded on a QueryExecution."""
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def broadcast_bytes(plan) -> int:
    """Sum of BroadcastExchange ``dataSize`` over an executed plan,
    descending through adaptive plans and query stages."""
    total, todo = 0, [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "BroadcastExchange":
            m = node.metrics().get("dataSize")
            if m.isDefined():
                total += m.get().value()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return total


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size (VmHWM) of a process, in kB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker and
    checksum files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size



def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)
