"""Layer attribution from outside the program.

Spans are taken in ``run.py`` around calls into the program's public
functions. This module supplies the counts behind them: py4j commands
sent while a query is built, and per-job / per-stage metrics from
Spark's JVM status store. Stages are found through the sample's job
group (job ids, then each job's stage ids), never by listing every
stage the application has run, so a lookup costs a few py4j calls per
stage of that sample only.
"""

from __future__ import annotations

import re
import threading

from py4j.protocol import MEMORY_COMMAND_NAME

MB = 1024.0 * 1024.0

# executed-plan node name -> plan-digest counter
_PLAN_NODES = {
    "Exchange": "plans.exchanges",
    "BroadcastExchange": "plans.exchanges",
    "BroadcastHashJoin": "plans.joins_broadcast",
    "BroadcastNestedLoopJoin": "plans.joins_broadcast",
    "ShuffledHashJoin": "plans.joins_shuffled_hash",
    "SortMergeJoin": "plans.joins_sort_merge",
}


class Py4jCounter:
    """Counts the py4j commands this thread sends while the ``with``
    block runs. Object-release commands, which py4j's finalizer thread
    sends whenever Python's GC drops a proxy, are left out, so the count
    repeats exactly for a deterministic caller."""

    def __init__(self, client) -> None:
        self._client = client
        self._send = client.send_command
        self._thread = threading.get_ident()
        self.calls = 0

    def _counting_send(self, command, *args, **kwargs):
        if threading.get_ident() == self._thread and not command.startswith(
            MEMORY_COMMAND_NAME
        ):
            self.calls += 1
        return self._send(command, *args, **kwargs)

    def __enter__(self) -> Py4jCounter:
        self.calls = 0
        self._client.send_command = self._counting_send
        return self

    def __exit__(self, *exc) -> None:
        del self._client.send_command


def plan_digest(plan_text: str) -> dict[str, int]:
    """Count exchanges and join operators in an executed-plan tree."""
    counts = dict.fromkeys(_PLAN_NODES.values(), 0)
    for line in plan_text.splitlines():
        node = line.lstrip("+-*: (0123456789)").split(" ", 1)[0]
        key = _PLAN_NODES.get(node)
        if key:
            counts[key] += 1
    return counts


class StatusProbe:
    """Reads job and stage metrics of one job group from the status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        gw = sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def jobs(self, group: str) -> list[dict]:
        """Jobs of ``group`` with submission/completion (epoch ms) and
        stage ids. Waits for the listener bus first: the status store is
        fed asynchronously, so a job that just returned may be missing."""
        self._bus.waitUntilEmpty()
        out = []
        for jid in sorted(self._tracker.getJobIdsForGroup(group)):
            job = self._store.job(jid)
            sub, end = job.submissionTime(), job.completionTime()
            out.append({
                "submitted_ms": sub.get().getTime() if sub.isDefined() else 0,
                "completed_ms": end.get().getTime() if end.isDefined() else 0,
                "stages": [int(s) for s in re.findall(r"\d+", job.stageIds().toString())],
            })
        return out

    def stages(self, jobs: list[dict]) -> dict[str, float]:
        """Totals over the completed stages of ``jobs`` (skipped stages,
        whose output AQE or a shuffle reuse served, are not counted)."""
        t: dict[str, float] = {"stages": 0, "tasks": 0}
        t.update(dict.fromkeys(
            ("executor_run_s", "executor_cpu_s", "gc_s", "input_mb",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "output_mb",
             "task_max_s", "task_median_s"), 0.0,
        ))
        seen: set[int] = set()
        for job in jobs:
            for sid in job["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                tasks = st.numTasks()
                run_ms = st.executorRunTime()
                t["stages"] += 1
                t["tasks"] += tasks
                t["executor_run_s"] += run_ms / 1e3
                t["executor_cpu_s"] += st.executorCpuTime() / 1e9
                t["gc_s"] += st.jvmGcTime() / 1e3
                t["input_mb"] += st.inputBytes() / MB
                t["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                t["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                t["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
                t["output_mb"] += st.outputBytes() / MB
                if tasks > 1:
                    summary = self._store.taskSummary(sid, st.attemptId(), self._quantiles)
                    if summary.isDefined():
                        q = summary.get().executorRunTime()
                        t["task_median_s"] += q.apply(0) / 1e3
                        t["task_max_s"] += q.apply(1) / 1e3
                        continue
                t["task_median_s"] += run_ms / 1e3
                t["task_max_s"] += run_ms / 1e3
        return t

    def persistent_rdds(self) -> int:
        return int(self._jsc.getPersistentRDDs().size())

    def storage_mb(self) -> float:
        """Memory plus disk held by persisted RDD blocks right now."""
        infos = self._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB
