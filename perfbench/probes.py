"""Measurement taken from outside the package.

- ``ProcTree``: CPU seconds and peak RSS of this process, the Spark JVM
  and the Python workers, read from ``/proc``.
- ``next_job_id`` / ``exec_stats``: the job-id range an op fired
  (``dagScheduler().nextJobId()``) and the stage totals the Spark status
  store holds for that range.
- ``plan_stats``: exchange and Python-node counts and the Arrow/Python
  SQL metrics of an executed plan, descending through
  ``AdaptiveSparkPlanExec.finalPhysicalPlan`` and ``QueryStageExec.plan``.
"""

from __future__ import annotations

import os
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields after it are fixed
    return raw[raw.rindex(")") + 2 :].split()


class ProcTree:
    """This process and every process descended from it."""

    def __init__(self):
        self.root = os.getpid()

    def pids(self) -> list[int]:
        children = defaultdict(list)
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st:
                    children[int(st[1])].append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """User + system CPU of the tree, including reaped children."""
        total = 0
        for pid in self.pids():
            st = _stat(pid)
            if st:
                # utime, stime, cutime, cstime are fields 14-17 of stat
                total += sum(int(x) for x in st[11:15])
        return total / CLK_TCK

    @staticmethod
    def jit_cpu_s(pid: int | None) -> float:
        """CPU of one JVM's JIT compiler threads ("C1/C2 CompilerThread")."""
        total = 0
        try:
            tids = os.listdir(f"/proc/{pid}/task") if pid else []
        except OSError:
            tids = []
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            if "CompilerThre" in raw[: raw.rindex(")")]:
                st = raw[raw.rindex(")") + 2 :].split()
                total += int(st[11]) + int(st[12])
        return total / CLK_TCK

    @staticmethod
    def _status_kb(pid: int, key: str) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def peak_rss_mb(self, pids=None) -> float:
        """Sum of each live process's own peak resident set."""
        return sum(self._status_kb(p, "VmHWM:") for p in (pids or self.pids())) / 1024

    def jvm_pid(self) -> int | None:
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"org.apache.spark.deploy.SparkSubmit" in f.read():
                        return pid
            except OSError:
                pass
        return None


def next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def exec_stats(spark, first_job: int, end_job: int) -> dict[str, float]:
    """Stage totals over jobs ``[first_job, end_job)`` from the status
    store; skipped stages (reused shuffle output) are not counted."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "scan_bytes", "scan_tasks"),
        0.0,
    )
    out["jobs"] = end_job - first_job
    seen = set()
    for job in range(first_job, end_job):
        ids = store.job(job).stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            tasks = sd.numCompleteTasks()
            out["stages"] += 1
            out["tasks"] += tasks
            out["run_s"] += sd.executorRunTime() / 1e3
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if sd.inputBytes() > 0:
                out["scan_bytes"] += sd.inputBytes()
                out["scan_tasks"] += tasks
    return out


def first_stage_s(spark, first_job: int, end_job: int) -> float:
    """Wall time of the first stage run in the job range: for the FHIR
    ETL, the stage that reads the raw JSON and fills the entries cache."""
    store = spark.sparkContext._jsc.sc().statusStore()
    for job in range(first_job, end_job):
        ids = store.job(job).stageIds()
        for sid in sorted(ids.apply(i) for i in range(ids.size())):
            sd = store.lastStageAttempt(sid)
            if sd.submissionTime().isDefined() and sd.completionTime().isDefined():
                return (sd.completionTime().get().getTime() - sd.submissionTime().get().getTime()) / 1e3
    return 0.0


_PY_NODE_MARKERS = ("Python", "Pandas", "InArrow")


def _metrics(node) -> dict[str, int]:
    out, it = {}, node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def plan_stats(query_execution) -> dict[str, float]:
    """Counts and Python-boundary metrics of the plan that ran."""
    out = dict.fromkeys(("exchanges", "python_nodes", "python_eval_s", "arrow_bytes_to_python", "score_tasks"), 0.0)

    def walk(node, mappers):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.finalPhysicalPlan(), mappers)
        if name.endswith("QueryStageExec"):
            return walk(node.plan(), mappers)
        if name == "ShuffleExchangeExec" or name == "BroadcastExchangeExec":
            out["exchanges"] += 1
        if name == "ShuffleExchangeExec":
            mappers = node.numMappers()
        if any(m in name for m in _PY_NODE_MARKERS):
            m = _metrics(node)
            out["python_nodes"] += 1
            out["python_eval_s"] += m.get("pythonTotalTime", 0) / 1e3
            out["arrow_bytes_to_python"] += m.get("pythonDataSent", 0)
            # tasks of the stage that runs the node: the map side of the
            # shuffle above it, else the partitions its RDD would have
            out["score_tasks"] += mappers if mappers is not None else node.execute().getNumPartitions()
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), mappers)

    walk(query_execution.executedPlan(), None)
    return out
