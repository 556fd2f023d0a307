"""Counters read from Spark's in-process status store and from /proc.

Stage counters are the raw ``StageData`` longs (nanoseconds of executor
CPU, milliseconds of run and GC time, bytes of shuffle and spill), read
through py4j from ``SparkContext.statusStore`` — no REST API and no
formatted SQL-metric strings, so it works with ``spark.ui.enabled=false``.

Python-worker CPU and memory come from /proc: the driver JVM is
the gateway process PySpark launched, and the Python workers are its
descendants (the worker daemon reaps finished workers, so their CPU shows
up in its ``cutime``/``cstime``).
"""

from __future__ import annotations

import os
import threading

STAGE_FIELDS = {
    # name -> (StageData accessor, scale to the reported unit)
    "cpu_s": ("executorCpuTime", 1e-9),
    "run_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "spill_mb": ("diskBytesSpilled", 1e-6),
    "mem_spill_mb": ("memoryBytesSpilled", 1e-6),
    "output_mb": ("outputBytes", 1e-6),
    "tasks": ("numCompleteTasks", 1),
}


def zero_counters() -> dict[str, float]:
    out = {k: 0.0 for k in STAGE_FIELDS}
    out["jobs"] = 0
    out["stages"] = 0
    return out


def add_counters(acc: dict[str, float], more: dict[str, float]) -> None:
    for k, v in more.items():
        acc[k] = acc.get(k, 0.0) + v


class StageLedger:
    """Attributes every executed stage to the job that ran it.

    Job ids and stage ids are allocated in order by the DAG scheduler, so
    ``new_jobs()`` walks forward from the last job it saw.  A stage that a
    later job skips (its shuffle output already exists) keeps the id of
    the job that ran it, so each stage is counted once."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._tracker = self.sc.statusTracker()
        self._next_job = 0
        self._stage_owner: dict[int, int] = {}
        self._stage_data: dict[int, dict[str, float]] = {}

    def drain(self) -> None:
        """Wait until the status listener has seen every finished event."""
        self._bus.waitUntilEmpty()

    def new_jobs(self) -> list[int]:
        """Ids of the jobs started since the previous call, in order."""
        self.drain()
        jobs = []
        while True:
            info = self._tracker.getJobInfo(self._next_job)
            if info is None:
                break
            jobs.append(self._next_job)
            for sid in list(info.stageIds):
                self._stage_owner.setdefault(int(sid), self._next_job)
            self._next_job += 1
        return jobs

    def _stage(self, sid: int) -> dict[str, float] | None:
        if sid not in self._stage_data:
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                return None
            self._stage_data[sid] = {
                k: getattr(sd, acc)() * scale
                for k, (acc, scale) in STAGE_FIELDS.items()
            }
        return self._stage_data[sid]

    def job_counters(self, job_ids) -> dict[str, float]:
        """Summed counters of the stages these jobs ran (skips excluded)."""
        wanted = set(job_ids)
        out = zero_counters()
        out["jobs"] = len(wanted)
        for sid, owner in self._stage_owner.items():
            if owner not in wanted:
                continue
            data = self._stage(sid)
            if data is None:
                continue
            add_counters(out, data)
            out["stages"] += 1
        return out

    def group_jobs(self, group: str) -> list[int]:
        return [int(j) for j in self._tracker.getJobIdsForGroup(group)]


# ---------------------------------------------------------------- /proc
_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Pids below ``root`` in the process tree (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids) -> float:
    """utime+stime plus reaped children's, summed over ``pids``."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _CLK


def pss_mb(pids) -> float:
    """Proportional set size summed over ``pids``: pages the forked
    Python workers share with their daemon count once, not per worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total / 1e3


class ProcTree:
    """The driver JVM and its Python workers."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def python_cpu_s(self) -> float:
        return cpu_seconds(descendants(self.jvm_pid))

    def memory_mb(self) -> float:
        return pss_mb([self.jvm_pid, *descendants(self.jvm_pid)])


class PeakMemory:
    """Samples the tree's memory on a thread; ``peak`` is the maximum."""

    def __init__(self, tree: ProcTree, period_s: float = 0.2):
        self.tree = tree
        self.period_s = period_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.memory_mb())
            self._stop.wait(self.period_s)

    def __enter__(self) -> PeakMemory:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.tree.memory_mb())
