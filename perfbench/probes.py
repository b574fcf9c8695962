"""Readings taken from outside the engine: /proc for CPU and memory,
Spark's status store for jobs, stages and tasks."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2 :].split()


def process_age_s() -> float:
    """Seconds since this process started (clock-tick resolution)."""
    start = int(_stat("self")[19]) / _TICK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def process_tree() -> list[int]:
    """This process and all its descendants: the Python process, the JVM,
    and the PySpark daemon and workers."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        f = _stat(entry) if entry.isdigit() else None
        if f:
            kids.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, including reaped
    children (so exited Python workers still count)."""
    total = 0
    for pid in process_tree():
        f = _stat(pid)
        if f:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor took from this machine's CPUs since
    boot (the steal column of /proc/stat; 0 on bare metal)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the high-water resident set sizes (VmHWM) of ``pids``."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    f = _stat(pid)
    return f is not None and f[0] != "Z"


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


STAGE_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "gc_s",
)


class SparkStatus:
    """Jobs and stages from the JVM status store, grouped by the job
    group each job ran under."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self._as_java = self.sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava

    def _jobs(self):
        return self._as_java(self.jsc.statusStore().jobsList(None))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds every finished job."""
        self.jsc.listenerBus().waitUntilEmpty()

    def max_job_id(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def jobs_since(self, job_id: int) -> list[tuple[str, list[int]]]:
        """(job group, stage ids) of every job with id > ``job_id``."""
        out = []
        for j in self._jobs():
            if j.jobId() > job_id:
                group = j.jobGroup()
                stage_ids = list(self._as_java(j.stageIds()))
                out.append((group.get() if group.isDefined() else "", stage_ids))
        return out

    def stages(self, min_stage: int) -> dict[int, dict]:
        """Metrics of every stage attempt with id >= ``min_stage``,
        summed over attempts."""
        store = self.jsc.statusStore()
        gw = self.sc._gateway
        out: dict[int, dict] = {}
        quantiles = gw.new_array(gw.jvm.double, 0)
        for s in self._as_java(store.stageList(None, False, False, quantiles, None)):
            sid = s.stageId()
            if sid < min_stage:
                continue
            m = out.setdefault(sid, dict.fromkeys(STAGE_FIELDS, 0))
            m["tasks"] += s.numCompleteTasks()
            m["executor_run_s"] += s.executorRunTime() / 1e3
            m["executor_cpu_s"] += s.executorCpuTime() / 1e9
            m["shuffle_write_bytes"] += s.shuffleWriteBytes()
            m["shuffle_read_bytes"] += s.shuffleReadBytes()
            m["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            m["gc_s"] += s.jvmGcTime() / 1e3
        return out

