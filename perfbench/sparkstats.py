"""The benchmark's one way to read Spark counters.

Jobs are counted with the DAGScheduler's job-id counter, which also sees
jobs submitted from worker threads (the pipeline runs its tiers on
threads). Task time, shuffle bytes and spill are read from the status
store, for the job ids that counter handed out; a job is attributed to a
span through the job group the tracer set on the submitting thread. So a
span's job count is either a counter difference (a span whose thread runs
alone) or the number of the counter's job ids whose status-store record
carries the span's group (spans that overlap on threads); ids the store
has no record of are counted, not skipped.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float
    task_s: float
    shuffle_mb: float
    spill_mb: float


class SparkCounters:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self.missing: list[int] = []  # job ids the status store had no record of

    def job_id(self) -> int:
        """Next job id to be handed out; the difference of two readings is
        the number of jobs submitted in between, from any thread."""
        nj = self._jsc.dagScheduler().nextJobId()
        return nj if isinstance(nj, int) else nj.get()

    def jobs(self, first: int, end: int) -> list[JobRecord]:
        """Status-store records of jobs ``first`` <= id < ``end`` (call
        outside timed windows: it drains the listener bus and walks the
        store over py4j). Ids without a record are added to ``missing``."""
        from py4j.protocol import Py4JJavaError

        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = []
        for jid in range(first, end):
            try:
                j = store.job(jid)
            except Py4JJavaError:  # job evicted or never registered
                self.missing.append(jid)
                continue
            task_ms = shuffle = spill = 0
            ids = j.stageIds()
            for k in range(ids.size()):
                try:
                    st = store.lastStageAttempt(int(ids.apply(k)))
                except Py4JJavaError:  # stage skipped (reused shuffle)
                    continue
                task_ms += st.executorRunTime()
                shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
            sub, comp = j.submissionTime(), j.completionTime()
            start = sub.get().getTime() / 1000 if sub.isDefined() else 0.0
            stop = comp.get().getTime() / 1000 if comp.isDefined() else start
            grp = j.jobGroup()
            out.append(JobRecord(
                jid, grp.get() if grp.isDefined() else None, start, stop,
                task_ms / 1000, shuffle / 2**20, spill / 2**20,
            ))
        return out


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def hwm_mb(pid: int | None) -> float:
    """Peak resident set of one process, MiB (0 when it is gone)."""
    return _status_kb(pid, "VmHWM") / 1024 if pid else 0.0


def rss_mb(pid: int | None) -> float:
    """Current resident set of one process, MiB (0 when it is gone)."""
    return _status_kb(pid, "VmRSS") / 1024 if pid else 0.0


def python_workers(root_pid: int | None) -> list[int]:
    """Pids of the Python UDF workers under the JVM: the processes the
    PySpark daemon (a child of the JVM) forked, not the daemon itself."""
    if not root_pid:
        return []
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [c for d in children.get(root_pid, []) for c in children.get(d, [])]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark" in cmd:
            out.append(pid)
    return out


def cpu_jiffies() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_jiffies`` readings, percent."""
    d = [b - a for a, b in zip(before[:8], after[:8])]
    return 100 * d[7] / max(1, sum(d))


class WorkerRss:
    """Background poller of the Python UDF workers under the JVM.

    ``median_mb`` is the median, over the polls that find a worker alive,
    of the largest resident set of one live worker: the memory one worker
    holds while the workload runs, the figure ``spark.executor.pyspark.memory``
    must cover. It is not a sum over the workers (how many are alive at once
    is the scheduler's choice) nor a peak (a single task of a seed can lift
    one worker to ~2.6 GB for a moment, which a peak would report as the
    run's figure); that peak is ``max_mb``, kept apart."""

    def __init__(self, jvm: int | None, every_s: float = 0.2):
        import threading

        self._jvm, self._every = jvm, every_s
        self.peaks: dict[int, float] = {}  # worker pid -> its VmHWM, MiB
        self.largest: list[float] = []     # per poll: largest VmRSS of a live worker
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="worker-rss", daemon=True)

    @property
    def max_mb(self) -> float:
        return max(self.peaks.values(), default=0.0)

    @property
    def median_mb(self) -> float:
        import statistics

        return statistics.median(self.largest) if self.largest else 0.0

    def _poll(self) -> None:
        rss = []
        for pid in python_workers(self._jvm):
            self.peaks[pid] = max(self.peaks.get(pid, 0.0), hwm_mb(pid))
            rss.append(rss_mb(pid))
        if any(rss):
            self.largest.append(max(rss))

    def _loop(self) -> None:
        while not self._stop.wait(self._every):
            self._poll()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._poll()
