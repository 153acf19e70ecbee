"""Counters read from outside the program under test.

- ``ProcTree``: CPU seconds and peak RSS of the driver's Python process
  and its JVM child (plus any Python workers the JVM forks), from /proc.
- ``JvmBeans``: GC and JIT compilation time from the JVM's management
  beans.
- ``SparkJobs``: per-job counters from Spark's in-process status store:
  jobs, tasks, executor CPU, shuffle write, input, output and spill
  bytes, with submit and complete times.  Jobs are attributed by id
  range (everything submitted between two points of the benchmark's
  own sequential calls) or by submit time (micro-batches, which run
  on the stream's thread).  A job that the store has evicted before it
  was read fails the run.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


class ProcTree:
    """The driver process and every live descendant (the JVM and the
    Python workers it forks)."""

    def __init__(self, root_pid: int | None = None):
        self.root = root_pid or os.getpid()

    def _children(self, pid: int) -> list[int]:
        out = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    out += [int(c) for c in fh.read().split()]
        except OSError:
            pass
        return out

    def pids(self) -> list[int]:
        seen, todo = [], [self.root]
        while todo:
            p = todo.pop()
            seen.append(p)
            todo += self._children(p)
        return seen

    def jvm_pid(self) -> int | None:
        for p in self.pids():
            try:
                with open(f"/proc/{p}/comm") as fh:
                    if fh.read().strip() == "java":
                        return p
            except OSError:
                continue
        return None

    @staticmethod
    def cpu_s(pid: int) -> float:
        """utime + stime of ``pid`` and its reaped children."""
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            return 0.0
        return sum(int(x) for x in fields[11:15]) / _TICK

    def tree_cpu_s(self) -> float:
        return sum(self.cpu_s(p) for p in self.pids())

    @staticmethod
    def peak_rss_mb(pid: int) -> float:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except OSError:
            pass
        return 0.0


class JvmBeans:
    def __init__(self, spark):
        self._mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()) / 1e3

    def jit_s(self) -> float:
        return self._mf.getCompilationMXBean().getTotalCompilationTime() / 1e3

    def settle(self, quiet_s: float = 0.5, limit_s: float = 15.0) -> None:
        """Collect the heap, then wait until the JIT has compiled nothing
        for ``quiet_s`` (at most ``limit_s``), so the compilations and
        garbage one operation left queued are not charged to the next."""
        self._mf.getMemoryMXBean().gc()
        deadline = time.time() + limit_s
        last, since = self.jit_s(), time.time()
        while time.time() < deadline and time.time() - since < quiet_s:
            time.sleep(0.05)
            now = self.jit_s()
            if now != last:
                last, since = now, time.time()


@dataclass
class Counters:
    """Sums over a set of Spark jobs."""

    jobs: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    scan_mb: float = 0.0
    scan_rows: int = 0
    written_mb: float = 0.0
    spill_mb: float = 0.0
    intervals: list = field(default_factory=list)  # (submit_s, complete_s)

    def add(self, other: "Counters") -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.task_cpu_s += other.task_cpu_s
        self.shuffle_mb += other.shuffle_mb
        self.scan_mb += other.scan_mb
        self.scan_rows += other.scan_rows
        self.written_mb += other.written_mb
        self.spill_mb += other.spill_mb
        self.intervals += other.intervals

    def busy_s(self, lo: float, hi: float) -> float:
        """Wall time inside [lo, hi] during which any of the jobs ran."""
        spans = sorted((max(a, lo), min(b, hi)) for a, b in self.intervals)
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        return busy


class SparkJobs:
    """Reads finished jobs from the status store, each stage once."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._seen_stages: set[int] = set()
        self._cache: dict[int, tuple[Counters, float]] = {}

    def next_job_id(self) -> int:
        """The id the next submitted job gets (ids are sequential)."""
        return int(self._jsc.dagScheduler().numTotalJobs())

    def drain(self) -> None:
        """Wait until the status store has seen every posted event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _job_counters(self, job_id: int) -> tuple[Counters, float]:
        if job_id in self._cache:
            return self._cache[job_id]
        try:
            job = self._store.job(job_id)
        except Exception as exc:  # py4j wraps NoSuchElementException
            raise RuntimeError(
                f"Spark job {job_id} is missing from the status store "
                "(evicted before it was counted, or never finished)"
            ) from exc
        c = Counters(jobs=1)
        sub = job.submissionTime()
        done = job.completionTime()
        t0 = sub.get().getTime() / 1e3 if sub.isDefined() else 0.0
        t1 = done.get().getTime() / 1e3 if done.isDefined() else t0
        c.intervals.append((t0, t1))
        stage_ids = job.stageIds()
        for k in range(stage_ids.size()):
            sid = int(stage_ids.apply(k))
            if sid in self._seen_stages:
                continue
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:
                continue  # skipped stage: it never ran an attempt
            if str(st.status()) == "SKIPPED":
                continue
            self._seen_stages.add(sid)
            c.tasks += int(st.numCompleteTasks())
            c.task_cpu_s += st.executorCpuTime() / 1e9
            c.shuffle_mb += st.shuffleWriteBytes() / MB
            c.scan_mb += st.inputBytes() / MB
            c.scan_rows += int(st.inputRecords())
            c.written_mb += st.outputBytes() / MB
            c.spill_mb += st.diskBytesSpilled() / MB
        self._cache[job_id] = (c, t0)
        return c, t0

    def read_range(self, lo: int, hi: int) -> Counters:
        """Counters of jobs with ids in [lo, hi)."""
        self.drain()
        total = Counters()
        for j in range(lo, hi):
            c, _ = self._job_counters(j)
            total.add(c)
        return total

    def read_by_submit_time(self, lo: int, hi: int, windows: list) -> list[Counters]:
        """Counters per time window [start_s, end_s) for jobs [lo, hi)."""
        self.drain()
        out = [Counters() for _ in windows]
        for j in range(lo, hi):
            c, t0 = self._job_counters(j)
            for k, (a, b) in enumerate(windows):
                if a <= t0 < b:
                    out[k].add(c)
                    break
        return out


@dataclass
class Call:
    """One timed call into the program."""

    name: str
    start: float
    end: float
    cpu_s: float  # driver process tree
    python_cpu_s: float
    jvm_cpu_s: float
    gc_s: float
    jit_s: float
    jobs: tuple[int, int]  # job id range [lo, hi)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Meter:
    """Times calls into the program and remembers what each cost, so
    checks and bookkeeping between calls stay out of every figure."""

    def __init__(self, spark):
        self.spark = spark
        self.proc = ProcTree()
        self.jobs = SparkJobs(spark)
        self.beans = JvmBeans(spark)
        self.calls: list[Call] = []
        self._jvm_pid = self.proc.jvm_pid()

    def _sample(self) -> tuple[float, ...]:
        jvm = self._jvm_pid
        return (
            self.proc.tree_cpu_s(),
            self.proc.cpu_s(os.getpid()),
            self.proc.cpu_s(jvm) if jvm else 0.0,
            self.beans.gc_s(),
            self.beans.jit_s(),
        )

    def call(self, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)``, timed; the samples are taken outside
        the timed interval."""
        lo = self.jobs.next_job_id()
        s0 = self._sample()
        t0 = time.time()
        out = fn(*args, **kwargs)
        t1 = time.time()
        s1 = self._sample()
        d = [b - a for a, b in zip(s0, s1)]
        self.calls.append(Call(name, t0, t1, *d, (lo, self.jobs.next_job_id())))
        return out

    def counters(self, calls: list[Call]) -> Counters:
        total = Counters()
        for c in calls:
            total.add(self.jobs.read_range(*c.jobs))
        return total

    def driver_s(self, call: Call) -> float:
        """Wall time of ``call`` when none of its Spark jobs was running."""
        c = self.jobs.read_range(*call.jobs)
        return call.wall_s - c.busy_s(call.start, call.end)

    def peak_rss_mb(self) -> float:
        jvm = self._jvm_pid
        return self.proc.peak_rss_mb(os.getpid()) + (
            self.proc.peak_rss_mb(jvm) if jvm else 0.0
        )
