"""Measurement helpers: percentiles, host-noise record, process CPU and
memory, and the traced-run bookkeeping (job groups and timing shims)."""

from __future__ import annotations

import os
import re
import statistics
import time
from contextlib import contextmanager

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def percentile(samples: list[float], q: int) -> float:
    """The ``q``-th percentile (q > 50), refused unless at least ten
    samples lie beyond it."""
    n = len(samples)
    if n * (100 - q) / 100 < 10:
        raise ValueError(f"p{q} needs >=10 samples beyond it; have {n} samples")
    return statistics.quantiles(samples, n=100, method="inclusive")[q - 1]


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return statistics.median(samples)


# --- host noise -----------------------------------------------------------


def _psi_some_total_us() -> int | None:
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    return int(line.rsplit("total=", 1)[1])
    except OSError:
        return None
    return None


def calibrate() -> float:
    """A fixed pure-Python CPU loop pinned to one core, in ms: the same
    work on every run, so its time moves only with the host."""
    prior = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {min(prior)})
    try:
        best = float("inf")
        for _ in range(3):
            t = time.perf_counter()
            acc = 0
            for i in range(300_000):
                acc += i * i % 7
            best = min(best, time.perf_counter() - t)
        return best * 1e3
    finally:
        os.sched_setaffinity(0, prior)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _gc_ms(spark) -> int:
    """Total collection time of the JVM's garbage collectors, in ms."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())


class HostRecord:
    """Load averages, CPU pressure, steal time, JVM GC time and the
    calibration loop over the measured phase."""

    def __init__(self, spark):
        self.spark = spark

    def start(self) -> None:
        self.load_start = os.getloadavg()
        self.calib_start = calibrate()
        self.gc0 = _gc_ms(self.spark)
        self.ticks0 = _cpu_ticks()
        self.psi0, self.t0 = _psi_some_total_us(), time.perf_counter()

    def stop(self) -> None:
        psi1, t1 = _psi_some_total_us(), time.perf_counter()
        steal, total = (b - a for a, b in zip(self.ticks0, _cpu_ticks()))
        self.steal_pct = 100.0 * steal / total if total else 0.0
        self.gc_ms = _gc_ms(self.spark) - self.gc0
        self.calib_end = calibrate()
        self.load_end = os.getloadavg()
        self.psi_pct = (
            100.0 * (psi1 - self.psi0) / ((t1 - self.t0) * 1e6)
            if psi1 is not None and self.psi0 is not None
            else -1.0
        )

    def record(self) -> dict:
        return {
            "loadavg_start": list(self.load_start),
            "loadavg_end": list(self.load_end),
            "cpu_pressure_some_pct": self.psi_pct,
            "cpu_steal_pct": self.steal_pct,
            "jvm_gc_ms": self.gc_ms,
            "calib_ms_start": self.calib_start,
            "calib_ms_end": self.calib_end,
        }


# --- process CPU and memory -------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(p) for p in f.read().split()]
    except OSError:
        return []


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _cpu_s(pid: int) -> float:
    """utime+stime of ``pid`` plus its reaped children, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    # fields[11..14] = utime, stime, cutime, cstime
    return sum(int(x) for x in fields[11:15]) / _TICK


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of this driver plus the JVM and its workers."""
    own = os.times()
    return own.user + own.system + sum(_cpu_s(p) for p in _tree(jvm_pid))


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM")


def partition_files(root: str) -> dict[str, frozenset[tuple[str, int]]]:
    """{partition dir: {(file, bytes)}} of a table's parquet files."""
    out: dict[str, frozenset[tuple[str, int]]] = {}
    for dirpath, _dirs, files in os.walk(root):
        parts = frozenset(
            (f, os.path.getsize(os.path.join(dirpath, f)))
            for f in files
            if f.endswith(".parquet")
        )
        if parts:
            out[os.path.relpath(dirpath, root)] = parts
    return out


# --- tracing ---------------------------------------------------------------


def traced_slot(k: int) -> bool:
    """Whether the ``k``-th measured operation of a traced run is traced.
    The pattern T U U T repeats, so traced and untraced operations are
    spread evenly over a run whose operations slowly grow."""
    return k % 4 in (0, 3)


class Tracer:
    """Per-layer spans and Spark work counts for the traced run.

    Disabled, only the ``add``/``count`` records the benchmark takes from
    outside anyway are kept. Enabled, operations alternate between traced
    and untraced (``active``, see :func:`traced_slot`), so that the run
    itself holds the untraced reference its tracing cost is measured
    against. A traced operation runs under its own job group, and the
    module attributes wrapped with timing shims record spans; an untraced
    one calls straight through."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.active = enabled
        self.sc = spark.sparkContext
        self.spans: dict[str, list[float]] = {}
        self.counts: dict[str, list[int]] = {}
        self._n = 0
        self._saved: list[tuple[object, str, object]] = []

    def reset(self) -> None:
        """Forget what warm-up recorded; the measured phase starts."""
        self.spans.clear()
        self.counts.clear()

    def add(self, name: str, value: float) -> None:
        self.spans.setdefault(name, []).append(value)

    def count(self, name: str, value: int) -> None:
        self.counts.setdefault(name, []).append(value)

    @contextmanager
    def group(self, kind: str):
        """Run the body under a fresh job group; on exit record the jobs,
        stages and tasks it ran as ``<kind>.jobs`` etc."""
        if not self.active:
            yield
            return
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, kind)
        try:
            yield
        finally:
            jobs, stages, tasks = self.work(gid)
            self.sc.setJobGroup(None, None)
            self.count(f"{kind}.jobs", jobs)
            self.count(f"{kind}.stages", stages)
            self.count(f"{kind}.tasks", tasks)

    def job_ids(self, gid: str | None) -> set[int]:
        if gid is None:
            return set()
        return set(self.sc.statusTracker().getJobIdsForGroup(gid))

    def work(self, gid: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) of a job group."""
        st = self.sc.statusTracker()
        jobs = self.job_ids(gid)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                sinfo = st.getStageInfo(s)
                if sinfo is not None:
                    tasks += sinfo.numTasks
        return len(jobs), stages, tasks

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until :meth:`unshim`."""
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def shim(self, owner, attr: str, name: str, around=None) -> None:
        """Replace ``owner.attr`` with a wrapper that, in a traced
        operation, records its wall time in ms as span ``name`` and the
        jobs it ran in the caller's job group as ``name.jobs``.
        ``around()``, if given, runs before the call and returns a
        callable run after it (for state snapshots)."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            gid = tracer.sc.getLocalProperty("spark.jobGroup.id")
            before = tracer.job_ids(gid)
            after_hook = around() if around else None
            t = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.add(name, (time.perf_counter() - t) * 1e3)
                tracer.count(f"{name}.jobs", len(tracer.job_ids(gid) - before))
                if after_hook:
                    after_hook()

        self.replace(owner, attr, wrapper)

    def unshim(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
