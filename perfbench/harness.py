"""Measurement machinery shared by the benchmark workloads.

Everything here observes the engine from outside: it times calls into the
engine's public functions, tags the Spark jobs each call launches with a
job group, and reads the driver's status store for those jobs only.  No
engine module is patched.

Pure helpers (``tail_percentile``, ``self_time``, ``attribute``,
``Outcomes``) carry no Spark dependency so the self-tests exercise them
directly.
"""

from __future__ import annotations

import json
import os
import platform
import re
import resource
import shutil
import socket
import subprocess
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

# --------------------------------------------------------------------------
# Percentiles
# --------------------------------------------------------------------------

#: Candidate percentiles, in per-mille so rank arithmetic stays exact.
_LADDER_PERMILLE = (999, 990, 950, 900)


def _rank(permille: int, n: int) -> int:
    """1-based nearest rank of the per-mille percentile among ``n`` samples."""
    return max(1, -(-permille * n // 1000))


def tail_percentile(n: int) -> float | None:
    """Highest of p99.9, p99, p95, p90 with at least ten of ``n`` samples
    beyond it, or None when even p90 has fewer than ten."""
    for pm in _LADDER_PERMILLE:
        if n - _rank(pm, n) >= 10:
            return pm / 10
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample that at least ``p``
    percent of the samples do not exceed."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(round(p * 10), len(values)) - 1]


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    req: str | None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of it its children cover
    (children clipped to the span; overlapping children counted once)."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return (span.end - span.start) - union_length(clipped)


class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._req: str | None = None

    @contextmanager
    def request(self, req: str):
        prev, self._req = self._req, req
        try:
            yield
        finally:
            self._req = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(
            len(self.spans), name, time.perf_counter(), 0.0,
            self._stack[-1] if self._stack else None, self._req,
        )
        self.spans.append(sp)
        self._stack.append(sp.sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int) -> None:
        self.spans.append(Span(len(self.spans), name, start, end, parent, self._req))

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def coverage(self, start: float, end: float) -> float:
        """Share of ``[start, end]`` covered by top-level spans."""
        top = [(s.start, s.end) for s in self.spans if s.parent is None]
        clipped = [(max(s, start), min(e, end)) for s, e in top if e > start and s < end]
        return union_length(clipped) / (end - start) if end > start else 0.0


# --------------------------------------------------------------------------
# Spark job-group attribution
# --------------------------------------------------------------------------


@dataclass
class JobRec:
    job_id: int
    stage_ids: list[int]
    start_s: float | None
    end_s: float | None
    tasks: int


@dataclass
class StageRec:
    run_s: float
    cpu_s: float
    shuffle_write_b: int
    spill_b: int
    input_b: int


@dataclass
class Counters:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "Counters") -> None:
        for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
                  "shuffle_write_mb", "spill_mb", "input_mb"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.job_intervals.extend(other.job_intervals)


def attribute(jobs: list[JobRec], stages: dict[int, StageRec]) -> Counters:
    """Sum one call's jobs and their stages.  Every stage is counted once,
    even when several jobs of the call list it; a stage the store no
    longer holds adds nothing rather than a negative delta."""
    c = Counters(jobs=len(jobs))
    seen: set[int] = set()
    for j in jobs:
        c.tasks += j.tasks
        if j.start_s is not None and j.end_s is not None:
            c.job_intervals.append((j.start_s, j.end_s))
        for sid in j.stage_ids:
            st = stages.get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            c.executor_run_s += st.run_s
            c.executor_cpu_s += st.cpu_s
            c.shuffle_write_mb += st.shuffle_write_b / 1e6
            c.spill_mb += st.spill_b / 1e6
            c.input_mb += st.input_b / 1e6
    return c


@dataclass
class Attribution:
    """What one layer call cost: wall seconds, its Spark counters, the
    Python-worker seconds of its SQL executions, and its wall seconds with
    no Spark job running.  Counters stay empty unless the probe reads."""

    seconds: float = 0.0
    counters: Counters = field(default_factory=Counters)
    python_s: float = 0.0
    no_job_s: float = 0.0


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkProbe:
    """Tags each call's jobs with a fresh job group and, when reading is
    on, attributes jobs, stages and Python-worker time to that call right
    after it returns: the status store keeps only the latest
    ``spark.ui.retainedStages`` stages, so workload-long before/after
    totals would undercount (or go negative) once it wraps."""

    _PY_TIME = "time to run Python workers"

    def __init__(self, spark, read: bool) -> None:
        self.sc = spark.sparkContext
        self.read = read
        self._n = 0
        self._store = self.sc._jsc.sc().statusStore() if read else None
        self._sql = spark._jsparkSession.sharedState().statusStore() if read else None
        self._last_exec = -1
        #: seconds spent reading the stores: the cost tracing adds to a run
        self.read_s = 0.0

    @contextmanager
    def group(self, more_groups=None):
        """Run the body under a fresh job group; yields a holder whose
        ``counters`` is filled on exit when reading is on.  Jobs that run
        under other groups on the call's behalf (a streaming query's
        thread uses its run id) are added when ``more_groups()`` names
        those groups."""
        self._n += 1
        gid = f"perfbench-{self._n}"
        holder = Attribution()
        self.sc.setJobGroup(gid, gid)
        try:
            yield holder
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            if self.read:
                t0 = time.perf_counter()
                holder.counters, job_ids = self._read_group(gid)
                for g in more_groups() if more_groups else ():
                    c, ids = self._read_group(g)
                    holder.counters.add(c)
                    job_ids |= ids
                holder.python_s = self._python_seconds(job_ids)
                self.read_s += time.perf_counter() - t0

    def _read_group(self, gid: str) -> tuple[Counters, set[int]]:
        ids = list(self.sc.statusTracker().getJobIdsForGroup(gid))
        jobs: list[JobRec] = []
        stages: dict[int, StageRec] = {}
        # JVM Date.getTime() is wall-clock epoch; spans use perf_counter.
        shift = time.perf_counter() - time.time()
        for jid in ids:
            try:
                jd = self._store.job(jid)
            except Exception:  # evicted between listing and reading
                continue
            sids = [int(s) for s in _scala_seq(jd.stageIds())]
            start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            jobs.append(JobRec(
                jid, sids,
                None if start is None else start + shift,
                None if end is None else end + shift,
                int(jd.numTasks()),
            ))
            for sid in sids:
                if sid in stages:
                    continue
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never ran, holds no metrics
                    continue
                stages[sid] = StageRec(
                    sd.executorRunTime() / 1000.0,
                    sd.executorCpuTime() / 1e9,
                    int(sd.shuffleWriteBytes()),
                    int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled()),
                    int(sd.inputBytes()),
                )
        return attribute(jobs, stages), set(ids)

    def _python_seconds(self, job_ids: set[int]) -> float:
        """``time to run Python workers`` summed over the SQL executions
        that ran the given jobs (the SQL-path Python/Arrow kernels; RDD
        ``mapPartitions`` kernels report no SQL metric and are not
        covered)."""
        total = 0.0
        for ex in self._new_executions():
            jobs = {int(k) for k in _scala_seq(ex.jobs().keys())}
            if not jobs & job_ids:
                continue
            ids = [m.accumulatorId() for m in _scala_seq(ex.metrics())
                   if m.name() == self._PY_TIME]
            if not ids:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            for acc in ids:
                v = values.get(acc)
                if v.isDefined():
                    total += parse_duration(v.get())
        return total

    def _new_executions(self) -> list:
        """SQL executions started since the previous call (the store lists
        them in id order; the tail window grows until it reaches an
        execution already seen)."""
        n = int(self._sql.executionsCount())
        window = 8
        while True:
            window = min(window, n)
            execs = _scala_seq(self._sql.executionsList(n - window, window))
            if window == n or not execs or execs[0].executionId() <= self._last_exec:
                break
            window *= 2
        fresh = [e for e in execs if e.executionId() > self._last_exec]
        if fresh:
            self._last_exec = fresh[-1].executionId()
        return fresh


def _scala_seq(seq) -> list:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


_DUR = re.compile(r"([0-9][0-9.,]*)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_duration(text: str) -> float:
    """Seconds from a Spark SQL timing metric string: the total, which is
    the first duration after the header line (``"total (min, med, max
    ...)\\n1.2 s (...)"``), or the lone value (``"35 ms"``)."""
    body = text.split("\n", 1)[-1]
    m = _DUR.search(body)
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


# --------------------------------------------------------------------------
# Outcomes
# --------------------------------------------------------------------------


class Outcomes:
    """Attempted/failed operation counts; a failure never stops the run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}"[:500])
        return ok

    @contextmanager
    def op(self, what: str):
        """Count the body as one operation; an exception marks it failed."""
        try:
            yield
        except Exception as e:  # the benchmark reports failures, it does not stop
            self.record(what, False, f"{type(e).__name__}: {e}")
        else:
            self.record(what, True)

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# --------------------------------------------------------------------------
# Layer accounting
# --------------------------------------------------------------------------


class Layers:
    """Per-layer accumulators plus the workload-wide Spark totals."""

    def __init__(self, tracer: Tracer, probe: SparkProbe) -> None:
        self.tracer = tracer
        self.probe = probe
        self.values: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.total = Counters()
        self.python_s = 0.0
        self.no_job_s = 0.0

    @contextmanager
    def call(self, name: str, more_groups=None):
        """Time one call into a layer: a span, a job group, and (when the
        probe reads) the call's jobs as child spans and counters."""
        with self.tracer.span(name) as sp, self.probe.group(more_groups) as att:
            t0 = time.perf_counter()
            yield att
            att.seconds = time.perf_counter() - t0
        c = att.counters
        self.total.add(c)
        self.python_s += att.python_s
        att.no_job_s = max(0.0, att.seconds - union_length(c.job_intervals))
        self.no_job_s += att.no_job_s
        if sp is not None:
            for s, e in c.job_intervals:
                self.tracer.add("spark.job", s, e, sp.sid)

    def timed(self, name: str, fn, *args, more_groups=None, **kwargs):
        """``fn(*args)`` as one layer call; its seconds land in ``samples[name]``."""
        with self.call(name, more_groups) as att:
            out = fn(*args, **kwargs)
        self.samples[name].append(att.seconds)
        return out, att


# --------------------------------------------------------------------------
# Host, memory, isolation
# --------------------------------------------------------------------------


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of host memory, between 1 and 8 GiB."""
    gib = mem_total_kb() // (1024 * 1024)
    return f"{max(1, min(8, gib // 4))}g"


def host_stamp(root: str, seed: int, cores: int, driver_mem: str, spark) -> dict:
    import pyspark

    commit = None
    try:
        top, head = subprocess.run(
            ["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.split() or (None, None)
        # a checkout that is not itself a repository has no commit, even
        # when a directory above it is one
        if top and os.path.realpath(top) == os.path.realpath(root):
            commit = head
    except (OSError, subprocess.SubprocessError, ValueError):
        pass
    return {
        "hostname": socket.gethostname(),
        "nproc": os.cpu_count(),
        "mem_total_kb": mem_total_kb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "commit": commit,
        "seed": seed,
        "session_cores": cores,
        "driver_memory": driver_mem,
    }


def jvm_hwm_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_live_mb(spark) -> tuple[float, float]:
    """Driver JVM heap still in use after a full collection, and non-heap
    (metaspace, code cache) in use: what the engine keeps alive."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # A collection lets Spark's context cleaner drop the blocks of
    # broadcasts and RDDs nothing references any more, on its own thread;
    # collect again until the live heap stops shrinking.
    prev = None
    for _ in range(8):
        jvm.java.lang.System.gc()
        heap = mx.getHeapMemoryUsage().getUsed() / 2**20
        if prev is not None and prev - heap < 1.0:
            break
        prev = heap
        time.sleep(0.25)
    return heap, mx.getNonHeapMemoryUsage().getUsed() / 2**20


def python_maxrss_mb() -> float:
    """Peak resident set of this (Python driver) process so far."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def python_rss_mb() -> float:
    """Current resident set (VmRSS) of this process."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def file_count(path: str, suffix: str = "") -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files
        if f.endswith(suffix) and not f.startswith((".", "_"))
    )


#: Places the engine writes on its own (e.g. ``streaming.jobs._ckpt``'s
#: ``.scratch/<tag>-<uuid>``) rather than under paths the benchmark passes.
WATCHED = (".scratch", "spark-warehouse", "metastore_db", "derby.log")


def snapshot(root: str) -> set[str]:
    out = set()
    for w in WATCHED:
        p = os.path.join(root, w)
        if os.path.isdir(p):
            out.update(os.path.join(w, e) for e in os.listdir(p))
            out.add(w)
        elif os.path.exists(p):
            out.add(w)
    return out


class WorkDir:
    """The run's private directory; removed on exit, always."""

    def __init__(self, root: str, tag: str) -> None:
        self.path = os.path.join(root, ".bench_work", f"{tag}-{os.getpid()}")

    def __enter__(self) -> str:
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        return self.path

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def stop_driver() -> None:
    """Stop the active Spark context, if any, then end the driver JVM, if
    one was launched, and wait for it: closing its stdin is the gateway's
    signal to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def emit(obj: dict) -> None:
    print(json.dumps(obj), flush=True)
