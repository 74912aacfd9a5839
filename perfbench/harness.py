"""Measurement plumbing shared by the workloads: the sized Spark session,
span tracing, Spark's job and stage records, RSS sampling and statistics.

Everything here observes the engine from outside: it times calls into the
package and reads Spark's own status store; nothing in the package is
patched or edited.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# ---------------------------------------------------------------------------
# statistics


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quartiles(xs) -> tuple[float, float]:
    if len(xs) < 2:
        v = median(xs)
        return v, v
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(xs) -> tuple[float, float, int]:
    """The highest of ``TAIL_PERCENTILES`` with at least 10 samples above it:
    (percentile, value, sample count).  Falls back to the median when there
    are fewer than 20 samples."""
    s = sorted(xs)
    n = len(s)
    for p in TAIL_PERCENTILES:
        rank = math.ceil(p / 100.0 * n)  # samples at or below the percentile
        if rank >= 1 and n - rank >= 10:
            return p, float(s[rank - 1]), n
    return 50.0, median(s), n


def host_spin_ms() -> float:
    """A fixed pure-Python loop: a host-speed indicator, never used to
    adjust other numbers."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i & 7
    return (time.perf_counter() - t0) * 1000.0


# ---------------------------------------------------------------------------
# Spark session sized to the host


def start_session(work_dir: str):
    """``get_spark`` at ``local[nproc]`` with a driver heap that fits a
    shared 15 GB host; returns (spark, seconds, description)."""
    import pathwaydataframework_spark as pw

    cpus = os.cpu_count() or 1
    local_dir = os.path.join(work_dir, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    t0 = time.perf_counter()
    spark = pw.get_spark(
        app_name="perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": local_dir,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local_dir}",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "10",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    elapsed = time.perf_counter() - t0
    sc = spark.sparkContext
    desc = (
        f"cores={cpus} master={sc.master} defaultParallelism={sc.defaultParallelism} "
        f"shuffle.partitions={spark.conf.get('spark.sql.shuffle.partitions')}"
    )
    return spark, elapsed, desc


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


# ---------------------------------------------------------------------------
# memory


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the RSS of the driver JVM plus this Python process every
    50 ms on a daemon thread; ``stop()`` returns the peak in MB."""

    def __init__(self, pids: list[int]):
        self._pids = pids
        self._peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self._peak_kb = max(self._peak_kb, sum(_rss_kb(p) for p in self._pids))

    def _loop(self) -> None:
        while not self._stop.wait(0.05):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self._peak_kb / 1024.0


# ---------------------------------------------------------------------------
# spans


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    trace: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans (name, start, end, parent, one trace id per request,
    batch or pass), written as JSON lines when the run ends.  A disabled
    tracer records nothing and costs one branch per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, trace: str, parent: Span | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            s = Span(next(self._ids), parent.id if parent else None, name, trace,
                     time.time(), attrs=attrs)
            self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.time()

    def add(self, name: str, trace: str, start: float, end: float,
            parent: Span | None = None, **attrs) -> None:
        """Record a span measured elsewhere (epoch seconds)."""
        if self.enabled:
            with self._lock:
                self.spans.append(Span(next(self._ids), parent.id if parent else None,
                                       name, trace, start, end, attrs))

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# ---------------------------------------------------------------------------
# Spark's job and stage records


@dataclass
class Job:
    id: int
    group: str | None
    submit: float  # epoch seconds
    end: float
    stages: list[int]


STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_bytes", "inputBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("tasks", "numTasks", 1),
)


class StatusStore:
    """Reads finished jobs and their stages from Spark's status store
    (``sc._jsc.sc().statusStore()``, which answers with the UI off)."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._stage_cache: dict[int, dict] = {}

    def jobs(self) -> list[Job]:
        seq = self._store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            sub, comp = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue
            g = j.jobGroup()
            ids = j.stageIds()
            out.append(Job(
                j.jobId(),
                g.get() if g.isDefined() else None,
                sub.get().getTime() / 1000.0,
                comp.get().getTime() / 1000.0,
                [ids.apply(k) for k in range(ids.size())],
            ))
        return out

    def stage(self, stage_id: int) -> dict:
        if stage_id not in self._stage_cache:
            try:
                sd = self._store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # skipped stages have no attempt
                m = {k: 0 for k, _, _ in STAGE_FIELDS}
                m["stages"] = 0
            else:
                m = {k: getattr(sd, attr)() * scale for k, attr, scale in STAGE_FIELDS}
                m["stages"] = 1
            self._stage_cache[stage_id] = m
        return self._stage_cache[stage_id]


def union_seconds(intervals) -> float:
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


def exec_metrics(store: StatusStore, jobs: list[Job], wall_s: float, units: int) -> dict:
    """The ``exec.*`` per-layer metrics of ``jobs``, per unit of work
    (pass, request or micro-batch)."""
    units = max(units, 1)
    agg = {k: 0.0 for k, _, _ in STAGE_FIELDS}
    agg["stages"] = 0.0
    for j in jobs:
        for sid in j.stages:
            for k, v in store.stage(sid).items():
                agg[k] += v
    job_wall = union_seconds((j.submit, j.end) for j in jobs)
    out = {f"exec.{k}": v / units for k, v in agg.items()}
    out["exec.jobs"] = len(jobs) / units
    out["exec.job_wall_s"] = job_wall / units
    out["exec.driver_gap_s"] = max(wall_s - job_wall, 0.0) / units
    return out
