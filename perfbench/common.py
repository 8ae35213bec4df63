"""Pieces shared by the benchmark's workloads: host fit, statistics,
the driver job counter, the calibration canary and the span tracer.

Nothing here imports pyspark at module level, so the generator process
and the tests import it without starting a JVM.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


# ---------------------------------------------------------------- host


def host_fit(work: str, spark_cpus: int) -> dict:
    """Point the engine's existing environment settings at this host
    and at the run's own directory, before the JVM starts: cores,
    driver heap sized to RAM, Spark's scratch dirs and Python's temp
    dir (several queries cache their indexes under ``tempfile``)."""
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    mem_gb = mem_kb / 2**20
    # a quarter of RAM, 1..4 GiB: the relay's state is small, and the
    # session default (48g) does not fit a small host
    driver_gb = int(max(1, min(4, mem_gb // 4)))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(spark_cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_gb}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "nproc": nproc(),
        "spark_cpus": spark_cpus,
        "mem_gb": round(mem_gb, 1),
        "driver_mem_gb": driver_gb,
    }


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(work: str) -> dict[str, str]:
    """Session settings that keep the JVM's files inside the run dir."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def canary_s() -> float:
    """Best of three runs of a fixed pure-Python loop: a host whose
    CPU is stolen or throttled reads slower."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters (``/proc/stat``, in ticks)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two ``cpu_times`` readings (field 8 of the cpu line is steal)."""
    delta = [b - a for a, b in zip(before, after)]
    # guest time is already counted in user/nice
    total = sum(delta[:8])
    return delta[7] / total if total else 0.0


# ---------------------------------------------------------- statistics


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (``pct`` in 0..100)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


TAIL_PCTS = (99.0, 95.0, 90.0, 80.0)


def summary(values: list[float]) -> dict:
    """Median and tail of independent samples.  The tail is the highest
    of TAIL_PCTS with at least ten samples beyond it; with fewer than
    fifty samples it is the maximum, labelled as such."""
    n = len(values)
    for pct in TAIL_PCTS:
        if n * (100.0 - pct) / 100.0 >= 10:
            tail, label = percentile(values, pct), f"p{pct:g}"
            break
    else:
        tail, label = max(values), "max"
    return {
        "p50": statistics.median(values),
        "tail": tail,
        "tail_label": label,
        "n": n,
    }


def file_latencies(
    commit_time: dict[int, float],
    batch_files: dict[int, list[str]],
    file_due: dict[str, float],
) -> dict[str, float]:
    """Latency of each input file's events, from a checkpoint's commit
    log.

    ``commit_time`` maps batch id -> when its ``commits/`` entry
    landed; ``batch_files`` maps batch id -> the input files the batch
    read; ``file_due`` maps file name -> the due time of its events.
    Every event of a file has latency ``commit - due``, so a file is one
    sample.  Files of uncommitted batches, and files not in
    ``file_due``, are skipped."""
    return {
        f: commit_time[batch] - file_due[f]
        for batch, files in batch_files.items()
        if batch in commit_time
        for f in files
        if f in file_due
    }


class Checks:
    """Output checks of one run: how many ran, and the failures."""

    def __init__(self):
        self.run = 0
        self.errors: list[str] = []

    def expect(self, ok: bool, failure: str) -> None:
        self.run += 1
        if not ok:
            self.errors.append(failure)


# ------------------------------------------------------ spark counters


def next_job_id(spark) -> int:
    """The DAGScheduler's monotone job counter (differences of it count
    the jobs a call ran, unbounded by spark.ui.retainedJobs)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def listing(path: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``path``."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            try:
                out[os.path.relpath(p, path)] = os.path.getsize(p)
            except FileNotFoundError:  # a store swapped a dir mid-walk
                pass
    return out


# -------------------------------------------------------------- tracing


class Tracer:
    """Spans at layer boundaries, kept in memory and written at exit.

    Each span records name, start, end, parent, the run/batch id, and
    the driver jobs started inside it.  Self time is the span's length
    minus its children's (spans nest strictly: the traced paths are
    single-threaded)."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, batch=None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "batch": batch,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        j0 = next_job_id(self.spark)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = next_job_id(self.spark) - j0
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def cost_per_span_s(self) -> float:
        """Measured cost of recording one span (the tracing overhead
        unit): 200 empty spans, timed, then discarded."""
        keep = len(self.spans)
        t0 = time.perf_counter()
        for _ in range(200):
            with self.span("calibration"):
                pass
        dt = (time.perf_counter() - t0) / 200
        del self.spans[keep:]
        return dt

    def write(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self_s": own[s["id"]]}) + "\n")
