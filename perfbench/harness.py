"""Measurement helpers shared by the workloads: percentiles, spans,
per-layer counters, process-tree memory and the Spark session.

Nothing here imports the engine at module load, so the helpers (and
their tests) run without a JVM.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

#: a tail percentile needs this many samples beyond it
TAIL_BEYOND = 10


def p50(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float, int]:
    """The highest percentile with at least TAIL_BEYOND samples beyond it:
    (value, percentile, sample count). The value is the order statistic
    with exactly TAIL_BEYOND samples above it, so the percentile is
    100·(n−TAIL_BEYOND)/n. Raises ValueError below TAIL_BEYOND+1
    samples, where no such percentile exists."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples: a tail needs more than {TAIL_BEYOND}")
    return float(xs[n - TAIL_BEYOND - 1]), 100.0 * (n - TAIL_BEYOND) / n, n


# --- spans ---------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    trace: str
    parent: int | None
    sid: int


class Tracer:
    """In-memory spans around calls into the engine's layers. Disabled,
    ``span`` is a no-op context manager, so the untraced run pays one
    attribute check per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            sp = Span(name, time.perf_counter(), 0.0,
                      trace or (parent.trace if parent else name),
                      parent.sid if parent else None, sid)
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def add(self, name: str, start: float, end: float, trace: str) -> Span:
        """Record a span measured elsewhere (e.g. from a progress event)."""
        with self._lock:
            sp = Span(name, start, end, trace, None, len(self.spans))
            self.spans.append(sp)
        return sp

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "trace": s.trace, "parent": s.parent, "id": s.sid,
                }) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name, in ms: each span's duration minus
    the part of its interval covered by its children (child intervals
    clipped to the parent and merged, so overlapping children count
    once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        lo_hi = sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.sid, ())
        )
        cur_lo = cur_hi = None
        for lo, hi in lo_hi:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - covered) * 1000.0
    return out


# --- process-tree memory -------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    """Pids of every process under ``root``."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.extend(kids.get(pid, ()))
        todo.extend(kids.get(pid, ()))
    return out


def tree_pss_mb(root: int) -> float:
    """Proportional set size of ``root`` and all its descendants (the
    driver JVM and the Python workers are children of this process).
    PSS splits pages shared between processes — a forked Python worker
    and its daemon — among them, where RSS would count them once per
    process."""
    total_kb = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class RssSampler:
    """Background sampler of the process tree's peak resident memory."""

    def __init__(self, interval_s: float = 0.5):
        self.peak = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_mb(os.getpid()))
            self._stop.wait(self._interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_mb(os.getpid()))


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Shut the py4j gateway, then wait for the driver JVM and every
    process under it (the Python workers) to end."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the JVM exits when its stdin closes
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    raise TimeoutError(f"processes still running after {timeout_s}s: {alive}")


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters from /proc/stat (jiffies)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time the hypervisor gave to other guests between
    two ``cpu_times`` readings: on a shared host every wall-clock metric
    slows with it."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


# --- Spark jobs per job group -------------------------------------------


def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under ``group``, from the StatusTracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            tasks += si.numTasks if si else 0
    return len(jobs), tasks


@contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


# --- session -------------------------------------------------------------


def start_session(work: str, cpus: int):
    """The engine's SparkSession on ``local[cpus]``, with scratch dirs
    inside the run's work dir. Returns (spark, start_s, warmup_s):
    warm-up is one small job that loads the executor code paths."""
    from kafka_cdc_elasticsearch_pipeline_spark.session import get_spark

    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: resident memory then moves with
            # what lives outside it (Python workers, metaspace, off-heap)
            # instead of with the garbage collector's timing
            "spark.driver.extraJavaOptions":
                f"-Xms{heap} -XX:+AlwaysPreTouch"
                f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                f" -Dderby.system.home={os.path.join(work, 'derby')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(100_000).selectExpr("sum(id)").collect()
    return spark, t1 - t0, time.perf_counter() - t1
