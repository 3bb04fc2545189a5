"""Shared machinery of the benchmark: statistics, host noise, memory,
the in-memory span tracer and the Spark session/counter helpers.

Nothing here imports pyspark at module import time, so the unit tests
of the pure helpers run without a JVM.
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass

# ------------------------------------------------------------ statistics

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least TAIL_BEYOND of ``n`` samples
    above it, or None when even the median would not qualify. n=100
    gives 90, n=1000 gives 99, n=30 gives 66."""
    if n < 2 * TAIL_BEYOND:
        return None
    return math.floor(100.0 - 100.0 * TAIL_BEYOND / n + 1e-9)


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolation percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def timing_summary(values_s: list[float]) -> dict:
    """Median and the highest percentile with ten samples beyond it, in
    ms, with the sample count they rest on."""
    out: dict = {"n": len(values_s)}
    if not values_s:
        return out
    out["p50_ms"] = statistics.median(values_s) * 1e3
    pct = tail_percentile(len(values_s))
    if pct is not None:
        out["tail_pct"] = pct
        out["tail_ms"] = percentile(values_s, pct) * 1e3
    return out


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------ host noise


def steal_s() -> float | None:
    """Cumulative hypervisor steal seconds (8th CPU field of /proc/stat)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def cpu_probe_ms() -> float:
    """Median of three single-threaded SHA-256 passes over 64 MiB (one
    1 MiB buffer hashed 64 times, so the probe adds nothing to the
    process's memory peak): a host that slowed down without reporting
    steal (shared caches, memory bandwidth, frequency) shows here."""
    data = bytes(range(256)) * (1 << 12)
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(64):
            h.update(data)
        h.digest()
        reps.append(time.perf_counter() - t0)
    return statistics.median(reps) * 1e3


def io_probe_ms(directory: str) -> float:
    """Write and fsync 8 MiB in ``directory``: shows a slow or contended
    disk, which every workload touches through Spark's local files."""
    path = os.path.join(directory, "io-probe")
    chunk = bytes(1 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as fh:
        for _ in range(8):
            fh.write(chunk)
        fh.flush()
        os.fsync(fh.fileno())
    dt = time.perf_counter() - t0
    os.unlink(path)
    return dt * 1e3


def host_snapshot(directory: str) -> dict:
    return {"steal_s": steal_s(), "loadavg": list(os.getloadavg()),
            "cpu_probe_ms": cpu_probe_ms(), "io_probe_ms": io_probe_ms(directory)}


def host_noise(before: dict, after: dict) -> dict:
    """Steal seconds accrued between two snapshots, and the load averages
    and probes at both ends; recorded with every run so an outlier can be
    judged."""
    s0, s1 = before["steal_s"], after["steal_s"]
    return {
        "steal_s": None if s0 is None or s1 is None else round(s1 - s0, 3),
        "loadavg_before": before["loadavg"],
        "loadavg_after": after["loadavg"],
        "cpu_probe_ms_before": before["cpu_probe_ms"],
        "cpu_probe_ms_after": after["cpu_probe_ms"],
        "io_probe_ms_before": before["io_probe_ms"],
        "io_probe_ms_after": after["io_probe_ms"],
    }


# ------------------------------------------------------------ memory


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def rss_tree() -> list[tuple[int, str, float]]:
    """(pid, command, resident-set high-water mark in MB) of this process
    and all its live descendants: the JVM and its Python workers."""
    pending = [os.getpid()]
    seen: set[int] = set()
    out = []
    while pending:
        pid = pending.pop()
        if pid in seen:
            continue
        seen.add(pid)
        out.append((pid, _comm(pid), _hwm_kb(pid) / 1024.0))
        pending.extend(_children(pid))
    return out


def jvm_memory_mb(spark) -> dict:
    """The driver JVM's memory once collected: heap still in use (what the
    engine retains) and non-heap in use (metaspace, code cache). Its
    resident peak is not used: G1 grows the heap by an amount that
    depends on GC timing, so the lake workload peaked at 0.9 GB in some
    seeds and 1.2 GB in others.

    Python's proxies of JVM objects die only in a cyclic collection, and
    the ContextCleaner frees the shuffle state of dead plans in the
    background, so one full GC left 0.4-0.8 GB of a corpus run's
    finished passes on the heap. Collecting every half second, at least
    four times and until the heap stops shrinking, leaves ~0.1 GB."""
    import gc

    gc.collect()
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used: list[int] = []
    while len(used) < 10:
        jvm.System.gc()
        used.append(mx.getHeapMemoryUsage().getUsed())
        if len(used) >= 4 and used[-2] - used[-1] < 2**20:
            break
        time.sleep(0.5)
    return {"heap_live_mb": used[-1] / 2**20,
            "non_heap_mb": mx.getNonHeapMemoryUsage().getUsed() / 2**20}


def footprint_mb(tree: list[tuple[int, str, float]], jvm: dict) -> float:
    """Resident peaks of the Python driver and workers, plus the JVM's
    live heap and non-heap."""
    python = sum(mb for _pid, comm, mb in tree if comm != "java")
    return python + jvm["heap_live_mb"] + jvm["non_heap_mb"]


# ------------------------------------------------------------ tracing


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = math.nan
    parent: int | None = None
    request: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the union of its children's
    intervals (clipped to the span)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(lo, s.start), min(hi, s.end)) for lo, hi in kids.get(s.id, [])
        ]
        out[s.id] = s.duration - union_length(clipped)
    return out


class Tracer:
    """In-memory span recorder. Spans nest per thread; a span inherits
    its parent's request id unless given one. ``wrap`` replaces a public
    function (or classmethod) on its owner with a span-recording wrapper
    until ``unwrap_all``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._ids = itertools.count()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = parent.request
        with self._lock:
            sid = next(self._ids)
        sp = Span(
            sid, name, time.perf_counter(),
            parent=parent.id if parent is not None else None, request=request,
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, request_of=None) -> None:
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        def wrapper(*args, **kwargs):
            rid = request_of(*args, **kwargs) if request_of else None
            with tracer.span(name, request=rid):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
        self._restore.append((owner, attr, raw))

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, raw = self._restore.pop()
            setattr(owner, attr, raw)

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def self_time_by_layer(self) -> dict[str, float]:
        """Total self seconds per layer. Span names are '<layer>.<call>';
        the benchmark's own root spans (client.*, bench.*) are no layer."""
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s.name.split(".", 1)[0]
            if layer not in ("client", "bench"):
                out[layer] = out.get(layer, 0.0) + st[s.id]
        return out


# ------------------------------------------------------------ spark

# local[N] width, pinned so hosts with more cores compare. One task slot:
# at the benchmark's sizes every workload is bound by per-job and
# per-stage overhead rather than by parallel work, and one slot leaves
# the host's other cores to the Python driver, the JIT compiler and the
# collector, so a run does not measure its own contention. (With two
# slots the corpus pass spread 0.2 over five seeds, with one 0.08.)
BENCH_CPUS = 1
# Pinned, so hosts with more RAM compare, and below get_spark's own
# default (a quarter of host RAM, at least 4g): every workload runs in
# 2g, and the footprint metric reads the live heap, not the cap.
BENCH_DRIVER_MEM = "2g"


def start_session(work: str):
    """The engine's own session (session.get_spark) with every scratch
    path inside ``work``; returns (spark, seconds it took)."""
    t0 = time.perf_counter()
    from trace_parquet_spark.session import get_spark

    cpus = min(BENCH_CPUS, len(os.sched_getaffinity(0)))
    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        driver_memory=BENCH_DRIVER_MEM,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError, ValueError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


class SessionCounters:
    """Jobs, stages and tasks per job group, and cumulative shuffle-write
    bytes, read through Spark's status tracker and status store."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)

    def drain(self) -> None:
        """Wait until every posted listener event is applied."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group_counts(self, group: str) -> dict:
        st = self._sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = [
            s for j in jobs if (ji := st.getJobInfo(j)) is not None
            for s in ji.stageIds
        ]
        tasks = 0
        for s in stages:
            si = st.getStageInfo(s)
            tasks += si.numTasks if si is not None else 0
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}

    def shuffle_write_bytes(self) -> int:
        es = self._sc._jsc.sc().statusStore().executorList(True)
        return sum(int(es.apply(i).totalShuffleWrite()) for i in range(es.size()))


def mean_counts(counts: list[dict]) -> dict:
    keys = ("jobs", "stages", "tasks")
    if not counts:
        return dict.fromkeys(keys, 0.0)
    return {k: sum(c[k] for c in counts) / len(counts) for k in keys}


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total
