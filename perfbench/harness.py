"""Shared run machinery: isolated run directories, session sizing, the
percentile rule, JVM probes and an in-memory span recorder."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass

# percentiles a tail may be reported at, highest first
TAILS = (99, 95, 90, 75)
MIN_BEYOND = 10


def highest_tail(values: list[float]) -> tuple[int, float] | None:
    """The highest percentile in TAILS with at least MIN_BEYOND samples
    above it, and its value (nearest rank); None when too few samples."""
    for q in TAILS:
        v = tail(values, q)
        if v is not None:
            return q, v
    return None


def tail(values: list[float], q: int, scale: float = 1.0) -> float | None:
    """The q-th percentile (nearest rank) times ``scale``, or None when
    fewer than MIN_BEYOND samples lie beyond it."""
    s = sorted(values)
    if len(s) * (100 - q) / 100 < MIN_BEYOND:
        return None
    return s[max(1, -(-len(s) * q // 100)) - 1] * scale  # rank ceil(n*q/100)


def timing_summary(values: list[float]) -> dict:
    """Sample count, median and the highest supported tail of a timing."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    if len(values) <= 50:
        out["values"] = [round(v, 4) for v in values]
    tail = highest_tail(values)
    if tail is not None:
        out[f"p{tail[0]}"] = tail[1]
    return out


# -- run isolation and session sizing ----------------------------------------


@dataclass
class RunDirs:
    root: str

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def fresh(self, *parts: str) -> str:
        """A new empty directory under the run root."""
        p = os.path.join(self.root, *parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p


@contextlib.contextmanager
def run_dirs(base: str, name: str):
    """A run directory that exists only for the run: engine log, checkpoint,
    cache and Spark scratch roots all live under it."""
    root = os.path.join(base, f"{name}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        yield RunDirs(root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def driver_mem_mb() -> int:
    """Heap for the local-mode JVM: a quarter of physical memory, capped at
    4 GiB (the workloads are small; a larger heap only delays GC)."""
    total_kb = 16 * 1024 * 1024
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return max(1024, min(4096, total_kb // 1024 // 4))


def session_env(dirs: RunDirs) -> dict[str, str]:
    """Environment the engine reads at import and session start."""
    cpus = len(os.sched_getaffinity(0))
    tmp = dirs.fresh("tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "AUDIT_STAR_SHUFFLE_PARTITIONS": str(cpus),
        "AUDIT_STAR_DRIVER_MEM": f"{driver_mem_mb()}m",
        "AUDIT_STAR_CACHE_DIR": dirs.fresh("cache"),
        "SPARK_LOCAL_DIRS": dirs.fresh("spark-local"),
        "TMPDIR": tmp,
        # C1 only: with the C2 compiler, background compilation takes
        # about a core for the whole of a one-minute run and the median
        # micro-batch time of a run spread by ~30% across runs; with C1
        # it spread by ~3%
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1",
        # read by the gateway launch, so these reach the JVM at start
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {k}={v}" for k, v in SESSION_CONF.items()
        )
        + " pyspark-shell",
        "TZ": "UTC",
    }


# session settings the benchmark adds on top of session.get_spark's own
SESSION_CONF = {
    "spark.ui.showConsoleProgress": "false",
    # keep every micro-batch's progress of a drain (the default keeps 100)
    "spark.sql.streaming.numRecentProgressUpdates": "1000",
}


def start_session():
    from audit_star_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def effective_settings(spark) -> dict:
    conf = spark.sparkContext.getConf()
    keys = [
        "spark.master",
        "spark.driver.memory",
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.numRecentProgressUpdates",
        "spark.local.dir",
    ]
    out = {k: conf.get(k, None) for k in keys}
    for k in ("SPARK_GRAFT_CPUS", "AUDIT_STAR_DRIVER_MEM", "SPARK_LOCAL_DIRS"):
        out[k] = os.environ.get(k)
    return out


# -- JVM probes (py4j) ---------------------------------------------------------


class Jvm:
    def __init__(self, spark):
        self.jvm = spark.sparkContext._jvm
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM not found")

    def gc_s(self) -> float:
        mf = self.jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000

    def jit_s(self) -> float:
        mf = self.jvm.java.lang.management.ManagementFactory
        return mf.getCompilationMXBean().getTotalCompilationTime() / 1000


# -- spans ---------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    ident: str | None = None  # batch or query id

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; ``dump`` writes them out when the run ends."""

    def __init__(self):
        self.spans: list[Span] = []
        # open spans per thread: foreachBatch runs on a py4j callback thread
        self._local = threading.local()
        self._lock = threading.Lock()

    @property
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, ident=None):
        stack = self._stack
        parent = stack[-1] if stack else None
        if ident is None and parent is not None:
            ident = self.spans[parent].ident
        s = Span(name, time.perf_counter(), parent=parent, ident=ident)
        with self._lock:
            self.spans.append(s)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def inside(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    def current(self) -> Span | None:
        return self.spans[self._stack[-1]] if self._stack else None

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its direct children cover."""
        idx = self.spans.index(span)
        kids = sorted(
            (s.start, s.end) for s in self.spans if s.parent == idx and s.end
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "id": s.ident,
                        }
                    )
                    + "\n"
                )


@contextlib.contextmanager
def wrapped(tracer: Tracer | None, owner, attr: str, name: str, ident=None):
    """Replace ``owner.attr`` with a wrapper that records a span per call,
    restoring the original afterwards. ``ident`` maps the call arguments to
    the span's batch/query id. Without a tracer nothing is replaced."""
    if tracer is None:
        yield
        return
    orig = getattr(owner, attr)

    def wrapper(*a, **kw):
        with tracer.span(name, ident=ident(*a, **kw) if ident else None):
            return orig(*a, **kw)

    setattr(owner, attr, wrapper)
    try:
        yield
    finally:
        setattr(owner, attr, orig)


def now() -> float:
    return time.perf_counter()
