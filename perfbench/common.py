"""Shared plumbing for the benchmark: paths, environment, the Spark session
lifecycle, per-call Spark accounting, spans and memory probes.

Everything the benchmark writes lives under ``.bench_build/perfbench`` in the
checkout it runs from.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import threading
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
PACKAGE = os.path.join(ROOT, "search_engine_spark")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# The serve fixture is one fixed slice of the webtext generator; see
# fixture.py for why it does not move with the seed.
SERVE_START = 0
SERVE_DOCS = 30_000
# The write-path slice (traced runs only) starts here + seed * BUILD_DOCS.
BUILD_BASE = 5_000_000
BUILD_DOCS = 2_000


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def setup_environment() -> None:
    """Environment the engine needs and must not inherit from the caller.

    Must run before pyspark launches its JVM: the JVM, and the Python workers
    it forks, inherit this process's environment at launch."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    pp = os.environ.get("PYTHONPATH", "")
    if ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    # session.get_spark defaults to a 48g heap; 1g serves a 30k-doc index
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")


def spark_conf() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        # every timed call gets its own job group; keep all of their jobs
        # readable until the run ends
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def start_spark(name: str = "perfbench"):
    from search_engine_spark.session import get_spark

    n = cpus()
    return get_spark(name, cpus=n, shuffle_partitions=2 * n, extra_conf=spark_conf())


def shutdown_jvm(timeout: float = 60.0) -> None:
    """End the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    active = SparkContext._active_spark_context
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MB, 0.0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_retained_mb(spark) -> float:
    """JVM memory in use after a full GC, heap plus non-heap, in MB.

    This is what the program holds.  The JVM's VmHWM is not used: it follows
    how far G1 chose to grow the heap, which swings from run to run."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / 2**20


def source_digest(paths: list[str]) -> str:
    """sha256 over every .py file under ``paths`` (relative names + bytes)."""
    h = hashlib.sha256()
    for base in paths:
        files = []
        if os.path.isfile(base):
            files = [base]
        else:
            for d, _, names in os.walk(base):
                files += [os.path.join(d, n) for n in names if n.endswith(".py")]
        for f in sorted(files):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    i = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[i])


# ---------------------------------------------------------------- accounting
class JobGroups:
    """One unique Spark job group per timed call.

    Reusing a group name across calls mixes their jobs, so every call gets a
    fresh name; counts are read from ``statusTracker`` after the timed region.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.prefix = uuid.uuid4().hex[:8]
        self._n = 0
        self._lock = threading.Lock()

    def enter(self, label: str) -> str:
        with self._lock:
            self._n += 1
            gid = f"pb-{self.prefix}-{self._n}"
        self.sc.setJobGroup(gid, label, interruptOnCancel=False)
        return gid

    def leave(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, gid: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in st.getJobIdsForGroup(gid):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None:
                    continue
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def settle(self, gids: list[str], timeout: float = 10.0) -> None:
        """Wait until no listed group has a running job (the status store is
        fed asynchronously by the listener bus)."""
        st = self.sc.statusTracker()
        deadline = time.time() + timeout
        while time.time() < deadline:
            running = False
            for gid in gids:
                for jid in st.getJobIdsForGroup(gid):
                    info = st.getJobInfo(jid)
                    if info is not None and info.status in ("RUNNING", "UNKNOWN"):
                        running = True
                        break
                if running:
                    break
            if not running:
                return
            time.sleep(0.05)


# --------------------------------------------------------------------- spans
class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at exit.

    A disabled tracer records nothing and costs one attribute check."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._n = 0

    def _next_id(self) -> int:
        with self._lock:
            self._n += 1
            return self._n

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            sid: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = sid or self._next_id()
        span = {"id": sid, "name": name, "start": start, "end": end,
                "parent": parent, "run": self.run_id}
        span.update(attrs)
        with self._lock:
            self.spans.append(span)
        return sid

    def span(self, name: str, parent: int | None = None, **attrs):
        return _Span(self, name, parent, attrs)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def children(self, parent: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == parent]

    def write(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, parent, attrs):
        self.tracer, self.name, self.parent, self.attrs = tracer, name, parent, attrs
        self.id = None

    def __enter__(self):
        self.start = time.perf_counter()
        if self.tracer.enabled:
            # reserve the id up front so children can name their parent
            self.id = self.tracer._next_id()
        return self

    def __exit__(self, *exc):
        self.tracer.add(self.name, self.start, time.perf_counter(), self.parent,
                        sid=self.id, **self.attrs)
        return False
