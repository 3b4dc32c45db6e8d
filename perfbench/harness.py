"""Shared machinery for the benchmark: the sized Spark session, the span
tracer, Spark job/stage/task attribution and the summary statistics.

The tracer records spans only around calls the benchmark makes or wraps
itself; ``Patch`` installs the wrappers for a traced measurement and
removes them after it (see ``workloads.py``).
"""

from __future__ import annotations

import itertools
import json
import math
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_cpus() -> int:
    """CPUs this process may run on (``nproc``)."""
    return len(os.sched_getaffinity(0))


def start_spark(work_dir: str):
    """Start the library's session, sized from the host's CPU count.

    ``session.get_spark`` defaults to ``local[32]`` with a 48 GB driver;
    the benchmark passes ``cpus = nproc`` and a driver heap that fits a
    small shared host. Python workers inherit ``PYTHONPATH`` so they can
    import ``kinesis_iterator_spark`` when the benchmark is launched from
    any directory. Returns ``(spark, seconds spent in get_spark)``.
    """
    path = os.environ.get("PYTHONPATH", "")
    if REPO_ROOT not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO_ROOT, path) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    from kinesis_iterator_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cpus=host_cpus(),
        extra_conf={
            "spark.driver.memory": "3g",
            # A fixed-size heap: no resizing pauses while measuring.
            "spark.driver.extraJavaOptions": "-Xms3g",
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, time.perf_counter() - t0


def _proc_stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, from the
    state on; None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _proc_stat(int(d))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    st = _proc_stat(pid)
    return st is not None and st[0] != "Z"


def _wait_gone(pids, seconds: float) -> list[int]:
    """Poll until every pid has ended or ``seconds`` pass; returns the
    pids still alive."""
    deadline = time.monotonic() + seconds
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]
    return left


def stop_spark(spark) -> None:
    """Stop the session and end every process it started, waiting for
    each: the JVM and, below it, the Python workers and data-source
    runners.

    ``spark.stop()`` leaves the JVM running until the Python process
    exits, and the JVM then ends on its own a moment later; this ends it
    before returning. Safe to call with ``spark=None`` after a failed
    start."""
    import signal
    import subprocess

    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        procs = descendants(os.getpid())
        if gw is not None:
            try:
                gw.shutdown()  # py4j connections and the callback server
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            # The gateway JVM exits when its stdin closes.
            if proc.stdin is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
            try:
                proc.wait(30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # Workers under the JVM end once it is gone; make sure of it.
        for sig, grace in ((None, 10.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
            if sig is not None:
                for p in procs:
                    try:
                        os.kill(p, sig)
                    except OSError:
                        pass
            procs = _wait_gone(procs, grace)
            if not procs:
                break


# -- statistics ---------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return min(n, max(1, math.ceil(p * n / 100.0 - 1e-9)))


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[_rank(p, len(s)) - 1] if s else 0.0


TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0)


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of ``TAIL_LADDER``
    with at least ten samples beyond it. With fewer than 40 samples no
    rung qualifies and the maximum (percentile 100) is reported."""
    n = len(xs)
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= 10:
            return percentile(xs, p), p, n
    return (max(xs) if xs else 0.0), 100.0, n


# -- Spark job attribution ------------------------------------------------------


class JobCounter:
    """Jobs, stages and tasks run between two job-id marks.

    Job ids are global and increase by one per job, so the ids in
    ``(start mark, end mark]`` are exactly the interval's jobs only when
    nothing else submits jobs in it: read marks at top-level operation
    boundaries only.
    """

    def __init__(self, spark) -> None:
        self._tracker = spark.sparkContext.statusTracker()
        # The scheduler's job-id counter is one cheap call; listing the
        # status tracker's retained job ids takes ~0.1 s per call once a
        # process has run a few hundred jobs.
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def mark(self) -> int:
        """The id of the last job submitted so far."""
        return int(self._dag.nextJobId()) - 1

    def between(self, lo: int, hi: int) -> dict[str, int]:
        stages = tasks = 0
        for j in range(lo + 1, hi + 1):
            info = self._tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self._tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return {"jobs": hi - lo, "stages": stages, "tasks": tasks}


# -- spans ----------------------------------------------------------------------


class Tracer:
    """In-memory span recorder.

    A span carries name, start, end, parent, thread and a trace id. The
    trace id is one per top-level operation (trigger, admit, query or
    registry entry): ``op()`` opens a root span with a fresh id, and every
    span opened while it is active, on any thread, joins that trace.
    Spans opened on threads the library starts itself have no parent on
    their own thread; they are parented to the active root.

    A disabled tracer records nothing and costs one attribute check.
    """

    def __init__(self, enabled: bool, jobs: JobCounter | None = None) -> None:
        self.enabled = enabled
        self.jobs = jobs
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: dict | None = None
        self._unresolved: list[tuple[dict, list[int]]] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, count_jobs: bool = False, **attrs):
        """Record one span. ``count_jobs`` attaches the job/stage/task
        delta of the interval — only where nothing else runs. The span
        reads one job mark at each end; its stage and task counts are
        resolved by ``resolve()`` once the top-level operation is over."""
        if not self.enabled:
            yield attrs
            return
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        sp = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else next(self._traces),
            "thread": threading.current_thread().name,
            "attrs": attrs,
        }
        marks = [self.jobs.mark()] if (count_jobs and self.jobs) else None
        stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield attrs
        except BaseException as e:
            attrs["error"] = type(e).__name__
            raise
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            if marks is not None:
                marks.append(self.jobs.mark())
                with self._lock:
                    self._unresolved.append((attrs, marks))
            # The tracer's own time around the span (ids, job marks) is
            # spent inside the parent; ``self_times`` takes it out there.
            sp["cost"] = (sp["start"] - t_in) + (time.perf_counter() - sp["end"])
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def op(self, name: str, **attrs):
        """A top-level operation: a root span with its own trace id and
        job attribution (nothing else runs at this boundary)."""
        if not self.enabled:
            yield attrs
            return
        with self.span(name, count_jobs=True, **attrs) as a:
            self._root = self._stack()[-1]
            try:
                yield a
            finally:
                self._root = None

    def resolve(self) -> None:
        """Turn the job marks of finished spans into job/stage/task
        counts. Call between top-level operations, outside their timing."""
        with self._lock:
            pending, self._unresolved = self._unresolved, []
        for attrs, (lo, hi) in pending:
            attrs.update(self.jobs.between(lo, hi))

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as a span named ``name`` (wall
        time only: wrapped library phases may overlap on other threads)."""
        tracer = self

        def wrapped(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)

        wrapped.__wrapped__ = fn
        return wrapped

    # -- analysis --

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the union of its children's intervals
        (children may overlap when they ran on several threads) and minus
        the tracer's own time around each child."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            children = kids.get(s["id"], [])
            covered = 0.0
            cur_lo = cur_hi = None
            for lo, hi in sorted((c["start"], c["end"]) for c in children):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
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
            cost = sum(c["cost"] for c in children)
            out[s["id"]] = (s["end"] - s["start"]) - covered - cost
        return out

    def dump(self, path: str) -> None:
        """Write every span (times relative to the first span's start),
        with its self time, as one JSON document."""
        if not self.spans:
            return
        t0 = min(s["start"] for s in self.spans)
        selfs = self.self_times()
        rows = [
            {
                **{k: v for k, v in s.items() if k not in ("start", "end", "cost")},
                "start": round(s["start"] - t0, 6),
                "end": round(s["end"] - t0, 6),
                "self": round(selfs[s["id"]], 6),
                "tracer_cost": round(s["cost"], 6),
            }
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(rows, f)


class Patch:
    """Temporarily replace module/object attributes; ``undo`` restores."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def set(self, obj, attr: str, value) -> None:
        self._saved.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    def undo(self) -> None:
        while self._saved:
            obj, attr, value = self._saved.pop()
            setattr(obj, attr, value)
