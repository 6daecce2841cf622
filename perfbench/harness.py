"""Measurement plumbing shared by the workloads: the Spark session
with the pinned run configuration, a peak-PSS sampler, a reader for
Spark's status store, the span tracer and small statistics helpers.

Nothing here starts a thread or touches a file at import time.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

# ---------------------------------------------------------------- stats


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    pos = (len(xs) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the ``q`` quantile."""
    return n - 1 - math.floor((n - 1) * q)


def median(values) -> float:
    return statistics.median(values)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def parquet_bytes(*paths: str) -> int:
    """Size of the parquet files under local paths (globs allowed):
    what a read of those paths could scan at most, not what it scans
    after column pruning and filter pushdown."""
    import glob

    total = 0
    for pattern in paths:
        for path in glob.glob(pattern.replace("file://", "")):
            if os.path.isfile(path):
                total += os.path.getsize(path)
                continue
            for d, _, files in os.walk(path):
                total += sum(os.path.getsize(os.path.join(d, f))
                             for f in files if f.endswith(".parquet"))
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


# ---------------------------------------------------------- run config


def pinned_config(root: str, workdir: str) -> dict[str, str]:
    """The environment every run uses, recorded in the output: all
    cores, a driver heap well under physical memory, Spark scratch
    inside the run's own work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemTotal:"))
    mem_mb = min(2048, total_kb // 1024 // 4)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        # the engine's own temporary directories stay inside the run,
        # the Spark launcher JVM's too
        "TMPDIR": os.path.join(workdir, "tmp"),
        "SPARK_LAUNCHER_OPTS":
            f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData",
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    }


def start_spark(root: str):
    """Create the engine's session with status-store retention large
    enough to keep every job and stage of one run."""
    import sys

    if root not in sys.path:
        sys.path.insert(0, root)
    from bottledwater_pg_spark.session import get_spark

    import tempfile

    tmp = os.environ["TMPDIR"]
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = None  # re-read TMPDIR
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temporary files inside the run, too
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM must not outlive us
            proc.kill()
            proc.wait(timeout=10)


# ------------------------------------------------------------ PSS


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pss_kb(root_pid: int) -> int:
    """PSS of ``root_pid`` and all its descendants (driver, JVM,
    Python workers)."""
    kids = _children_map()
    todo, total = [root_pid], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class PssSampler:
    """Samples the process tree's PSS on a thread while ``with``-ed."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_kb = max(self.peak_kb, tree_pss_kb(pid))
            self.samples += 1
            if self._stop.wait(self.interval_s):
                break

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, name="pss",
                                        daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, tree_pss_kb(os.getpid()))
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ------------------------------------------------------ status store


class StatusStore:
    """Reads jobs and stages from the driver's AppStatusStore over
    py4j. Only the traced run calls it, after the timed window."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._gw = sc._gateway

    def jobs(self, since_ms: float) -> list[dict]:
        out = []
        seq = self._store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            sub = j.submissionTime()
            if sub.isEmpty():
                continue
            start = sub.get().getTime()
            if start < since_ms:
                continue
            done = j.completionTime()
            end = done.get().getTime() if not done.isEmpty() else start
            out.append({"id": j.jobId(), "start": start / 1e3,
                        "end": end / 1e3})
        return out

    def stages(self, since_ms: float) -> list[dict]:
        empty_d = self._gw.new_array(self._gw.jvm.double, 0)
        empty_l = self._gw.jvm.java.util.ArrayList()
        seq = self._store.stageList(None, False, False, empty_d, empty_l)
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            sub = s.submissionTime()
            if sub.isEmpty():
                continue
            start = sub.get().getTime()
            if start < since_ms:
                continue
            out.append({
                "start": start / 1e3,
                "tasks": s.numTasks(),
                "cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_write_b": s.shuffleWriteBytes(),
                "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        return out


def spark_layer(jobs: list[dict], stages: list[dict], lo: float,
                hi: float) -> dict[str, float]:
    """Spark-layer totals over the wall window [lo, hi]."""
    jobs = [j for j in jobs if lo <= j["start"] <= hi]
    stages = [s for s in stages if lo <= s["start"] <= hi]
    busy = union_length(clip([(j["start"], j["end"]) for j in jobs], lo, hi))
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.job_busy_s": busy,
        "spark.executor_cpu_s": sum(s["cpu_s"] for s in stages),
        "spark.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / mb,
        "spark.spill_mb": sum(s["spill_b"] for s in stages) / mb,
        "driver.nonjob_s": max(0.0, (hi - lo) - busy),
    }


# ------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans around the engine's public functions.

    A span records name, start, end (wall clock, so it lines up with
    the status store's job times), parent span, an epoch or query
    tag and the time its tag took to compute. Spans opened on a worker thread with no open span of its own
    take the newest open *ambient* span (a batch, a replicate pass, a
    query) as parent, so thread-pool fan-out stays attributed.
    """

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ambient: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, tag=None, ambient: bool = False):
        stack = self._stack()
        with self._lock:
            parent = stack[-1] if stack else (
                self._ambient[-1] if self._ambient else None)
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "tag": tag,
                   "start": time.time(), "end": None}
            self.spans.append(rec)
            if ambient:
                self._ambient.append(sid)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            if ambient:
                with self._lock:
                    self._ambient.remove(sid)

    def wrap(self, owner, attr: str, name: str, tag=None,
             ambient: bool = False) -> None:
        """Replace ``owner.attr`` by a spanning wrapper; ``tag``, if
        given, maps the call's positional arguments to the span's tag."""
        import functools

        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            # the time spent computing the tag (a read's parquet bytes
            # walk its paths) is tracing overhead, kept on the span
            t0 = time.perf_counter()
            value = tag(*args) if tag else None
            tag_s = time.perf_counter() - t0
            with tracer.span(name, tag=value, ambient=ambient) as rec:
                rec["tag_s"] = tag_s
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    @staticmethod
    def span_cost_s(n: int = 2000) -> float:
        """Measured cost of one span (open + close) on this host."""
        probe = Tracer()
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("calibrate"):
                pass
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


def spans_under(kids: dict[int, list[dict]], root: dict,
                name: str) -> list[dict]:
    """Spans named ``name`` anywhere below ``root``; ``kids`` is
    :meth:`Tracer.children`."""
    todo, found = [root["id"]], []
    while todo:
        for c in kids.get(todo.pop(), ()):
            todo.append(c["id"])
            if c["name"] == name:
                found.append(c)
    return found


class NullTracer:
    """Stands in for :class:`Tracer` on untraced runs."""

    @contextmanager
    def span(self, name: str, tag=None, ambient: bool = False):
        yield None
