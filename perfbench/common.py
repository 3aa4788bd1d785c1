"""Shared machinery of the benchmark: work-directory layout, session
start, percentiles, memory sampling, run context, spans and the Spark
counters read from ``statusTracker`` and the local REST API.

Nothing here changes how the engine runs: counters are read from the
outside, and spans wrap the benchmark's own calls into the engine.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time
import urllib.request
from dataclasses import dataclass, field

T0 = time.time()  # process start, as near as the benchmark can see it
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(tag: str) -> str:
    """Fresh work directory for this process and environment that keeps
    every temporary file Spark, the JVM and Python write inside it.
    Must run before the JVM starts."""
    work = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    import tempfile

    tempfile.tempdir = tmp
    return work


def start_session(app: str, cpus: int):
    """The engine's own session factory on ``local[cpus]``."""
    from clickstreaming_end_to_end_data_engineering_project_spark.session import get_spark

    spark = get_spark(app, str(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the Spark JVM this process launched, and
    wait for the JVM to exit (it exits when its stdin closes)."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile; ``inf`` entries (failed ops) sort last."""
    if not values:
        return float("nan")
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def median(values: list[float]) -> float:
    if not values:
        return float("nan")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's marker and
    checksum files."""
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


def box_state() -> dict[str, float]:
    """Load average and a short single-thread spin rate, recorded as
    context for reading the timings; never acted on."""
    deadline = time.perf_counter() + 0.25
    n = 0
    while time.perf_counter() < deadline:
        n += 1
    return {"load_1m": os.getloadavg()[0], "spin_mops": n / 0.25 / 1e6}


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (OSError, ValueError, IndexError):
        return 0.0


RSS_PERIOD_S = 0.2


class RssSampler:
    """Samples the resident set of the Spark JVM and this Python
    process every ``RSS_PERIOD_S`` while active; keeps the peaks."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.jvm_peak = self.py_peak = self.sum_peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        jvm, py = _rss_mb(self.jvm_pid), _rss_mb(os.getpid())
        self.jvm_peak = max(self.jvm_peak, jvm)
        self.py_peak = max(self.py_peak, py)
        self.sum_peak = max(self.sum_peak, jvm + py)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def retained_mb(spark) -> float:
    """Spark JVM heap still in use after a full collection, plus this
    Python process's resident set: what the run keeps, as opposed to
    the peak the collector's sizing policy happens to reach."""
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20 + _rss_mb(os.getpid())


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# ---- spans ---------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans, written out once at the end of the run.  A
    disabled tracer records nothing, so the untraced runs pay only the
    ``if`` at each boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return -1
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, start, end, parent, attrs))
            return sid

    def span(self, name: str, parent: int | None = None, **attrs) -> "_Open":
        return _Open(self, name, parent, attrs)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_end is None or lo > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = lo, hi
                else:
                    cur_end = max(cur_end, hi)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.name] = out.get(s.name, 0.0) + max(0.0, s.end - s.start - covered)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class _Open:
    def __init__(self, tracer: Tracer, name: str, parent: int | None, attrs: dict):
        self.tracer, self.name, self.parent, self.attrs = tracer, name, parent, attrs
        self.id: int | None = None

    def __enter__(self) -> "_Open":
        self.start = time.time()
        if self.tracer.enabled:
            # reserve the id now so children opened inside can point at it
            self.id = self.tracer.add(self.name, self.start, self.start, self.parent, **self.attrs)
        return self

    def __exit__(self, *exc) -> None:
        if self.id is not None and self.id >= 0:
            self.tracer.spans[self.id].end = time.time()


# ---- Spark counters --------------------------------------------------------


class SparkCounters:
    """Jobs, stages and tasks per job group from ``statusTracker``, and
    executor time, GC, I/O, shuffle and spill per job group from the
    Spark UI's REST API on localhost."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        url = self.sc.uiWebUrl or ""
        port = url.rsplit(":", 1)[-1] if url else ""
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}" if port else None

    def tasks_and_stages(self, job_ids: list[int]) -> tuple[int, int]:
        st = self.sc.statusTracker()
        tasks = stages = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    tasks += sinfo.numTasks
        return tasks, stages

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def rest_by_group(self, since: float = 0.0, until: float = float("inf"),
                      windows: tuple = ()) -> dict[str, dict]:
        """Jobs, stages, tasks and executor metrics summed per job group
        over the jobs the REST store still retains that were submitted
        within [since, until] (epoch seconds).  A job submitted inside
        one of the ``(group, t0, t1)`` ``windows`` counts toward that
        group whatever its own: an engine call that starts jobs from its
        own threads leaves them without the caller's group.  Waits
        ``REST_SETTLE_S`` first so the listener bus has delivered the
        last task ends.  Raises when the UI (and so the REST API) is
        off: a missing counter must not read as 0."""
        if self.base is None:
            raise RuntimeError("Spark UI is disabled; no REST stage metrics")
        time.sleep(REST_SETTLE_S)
        jobs = self._get("/jobs")
        by_stage_id: dict[int, list[dict]] = {}
        for s in self._get("/stages"):
            by_stage_id.setdefault(s["stageId"], []).append(s)
        out: dict[str, dict] = {}
        for j in jobs:
            if "submissionTime" not in j:
                continue
            t = _rest_epoch(j["submissionTime"])
            g = next((w for w, t0, t1 in windows if t0 <= t <= t1), j.get("jobGroup"))
            if g is None or not since <= t <= until:
                continue
            acc = out.setdefault(g, {
                "jobs": 0, "stages": 0, "tasks": 0, "cpu_s": 0.0, "run_s": 0.0,
                "gc_s": 0.0, "input_bytes": 0, "shuffle_bytes": 0, "spill_bytes": 0,
            })
            acc["jobs"] += 1
            for sid in j.get("stageIds", []):
                for s in by_stage_id.get(sid, []):
                    if s.get("status") == "SKIPPED":
                        continue
                    acc["stages"] += 1
                    acc["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
                    acc["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                    acc["run_s"] += s.get("executorRunTime", 0) / 1e3
                    acc["gc_s"] += s.get("jvmGcTime", 0) / 1e3
                    acc["input_bytes"] += s.get("inputBytes", 0)
                    acc["shuffle_bytes"] += s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)
                    acc["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        return out


REST_SETTLE_S = 1.0


def _rest_epoch(s: str) -> float:
    import datetime as dt

    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()
