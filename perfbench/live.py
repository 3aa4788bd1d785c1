"""``clickstream_live``: the paper's deployment shape, driven open loop.

One generator thread writes a parquet file of events every 250 ms at a
fixed rate into a directory that five of ``ClickstreamPipelines``'
streaming queries read with a 5 s processing-time trigger.
``page_views`` and ``purchases`` write through
``CompositeSink(ParquetSink, MetricsSink)``; the other three through a
``ParquetSink``.  A ``webdash.DashboardServer`` serves the sink
directories.

Phases: set-up (schedule, queries, server), warm (files until every
query has committed them), steady (the measured window: ``--seconds``
of files), drain, in traced runs a dashboard phase (one client thread
fetches the four ``/api/*`` endpoints in order, then waits 5 s, like an
open browser tab, while files keep arriving), the catch-up burst with
the closing sentinel, then the correctness gate over the sink contents.

Freshness of a (steady-phase file, update-mode pipeline) pair runs from
the file's scheduled creation time to the end of the sink call for the
micro-batch that contained it; the file-to-batch map comes from each
query's checkpoint (``sources/0`` and ``offsets``).

``python3 perfbench/live.py --one-core-burst SEED`` replays the
catch-up burst on ``local[1]`` in its own process and prints its
events/s; traced runs use it as the single-threaded baseline.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
import urllib.error
import urllib.request
from collections import defaultdict

import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

import common
import datagen

PIPELINES = ["page_views", "page_views_by_page", "sessions", "purchases", "event_stats"]
UPDATE_MODE = [p for p in PIPELINES if p != "sessions"]
ENDPOINTS = ["top_pages", "busiest_windows", "revenue_over_time", "event_mix"]
# sink table each dashboard endpoint reads
ENDPOINT_TABLE = {
    "top_pages": "page_views_by_page",
    "busiest_windows": "page_views",
    "revenue_over_time": "purchases",
    "event_mix": "event_stats",
}
# the reference deployment's micro-batch interval (its SPARK_BATCH_DURATION,
# the engine's SparkConfig.batch_duration_s default).  At the app's 2 s
# the five queries on four cores never finish a batch inside the
# interval, and the saturated run's freshness moves by a quarter from
# run to run
TRIGGER_S = 5
TRIGGER = {"processingTime": f"{TRIGGER_S} seconds"}
DASH_THINK_S = 5.0  # the dashboard page's refresh interval
DASH_PHASE_S = 10.0  # traced runs: the tab polls while files keep arriving
# the local[1] replay takes about 35 s on a 4-core box; the bound keeps a
# traced run inside its 180 s
ONE_CORE_TIMEOUT_S = 75


def spark_schema():
    from pyspark.sql.types import (DoubleType, LongType, StringType, StructField, StructType,
                                   TimestampType)

    return StructType([
        StructField("event_id", LongType()), StructField("ts", TimestampType()),
        StructField("user_id", LongType()), StructField("event_type", StringType()),
        StructField("value", DoubleType()), StructField("page", StringType()),
    ])


class Record:
    """What the run observed, appended from the generator, sink and
    client threads (list.append is atomic under the interpreter lock)."""

    def __init__(self):
        self.written: dict[str, tuple[float, float]] = {}  # file -> (due, written)
        self.sink_calls: list[tuple[str, int, float, float, bool]] = []
        self.http: list[tuple[str, float, float, int]] = []
        self.write_attempts: dict[str, int] = defaultdict(int)
        self.write_ok: dict[str, int] = defaultdict(int)
        self.errors: list[str] = []

    def sink_end(self) -> dict[tuple[str, int], float]:
        return {(n, b): t1 for n, b, _, t1, ok in self.sink_calls if ok}


class TimedSink:
    """foreachBatch target that times the engine sink's ``__call__``."""

    def __init__(self, name: str, sink, rec: Record):
        self.name, self.sink, self.rec = name, sink, rec

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.time()
        ok = False
        try:
            self.sink(df, batch_id)
            ok = True
        finally:
            self.rec.sink_calls.append((self.name, batch_id, t0, time.time(), ok))


def _count_writes(name: str, sink, rec: Record) -> None:
    """Count ``write`` attempts of an engine sink (retries = attempts
    that did not return)."""
    inner = sink.write

    def write(df, batch_id):
        rec.write_attempts[name] += 1
        inner(df, batch_id)
        rec.write_ok[name] += 1

    sink.write = write


def build_sinks(sink_dir: str, rec: Record, count_writes: bool) -> dict:
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
        CompositeSink, MetricsSink, ParquetSink)

    sinks = {}
    for name in PIPELINES:
        parquet = ParquetSink(os.path.join(sink_dir, name))
        leaves = [(name, parquet)]
        if name == "page_views":
            metrics = MetricsSink("window_start", "view_count")
            leaves.append((name + ".metrics", metrics))
            sink = CompositeSink(parquet, metrics)
        elif name == "purchases":
            metrics = MetricsSink("window_start", "purchase_count")
            leaves.append((name + ".metrics", metrics))
            sink = CompositeSink(parquet, metrics)
        else:
            sink = parquet
        if count_writes:
            for leaf_name, leaf in leaves:
                _count_writes(leaf_name, leaf, rec)
        sinks[name] = TimedSink(name, sink, rec)
    return sinks


def file_batches(ckpt: str) -> dict[str, int]:
    """file name -> id of the micro-batch that read it.  The file
    source logs each file under its own log id (plain and ``.compact``
    entries both carry it); ``offsets/<batch>`` names the last log id a
    micro-batch covers.  The two differ once a query has run a no-data
    batch, so the micro-batch is the first whose offset reaches the
    file's log id."""
    src = os.path.join(ckpt, "sources", "0")
    offsets = os.path.join(ckpt, "offsets")
    if not os.path.isdir(src) or not os.path.isdir(offsets):
        return {}
    log_id = {}
    for entry in os.listdir(src):
        if entry.startswith(".") or not entry.split(".")[0].isdigit():
            continue
        with open(os.path.join(src, entry)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    rec = json.loads(line)
                    log_id[os.path.basename(rec["path"])] = int(rec["batchId"])
    covers = []  # (last log id covered, micro-batch), in batch order
    for entry in sorted((e for e in os.listdir(offsets) if e.isdigit()), key=int):
        with open(os.path.join(offsets, entry)) as f:
            lines = f.read().splitlines()
        covers.append((int(json.loads(lines[2])["logOffset"]), int(entry)))
    out = {}
    for name, lid in log_id.items():
        b = next((b for last, b in covers if last >= lid), None)
        if b is not None:
            out[name] = b
    return out


def committed_batch(ckpt: str) -> int:
    d = os.path.join(ckpt, "commits")
    ids = [int(e) for e in os.listdir(d) if e.isdigit()] if os.path.isdir(d) else []
    return max(ids, default=-1)


class Stream:
    """The five running queries over one input directory."""

    def __init__(self, spark, work: str, rec: Record, count_writes: bool):
        from clickstreaming_end_to_end_data_engineering_project_spark.streaming.pipelines import (
            ClickstreamPipelines, read_file_stream)

        self.input = os.path.join(work, "input")
        self.staging = os.path.join(work, "staging")
        self.sink_dir = os.path.join(work, "sinks")
        self.ckpt = os.path.join(work, "ckpt")
        for d in (self.input, self.staging, self.sink_dir):
            os.makedirs(d, exist_ok=True)
        self.rec = rec
        self.events = read_file_stream(spark, self.input, spark_schema())
        self.mgr = ClickstreamPipelines(spark, self.ckpt, trigger=TRIGGER)
        self.sinks = build_sinks(self.sink_dir, rec, count_writes)
        self.queries = {}

    def start(self) -> None:
        self.mgr.start(self.events, self.sinks)
        self.queries = {q.name: q for q in self.mgr.queries}

    def stage(self, f: datagen.LiveFile, created: float) -> None:
        pq.write_table(f.table(created), os.path.join(self.staging, f.name))

    def publish(self, f: datagen.LiveFile, due: float) -> None:
        """Atomically move a staged file into the watched directory."""
        os.rename(os.path.join(self.staging, f.name), os.path.join(self.input, f.name))
        self.rec.written[f.name] = (due, time.time())

    def write(self, f: datagen.LiveFile, due: float) -> None:
        self.stage(f, due)
        self.publish(f, due)

    def committed(self, names: list[str], pipelines: list[str]) -> bool:
        for p in pipelines:
            ck = os.path.join(self.ckpt, p)
            fb, done = file_batches(ck), committed_batch(ck)
            if any(fb.get(n, 1 << 60) > done for n in names):
                return False
        return True

    def wait_committed(self, names: list[str], pipelines: list[str], timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self.committed(names, pipelines):
                return True
            self.check_alive()
            time.sleep(0.1)
        return False

    def check_alive(self) -> None:
        for name, q in self.queries.items():
            if not q.isActive:
                raise RuntimeError(f"streaming query {name} died: {q.exception()}")

    def stop(self) -> None:
        """Stop the queries in parallel (each stop waits for its batch)."""
        from concurrent.futures import ThreadPoolExecutor

        if not self.queries:
            return
        with ThreadPoolExecutor(len(self.queries)) as pool:
            list(pool.map(lambda q: q.stop(), self.queries.values()))


def generate(stream: Stream, files: list[datagen.LiveFile], t_base: float) -> threading.Thread:
    """Open-loop generator: each file is written at ``t_base`` plus its
    schedule offset, no matter how far behind the queries are."""

    def loop():
        for f in files:
            due = t_base + f.due_s
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            stream.write(f, due)

    th = threading.Thread(target=loop, name="generator", daemon=True)
    th.start()
    return th


def dashboard_client(port: int, rec: Record, stop: threading.Event) -> threading.Thread:
    """One browser tab: the four endpoints in order, then ``DASH_THINK_S``."""

    def fetch(ep: str) -> None:
        t0 = time.time()
        try:
            with urllib.request.urlopen(f"http://127.0.0.1:{port}/api/{ep}", timeout=60) as r:
                r.read()
                code = r.status
        except urllib.error.HTTPError as e:
            code = e.code
        except OSError as e:
            code = -1
            rec.errors.append(f"http {ep}: {e}")
        rec.http.append((ep, t0, time.time(), code))

    def loop():
        while True:
            for ep in ENDPOINTS:
                if stop.is_set():
                    return
                fetch(ep)
            if stop.wait(DASH_THINK_S):
                return

    th = threading.Thread(target=loop, name="dashboard-client", daemon=True)
    th.start()
    return th


class ProgressListener(StreamingQueryListener):
    """The benchmark's own listener (traced runs only): keeps every
    progress report as a dict."""

    def __init__(self):
        self.progress: list[dict] = []
        self.hook_s = 0.0  # time spent in this listener

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        t0 = time.perf_counter()
        self.progress.append(json.loads(event.progress.json))
        self.hook_s += time.perf_counter() - t0

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _epoch(iso: str) -> float:
    import datetime as dt

    return dt.datetime.strptime(iso.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


# ---- correctness gate ------------------------------------------------------


def _norm(df):
    import pandas as pd

    df = df.copy()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert(None)
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
    return df


def _latest(df, keys: list[str], count_col: str):
    """Latest emission per key of an append-written update-mode sink:
    counts only grow, so the largest count is the newest row."""
    return df.sort_values(count_col).drop_duplicates(keys, keep="last")


def _same(actual, expected, keys: list[str]) -> str | None:
    import numpy as np

    a = actual.sort_values(keys).reset_index(drop=True)
    e = expected.sort_values(keys).reset_index(drop=True)
    if len(a) != len(e):
        return f"{len(a)} rows, expected {len(e)}"
    for c in e.columns:
        av, ev = a[c].to_numpy(), e[c].to_numpy()
        if np.issubdtype(ev.dtype, np.floating):
            if not np.allclose(av.astype(float), ev, rtol=1e-9, atol=1e-9):
                return f"column {c} differs"
        elif not (av == ev).all():
            return f"column {c} differs"
    return None


def gate(spark, stream: Stream, late_ids: list[int], late_rows: dict[str, int],
         drops: dict[str, int]) -> dict[str, str]:
    """Sink contents == the pure transforms over every generated event
    minus the late rows; late rows were dropped by watermark."""
    from pyspark.sql import functions as F

    from clickstreaming_end_to_end_data_engineering_project_spark.streaming import pipelines as P

    events = spark.read.schema(spark_schema()).parquet(stream.input)
    events = events.filter(~F.col("event_id").isin(late_ids)).cache()
    spec = {
        "page_views": (P.page_view_pipeline(events), ["window_start"], "view_count"),
        "page_views_by_page": (P.page_view_pipeline(events, by="page"),
                               ["window_start", "page"], "view_count"),
        "purchases": (P.purchase_pipeline(events), ["window_start"], "purchase_count"),
        "event_stats": (P.event_stats_pipeline(events), ["window_start", "event_type"],
                        "visit_count"),
        "sessions": (P.session_pipeline(events).filter(F.col("user_id") != 0),
                     ["user_id", "session_start"], None),
    }

    def check(name: str) -> str | None:
        df, keys, count_col = spec[name]
        expected = _norm(df.toPandas())
        actual = _norm(pq.read_table(os.path.join(stream.sink_dir, name)).to_pandas())
        actual = actual[list(expected.columns)]
        if count_col:
            actual = _latest(actual, keys, count_col)
        elif actual.duplicated(keys).any():
            return "a session was emitted twice"
        return _same(actual, expected, keys)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(len(spec)) as pool:
        results = dict(zip(spec, pool.map(check, spec)))
    failures = {name: why for name, why in results.items() if why}
    events.unpersist()
    for p, n_late in late_rows.items():
        # Spark counts dropped rows after partial aggregation, so the
        # metric is not the late input row count; the sink comparison
        # above is what proves every late row (and no other) was dropped
        if n_late and drops.get(p, 0) < 1:
            failures[f"{p}.late_drops"] = f"no rows dropped by watermark, {n_late} late rows sent"
    return failures


def _late_rows(sched: datagen.LiveSchedule) -> tuple[list[int], dict[str, int]]:
    ids, views, purchases = [], 0, 0
    for f in sched.steady:
        for i in f.late.nonzero()[0]:
            ids.append(int(f.event_id[i]))
            views += f.event_type[i] == "view"
            purchases += f.event_type[i] == "purchase"
    n = len(ids)
    return ids, {"page_views": views, "page_views_by_page": views, "sessions": n,
                 "purchases": purchases, "event_stats": n}


def _drops(stream: Stream) -> dict[str, int]:
    out = {}
    for name, q in stream.queries.items():
        out[name] = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress for op in json.loads(p.json).get("stateOperators", [])
        )
    return out


# ---- the workload ------------------------------------------------------------


def _next_trigger(t: float) -> float:
    """Processing-time triggers fire on epoch multiples of the interval."""
    import math

    return math.ceil(t / TRIGGER_S) * TRIGGER_S


def catchup(stream: Stream, files: list[datagen.LiveFile],
            timeout: float) -> tuple[float, float, float]:
    """Publish ``files`` at once to idle queries and wait for every
    update-mode query to commit the first; returns (publish time, done
    time, its events/s).  Processing-time triggers fire on epoch
    multiples of the interval, so the files are staged ahead and
    published 0.1 s before a trigger: the measured time is the batch's
    work, not a random wait for the next trigger."""
    t_pub = _next_trigger(time.time() + 0.4) - 0.1
    for f in files:
        stream.stage(f, t_pub)
    time.sleep(max(0.0, t_pub - time.time()))
    t0 = time.time()
    for f in files:
        stream.publish(f, t0)
    burst = files[0]
    if not stream.wait_committed([burst.name], UPDATE_MODE, timeout):
        raise RuntimeError("catch-up burst not committed in time")
    ends = stream.rec.sink_end()
    done = max(
        ends[(p, file_batches(os.path.join(stream.ckpt, p))[burst.name])] for p in UPDATE_MODE
    )
    return t0, done, len(burst.event_id) / (done - t0)


def freshness(stream: Stream, files: list[datagen.LiveFile]) -> list[float]:
    ends = stream.rec.sink_end()
    out = []
    for p in UPDATE_MODE:
        fb = file_batches(os.path.join(stream.ckpt, p))
        for f in files:
            end = ends.get((p, fb.get(f.name, -1)))
            due = stream.rec.written[f.name][0] if f.name in stream.rec.written else None
            out.append(end - due if end is not None and due is not None else float("inf"))
    return out


def run(spark, args, work: str, tracer, layers: dict) -> dict:
    from clickstreaming_end_to_end_data_engineering_project_spark.webdash import DashboardServer

    sched = datagen.live_schedule(args.seed, args.seconds, DASH_PHASE_S if args.trace else 0.0)
    rec = Record()
    stream = Stream(spark, work, rec, count_writes=bool(args.trace))
    server = DashboardServer(spark, stream.sink_dir, port=0).start()
    steady = sched.steady
    # traced runs measure the first half of the steady phase untraced and
    # the second half traced: the difference is the tracing overhead
    half = len(steady) // 2 if args.trace else 0
    listener = None
    counter_ops = counter_failed = 0
    stop = threading.Event()
    phases = {}
    try:
        # the warm files are in place before the queries start, so their
        # first micro-batch reads them
        t_warm = time.time()
        for f in sched.warm:
            stream.write(f, t_warm + f.due_s - sched.warm[-1].due_s)
        stream.start()
        if not stream.wait_committed([f.name for f in sched.warm], PIPELINES, 90):
            raise RuntimeError("warm-phase files not committed in time")
        t_ready = time.time()
        layers["session.warm_s"] = phases["warm"] = t_ready - t_warm
        setup_s = t_ready - common.T0  # process start to the first timed op

        with common.RssSampler(common.jvm_pid(spark)) as rss:
            # start on a trigger boundary (files 0.1 s after it), so every
            # run meets the same phase between the file schedule and the
            # triggers
            t_start = _next_trigger(time.time())
            gen = generate(stream, steady, t_start + 0.1 - steady[0].due_s)
            t_traced = t_start
            if args.trace:
                t_traced = t_start + 0.1 + steady[half].due_s - steady[0].due_s
                time.sleep(max(0.0, t_traced - time.time()))
                tracer.enabled = True
                listener = ProgressListener()
                spark.streams.addListener(listener)
                jobs_before = _stream_jobs(spark, stream)
            gen.join()
            t_end = time.time()
            if args.trace:
                jobs_steady = _stream_jobs(spark, stream) - jobs_before
            drained = stream.wait_committed([f.name for f in steady], UPDATE_MODE, 60)
            phases["steady+drain"] = time.time() - t_start
        retained = common.retained_mb(spark)
        tracer.add("phase", t_start, t_end, None, phase="steady")
        if args.trace:
            # the dashboard tab polls while the stream keeps appending
            t_dash = time.time()
            traced_dash = _TracedDash(spark, server, stream.sink_dir)
            gen = generate(stream, sched.tail, t_dash - sched.tail[0].due_s)
            client = dashboard_client(server.port, rec, stop)
            gen.join()
            stop.set()
            client.join(timeout=120)
            tracer.add("phase", t_dash, time.time(), None, phase="dashboard")
            phases["dashboard"] = time.time() - t_dash
        # the closing sentinel rides with the burst; sessions emits in the
        # batch after the one that moved its watermark past every open
        # session
        t_b, t_done, eps = catchup(stream, [sched.burst, sched.sentinel], 120)
        tracer.add("phase", t_b, t_done, None, phase="burst")
        with tracer.span("phase", phase="sentinel"):
            sessions_ck = os.path.join(stream.ckpt, "sessions")
            deadline = time.time() + 90
            while time.time() < deadline:
                b = file_batches(sessions_ck).get(sched.sentinel.name)
                if b is not None and committed_batch(sessions_ck) > b and stream.committed(
                        [sched.sentinel.name], PIPELINES):
                    break
                stream.check_alive()
                time.sleep(0.1)
            else:
                raise RuntimeError("sentinel did not close the sessions in time")
        phases["burst+sentinel"] = time.time() - t_b
        stream.check_alive()
        drops = _drops(stream)
        if args.trace:
            layers["trace.hook_s"] = listener.hook_s + traced_dash.hook_s
            layers.update(_state_end(stream))
            # the counter read is an op of the traced run: a failed one is
            # counted, and its metrics stay unmeasured
            counter_ops = 1
            try:
                layers.update(_traced_layers(spark, stream, listener, traced_dash, jobs_steady,
                                             (t_traced, t_end), (t_b, t_done), rec.http, tracer))
            except (RuntimeError, OSError, ValueError) as exc:
                counter_failed = 1
                rec.errors.append(f"traced counters: {type(exc).__name__}: {exc}"[:300])
    finally:
        stop.set()
        if listener is not None:
            spark.streams.removeListener(listener)
        t_stop = time.time()
        stream.stop()
        server.stop()
        phases["stop"] = time.time() - t_stop

    late_ids, late_rows = _late_rows(sched)
    t_gate = time.time()
    with tracer.span("phase", phase="gate"):
        failures = gate(spark, stream, late_ids, late_rows, drops)
    phases["gate"] = time.time() - t_gate
    if not drained:
        rec.errors.append("steady-phase files not all committed within 60 s of the phase end")

    # ops: (file, pipeline) deliveries, stream batches, dashboard requests
    fresh = freshness(stream, steady)
    http = rec.http
    # a batch still running when the queries are stopped is interrupted
    # by the stop, not failed by the engine
    batches = [c for c in rec.sink_calls if c[2] >= t_start and c[3] < t_stop]
    attempted = len(fresh) + len(batches) + len(http) + counter_ops
    failed = (sum(1 for x in fresh if x == float("inf")) + sum(1 for c in batches if not c[4])
              + sum(1 for h in http if h[3] >= 500 or h[3] < 0) + counter_failed)
    e2e = {
        "setup_s": setup_s,
        "lat_mean_s": sum(fresh) / len(fresh),
        "lat_tail_s": common.quantile(fresh, 0.9),
    }
    layers.update({
        "fresh_p50_s": common.quantile(fresh, 0.5),
        "fresh_p90_s": e2e["lat_tail_s"],
        "catchup_eps": eps,
    })
    layers.update({"runtime.jvm_rss_peak_mb": rss.jvm_peak, "runtime.py_rss_peak_mb": rss.py_peak,
                   "runtime.rss_peak_mb": rss.sum_peak, "runtime.retained_mb": retained})
    if args.trace:
        dash = [t1 - t0 if 200 <= code < 500 else float("inf") for _, t0, t1, code in http]
        layers["dash_p50_s"] = common.quantile(dash, 0.5)
        layers["dash_p90_s"] = common.quantile(dash, 0.9)
        traced_files = steady[half:]
        layers.update(_source_layers(stream, traced_files))
        layers["streaming.late_drops"] = sum(drops.values())
        layers["sinks.files_end"], layers["sinks.bytes_end"] = common.dir_stats(stream.sink_dir)
        # the traced half runs later, on a JVM that has compiled more, so
        # this difference reads low; trace.hook_s is the direct cost
        untraced_p50 = common.quantile(freshness(stream, steady[:half]), 0.5)
        layers["trace.overhead_frac"] = (
            common.quantile(freshness(stream, traced_files), 0.5) / untraced_p50 - 1.0)
    return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed,
            "gate_failures": failures, "errors": rec.errors,
            "phases": {k: round(v, 2) for k, v in phases.items()}}


def _state_end(stream: Stream) -> dict[str, float]:
    rows = mem = 0
    for q in stream.queries.values():
        p = q.lastProgress
        for op in (p or {}).get("stateOperators", []):
            rows += op.get("numRowsTotal", 0)
            mem += op.get("memoryUsedBytes", 0)
    return {"streaming.state_rows_end": rows, "streaming.state_mem_bytes_end": mem}


def _stream_jobs(spark, stream: Stream) -> set[int]:
    st = spark.sparkContext.statusTracker()
    return {j for q in stream.queries.values() for j in st.getJobIdsForGroup(str(q.runId))}


class _TracedDash:
    """Replaces the server's route functions with wrappers that give
    each dashboard compute its own Spark job group and a span."""

    def __init__(self, spark, server, sink_dir: str):
        self.computes: list[dict] = []
        self.hook_s = 0.0  # time spent in the wrappers themselves
        sc = spark.sparkContext
        for ep in ENDPOINTS:
            fn = server.routes[ep]

            def wrapped(spark_, sink_dir_, _fn=fn, _ep=ep):
                t0 = time.perf_counter()
                group = f"perfbench:dash:{len(self.computes)}"
                sc.setJobGroup(group, _ep)
                files, _ = common.dir_stats(os.path.join(sink_dir, ENDPOINT_TABLE[_ep]))
                self.computes.append({"ep": _ep, "group": group, "start": time.time(),
                                      "files": files})
                self.hook_s += time.perf_counter() - t0
                return _fn(spark_, sink_dir_)

            server.routes[ep] = wrapped


def _traced_layers(spark, stream, listener, dash: _TracedDash, jobs_steady: set[int],
                   phase, burst, http, tracer) -> dict[str, float]:
    counters = common.SparkCounters(spark)
    p0, p1 = phase
    prog = [p for p in listener.progress if p0 <= _epoch(p["timestamp"]) <= p1]
    dur = lambda p, k: p.get("durationMs", {}).get(k, 0)  # noqa: E731
    trig = [dur(p, "triggerExecution") for p in prog]
    state_commit = [op.get("commitTimeMs", 0) for p in prog for op in p.get("stateOperators", [])]
    # stream batches as op spans, sink calls as their children
    batch_span = {}
    for p in listener.progress:
        s = _epoch(p["timestamp"])
        batch_span[(p["name"], p["batchId"])] = tracer.add(
            "op.batch", s, s + dur(p, "triggerExecution") / 1e3, None,
            query=p["name"], batch=p["batchId"], rows=p.get("numInputRows", 0))
    for name, b, t0, t1, ok in stream.rec.sink_calls:
        if (name, b) in batch_span:
            tracer.add("sinks.call", t0, t1, batch_span[(name, b)], query=name, batch=b, ok=ok)
    calls = [c for c in stream.rec.sink_calls if p0 <= c[2] <= p1]
    tasks, _ = counters.tasks_and_stages(sorted(jobs_steady))
    n_batches = len(prog) or float("nan")
    # dashboard: requests as ops, computes as their children
    rest = counters.rest_by_group()
    http_ids = [(tracer.add("op.http", t0, t1, None, endpoint=ep, code=code), ep, t0, t1)
                for ep, t0, t1, code in http]
    compute_ms, jobs_dash, files = [], 0, []
    for c in dash.computes:
        g = rest.get(c["group"], {})
        jobs_dash += g.get("jobs", 0)
        files.append(c["files"])
        parent = next((sid for sid, ep, t0, t1 in http_ids
                       if ep == c["ep"] and t0 <= c["start"] <= t1), None)
        end = next((t1 for sid, ep, t0, t1 in http_ids if sid == parent), c["start"])
        tracer.add("webdash.compute", c["start"], end, parent, endpoint=c["ep"])
        compute_ms.append((end - c["start"]) * 1e3)
    t_b, t_done = burst
    burst_prog = [p for p in listener.progress if t_b <= _epoch(p["timestamp"]) <= t_done]
    burst_rest = counters.rest_by_group(since=t_b, until=t_done)
    cpu = run = 0.0
    for q in stream.queries.values():
        g = burst_rest.get(str(q.runId), {})
        cpu += g.get("cpu_s", 0.0)
        run += g.get("run_s", 0.0)
    return {
        "sources.list_ms_p50": common.quantile(
            [dur(p, "latestOffset") + dur(p, "getBatch") for p in prog], 0.5),
        "streaming.batches": len(prog),
        "streaming.trigger_ms_p50": common.quantile(trig, 0.5),
        "streaming.trigger_ms_p90": common.quantile(trig, 0.9),
        "streaming.add_batch_ms_p50": common.quantile([dur(p, "addBatch") for p in prog], 0.5),
        "streaming.planning_ms_p50": common.quantile([dur(p, "queryPlanning") for p in prog], 0.5),
        "streaming.commit_ms_p50": common.quantile([dur(p, "commitOffsets") for p in prog], 0.5),
        "streaming.state_commit_ms_p50": common.quantile(state_commit, 0.5),
        "streaming.jobs_per_batch": len(jobs_steady) / n_batches,
        "streaming.tasks_per_batch": tasks / n_batches,
        # batch time inside the traced window per second of it
        "streaming.overlap_mean": sum(
            max(0.0, min(_epoch(p["timestamp"]) + dur(p, "triggerExecution") / 1e3, p1)
                - max(_epoch(p["timestamp"]), p0))
            for p in listener.progress) / (p1 - p0),
        "streaming.nodata_batches": sum(1 for p in prog if p.get("numInputRows", 0) == 0),
        "streaming.catchup_batches": len(burst_prog),
        "streaming.catchup_trigger_ms_max": max([dur(p, "triggerExecution") for p in burst_prog],
                                                default=float("nan")),
        "streaming.catchup_cpu_frac": cpu / run if run else float("nan"),
        "sinks.call_ms_p50": common.quantile([(c[3] - c[2]) * 1e3 for c in calls], 0.5),
        "sinks.busy_s": sum(c[3] - c[2] for c in calls),
        "sinks.retries": sum(stream.rec.write_attempts.values()) - sum(stream.rec.write_ok.values()),
        "webdash.compute_ms_p50": common.quantile(compute_ms, 0.5),
        "webdash.cache_hit_frac": 1.0 - len(dash.computes) / (len(http) or float("nan")),
        "webdash.jobs_per_compute": jobs_dash / (len(dash.computes) or float("nan")),
        "webdash.files_scanned_p50": common.quantile(files, 0.5),
    }


def _source_layers(stream: Stream, files) -> dict[str, float]:
    """Generator lateness and backlog (files written but not committed by
    every update-mode query), evaluated at each file's write time."""
    ends = stream.rec.sink_end()
    commit_at = {}
    for p in UPDATE_MODE:
        fb = file_batches(os.path.join(stream.ckpt, p))
        for f in files:
            t = ends.get((p, fb.get(f.name, -1)), float("inf"))
            commit_at[f.name] = max(commit_at.get(f.name, 0.0), t)
    written = {f.name: stream.rec.written[f.name][1] for f in files}
    lag = max(stream.rec.written[f.name][1] - stream.rec.written[f.name][0] for f in files)
    pts = []
    for f in files:
        t = written[f.name]
        pts.append((t, sum(1 for g in files if written[g.name] <= t < commit_at[g.name])))
    n = len(pts)
    mt = sum(t for t, _ in pts) / n
    mb = sum(b for _, b in pts) / n
    var = sum((t - mt) ** 2 for t, _ in pts)
    slope = sum((t - mt) * (b - mb) for t, b in pts) / var if var else float("nan")
    return {"sources.gen_lag_max_s": lag, "sources.backlog_files_max": max(b for _, b in pts),
            "sources.backlog_slope": slope}


# ---- single-threaded baseline -------------------------------------------------


def one_core_burst(seed: int) -> float:
    """Catch-up events/s of the same burst on ``local[1]``."""
    work = common.prepare_environment("one-core")
    spark = common.start_session("perfbench-one-core", 1)
    try:
        sched = datagen.live_schedule(seed, 0.0, 0.0)
        stream = Stream(spark, work, Record(), count_writes=False)
        try:
            warm = sched.warm[:4]
            for f in warm:
                stream.write(f, time.time())
            stream.start()
            if not stream.wait_committed([f.name for f in warm], UPDATE_MODE, 120):
                raise RuntimeError("one-core warm files not committed in time")
            return catchup(stream, [sched.burst], 150)[2]
        finally:
            stream.stop()
    finally:
        common.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def one_core_subprocess(seed: int) -> float:
    """Run ``one_core_burst`` in its own process (its own JVM).  On
    timeout the whole process group, JVM included, is killed."""
    import signal
    import subprocess

    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--one-core-burst", str(seed)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=common.ROOT,
        env={**os.environ, "SPARK_GRAFT_CPUS": "1"}, start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=ONE_CORE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"one-core replay failed: {err[-500:]}")
    return float(out.strip().splitlines()[-1])


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--one-core-burst":
        sys.path.insert(0, common.ROOT)
        print(one_core_burst(int(sys.argv[2])))
    else:
        sys.exit("usage: live.py --one-core-burst SEED")
