"""``analyst_mix``: one closed-loop client running the registry's
headline legs, the two similarity-join twin pairs and the written-index
ops of ``indexserve`` (six probes, one daily ingest, one erasure).

Each pass runs the fixed multiset of ops once, in an order shuffled
from the seed.  A query is timed from the registry call through its
``noop`` write (the DataFrame is built and fully executed, nothing is
collected); a probe through its top-10 collect; an ingest through the
five appends and the five ``maintain_index`` calls; an erasure through
its ``forget_ids`` call.  The first pass is also the session's first
run of every query: set-up builds the index layouts but runs no query.

After the timed passes the correctness gate checks the DataFrames of
the first pass (tests/oracle_harness against the registry's DuckDB
oracle, or a row count for queries without one) and the recall and
erasure of every probe.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import common
import indexserve
from common import SparkCounters, median, quantile
from datagen import write_tables

TWINS = [
    "prefix_cosine_dups",
    "doc_new_vs_corpus_cosine",
    "prefix_jaccard_dups",
    "doc_new_vs_corpus_jaccard",
]
GATE_WORKERS = 4


def queries() -> list[str]:
    from clickstreaming_end_to_end_data_engineering_project_spark.plans.registry import BENCH_HEADLINE

    return list(BENCH_HEADLINE) + TWINS


def _kind(name: str) -> str:
    return name.split(".", 1)[0] if name in indexserve.op_names() else "query"


def _gate_one(spec, df, sf_dir: str) -> str | None:
    """None when the query's result holds, else the reason it does not."""
    from tests.oracle_harness import compare, duck_connection

    if spec.oracle is None:
        return None if df.count() > 0 else "rows-only query returned no rows"
    con = duck_connection(sf_dir)
    try:
        # strict (pandas-coerced) comparison unless the query returns array cells
        ok, msg = compare(df, con, spec.oracle, not spec.nonscalar)
    finally:
        con.close()
    return None if ok else msg


class Analyst:
    def __init__(self, spark, sf_dir: str, seed: int, tracer, index: indexserve.IndexClient):
        from clickstreaming_end_to_end_data_engineering_project_spark.plans.registry import all_specs

        self.spark = spark
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.index = index
        self.specs = all_specs()
        self.ops = queries() + indexserve.op_names()
        self.rng = random.Random(seed)
        self.lat: dict[str, list[float]] = {"query": [], "probe": [], "ingest": [], "forget": []}
        self.frames: dict = {}  # each query's first DataFrame, for the gate
        self.passes: list[float] = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.hook_s = 0.0  # time spent recording spans, job groups and storage walks

    def _query(self, name: str) -> list[tuple[str, float, float]]:
        t0 = time.time()
        df = self.specs[name].fn(self.spark, self.sf_dir)
        t_build = time.time()
        df.write.format("noop").mode("overwrite").save()
        self.frames.setdefault(name, df)
        return [("plans.build", t0, t_build), ("plans.action", t_build, time.time())]

    def run_pass(self, traced: bool, pass_no: int) -> tuple[float, list[dict]]:
        """One pass over the mix in a fresh seeded order.  Returns its
        wall time and, when traced, one record per op."""
        self.index.prepare_pass(pass_no)
        order = self.rng.sample(self.ops, len(self.ops))
        sc = self.spark.sparkContext
        records = []
        t_pass = time.perf_counter()
        with self.tracer.span("phase", phase="pass", pass_no=pass_no) as ph:
            for name in order:
                kind = _kind(name)
                group = f"perfbench:{pass_no}:{name}"
                before = None
                if traced:
                    t_hook = time.perf_counter()
                    sc.setJobGroup(group, name)
                    if kind in ("ingest", "forget"):
                        before = self.index.snapshot()
                    self.hook_s += time.perf_counter() - t_hook
                self.attempted += 1
                t0 = time.time()
                parts = []
                try:
                    parts = self._query(name) if kind == "query" else self.index.run(name, pass_no)
                    t1 = time.time()
                    self.lat[kind].append(t1 - t0)
                except Exception as exc:  # counted, never swallowed silently
                    t1 = time.time()
                    self.failed += 1
                    self.lat[kind].append(float("inf"))
                    self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                if traced:
                    t_hook = time.perf_counter()
                    oid = self.tracer.add(f"op.{kind}", t0, t1, ph.id, op=name)
                    for span, a, b in parts:
                        self.tracer.add(span, a, b, oid, op=name)
                    rec = {"name": name, "kind": kind, "group": group, "parts": parts,
                           "t0": t0, "t1": t1}
                    if before is not None:
                        rec["fs"] = indexserve.diff(before, self.index.snapshot())
                    if kind == "probe":
                        rec["segments"] = self.index.segments()
                    records.append(rec)
                    self.hook_s += time.perf_counter() - t_hook
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return time.perf_counter() - t_pass, records

    def timed(self, seconds: float, traced: bool) -> list[dict]:
        """Whole passes, at least one; another starts only if a pass as
        long as the last would still end within ``seconds``.  Returns the
        op records of traced passes."""
        deadline = time.perf_counter() + seconds
        records = []
        while not self.passes or time.perf_counter() + self.passes[-1] < deadline:
            wall, recs = self.run_pass(traced, len(self.passes))
            self.passes.append(wall)
            records += recs
        return records

    def gate(self) -> tuple[dict[str, str], dict[str, float]]:
        """Every query of the first pass against its check, then every
        probe's recall and erasure; ({check: failure}, {probe: recall})."""

        def one(name: str) -> tuple[str, str | None]:
            if name not in self.frames:
                return name, "query did not run"
            try:
                return name, _gate_one(self.specs[name], self.frames[name], self.sf_dir)
            except Exception as exc:  # a query that raises fails the gate, with its reason
                return name, f"{type(exc).__name__}: {exc}"[:300]

        with ThreadPoolExecutor(max_workers=GATE_WORKERS) as pool:
            index_gate = pool.submit(self.index.gate)
            results = list(pool.map(one, queries()))
            index_failures, recall = index_gate.result()
        failures = {n: why for n, why in results if why is not None}
        failures.update(index_failures)
        return failures, recall

    def e2e(self) -> dict[str, float]:
        ops = [x for v in self.lat.values() for x in v]
        return {
            "lat_mean_s": sum(ops) / len(ops),
            # mean of the slowest quarter: the similarity joins, ingest and
            # erasure, read from several ops instead of one order statistic
            "lat_tail_s": _top_quarter_mean(ops),
        }

    def layer_latencies(self) -> dict[str, float]:
        return {
            "query_p50_s": quantile(self.lat["query"], 0.5),
            "query_p90_s": quantile(self.lat["query"], 0.9),
            "probe_p50_s": quantile(self.lat["probe"], 0.5),
            "probe_p90_s": quantile(self.lat["probe"], 0.9),
            "ingest_p50_s": quantile(self.lat["ingest"], 0.5),
            "forget_p50_s": quantile(self.lat["forget"], 0.5),
            "pass_s": median(self.passes),
        }


def _top_quarter_mean(values: list[float]) -> float:
    top = sorted(values)[-max(1, len(values) // 4):]
    return sum(top) / len(top)


def traced_layers(an: Analyst, spark, records: list[dict], t_start: float) -> dict[str, float]:
    """Spark work of the traced passes from the REST job and stage
    metrics (each op ran in its own job group), per-call index times and
    the storage the index ops wrote."""
    # forget_ids starts its deletes from its own thread pool; the client
    # runs one op at a time, so the erasure's window names its jobs
    windows = tuple((r["group"], r["t0"], r["t1"]) for r in records if r["kind"] == "forget")
    rest = SparkCounters(spark).rest_by_group(since=t_start, windows=windows)
    keys = ("jobs", "stages", "tasks", "cpu_s", "run_s", "gc_s", "input_bytes", "shuffle_bytes",
            "spill_bytes")
    agg = {k: dict.fromkeys(keys, 0) for k in ("query", "probe", "ingest", "forget")}
    for r in records:
        g = rest.get(r["group"], {})
        for k in keys:
            agg[r["kind"]][k] += g.get(k, 0)
    span = lambda rec, name: sum(b - a for n, a, b in rec["parts"] if n == name)  # noqa: E731
    q, p = agg["query"], agg["probe"]
    ingest = [r for r in records if r["kind"] == "ingest"]
    forget = [r for r in records if r["kind"] == "forget"]
    probes = [r for r in records if r["kind"] == "probe"]
    idx = an.index
    inc_bytes = idx.increment_bytes[-1]
    out = {
        "plans.build_s": sum(span(r, "plans.build") for r in records),
        "plans.action_s": sum(span(r, "plans.action") for r in records),
        "plans.jobs": q["jobs"],
        "plans.stages": q["stages"],
        "plans.tasks": q["tasks"],
        "plans.input_bytes": q["input_bytes"],
        "plans.exec_cpu_s": q["cpu_s"],
        "plans.exec_run_s": q["run_s"],
        "plans.cpu_frac": q["cpu_s"] / q["run_s"] if q["run_s"] else float("nan"),
        "plans.gc_s": q["gc_s"],
        "plans.shuffle_bytes": q["shuffle_bytes"],
        "plans.spill_bytes": q["spill_bytes"],
        "operators.probe.jobs": p["jobs"],
        "operators.probe.tasks": p["tasks"],
        "operators.probe.input_bytes": p["input_bytes"],
        "operators.probe.segments_p50": quantile([s for r in probes for s in r["segments"]], 0.5),
        "operators.ingest.maintain_s": sum(span(r, "operators.maintain_index") for r in ingest),
        "operators.ingest.compactions": idx.compactions,
        "operators.ingest.jobs": agg["ingest"]["jobs"],
        "operators.ingest.tasks": agg["ingest"]["tasks"],
        "operators.forget.jobs": agg["forget"]["jobs"],
        "operators.forget.tasks": agg["forget"]["tasks"],
        "fsutil.ingest.files_written": sum(r["fs"][0] for r in ingest),
        "fsutil.ingest.bytes_written": sum(r["fs"][1] for r in ingest),
        "fsutil.ingest.write_amp": sum(r["fs"][1] for r in ingest) / inc_bytes,
        "fsutil.forget.files_rewritten": sum(r["fs"][0] for r in forget),
        "fsutil.forget.bytes_rewritten": sum(r["fs"][1] for r in forget),
        "fsutil.index_bytes_end": idx.index_bytes(),
        "trace.hook_s": an.hook_s,
        # every tracing hook of this workload runs on the client thread
        # and is timed, so its share of the traced passes is the overhead
        "trace.overhead_frac": an.hook_s / sum(an.passes),
    }
    for lay in indexserve.LAYOUTS:
        out[f"operators.ingest.append_s.{lay}"] = sum(span(r, f"operators.append_{lay}") for r in ingest)
    return out


def run(spark, args, work: str, tracer, layers: dict) -> dict:
    t_gen = time.time()
    sf_dir = os.path.join(work, "tables")
    write_tables(sf_dir, args.seed)
    index = indexserve.IndexClient(spark, work, args.seed)
    layers["operators.build_s"] = index.build()
    an = Analyst(spark, sf_dir, args.seed, tracer, index)
    layers["session.warm_s"] = time.time() - t_gen
    # process start to the first timed op
    setup_s = time.time() - common.T0
    # a traced run traces its timed passes: it reports only per-layer
    # metrics, and the op latencies exclude the hooks
    tracer.enabled = bool(args.trace)
    t_timed = time.time()
    with common.RssSampler(common.jvm_pid(spark)) as rss:
        records = an.timed(args.seconds, bool(args.trace))
    e2e = an.e2e()
    e2e["setup_s"] = setup_s
    layers.update(an.layer_latencies())
    layers.update({"runtime.jvm_rss_peak_mb": rss.jvm_peak, "runtime.py_rss_peak_mb": rss.py_peak,
                   "runtime.rss_peak_mb": rss.sum_peak, "runtime.retained_mb": common.retained_mb(spark)})
    t_gate = time.time()
    with tracer.span("phase", phase="gate"):
        failures, recall = an.gate()
    phases = {"gate": round(time.time() - t_gate, 2)}
    for p, r in recall.items():
        layers[f"operators.probe.recall_at_10.{p}"] = r
    if args.trace:
        an.attempted += 1  # the counter read is an op of the traced run
        try:
            layers.update(traced_layers(an, spark, records, t_timed))
        except (RuntimeError, OSError, ValueError) as exc:
            an.failed += 1
            an.errors.append(f"traced counters: {type(exc).__name__}: {exc}"[:300])
    return {
        "e2e": e2e, "layers": layers, "attempted": an.attempted, "failed": an.failed,
        "gate_failures": failures, "errors": an.errors, "phases": phases,
    }
