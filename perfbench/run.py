#!/usr/bin/env python3
"""Benchmark of the clickstream engine, one workload per run.

    python3 perfbench/run.py --workload clickstream_live --seed 1 --seconds 8 --trace 0

Run from the repository root.  Workloads (see BENCHMARK.json):

- ``clickstream_live``: open-loop file stream through five streaming
  pipelines into parquet sinks;
- ``analyst_mix``: closed-loop registry queries (headline legs plus
  the similarity-join twin pairs) and written-index probes, ingests and
  erasures.

Inputs are generated from ``--seed``; the engine runs on
``local[nproc]`` in this process.  With ``--trace 0`` the run measures
the end-to-end metrics with no instrumentation beyond timestamps.  With
``--trace 1`` the timed work runs with spans, a streaming listener and
per-op Spark job groups (the second half of the live steady phase plus
a dashboard phase; every analyst pass), and the run reports per-layer
metrics instead: the layers' counters, per-span self time and the
tracing overhead.  Every value printed is a finite number.  A per-layer
metric of a layer the workload does not exercise reads 0 (the workload
did no work there); one the workload measures but could not compute
(a failed counter read, an empty sample) also reads 0 and counts as a
failed op, so it shows in ``failed``.  An end-to-end metric that is not
finite fails the run: it exits 2 without a result line.  The spans are
written to ``.perfbench_out/``.  Every run checks the engine's outputs
(the correctness gate); when they do not hold the result reads
``"correct": false`` and the exit code is 1.

Each metric is printed as ``<name> <value> <unit>``; the last line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``RECHECK_SEED`` is kept out of development runs, for re-checking a
claim on unseen inputs.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import common  # noqa: E402  (stamps the process start time)

RECHECK_SEED = 7919
WORKLOADS = ("clickstream_live", "analyst_mix")


def metric_specs() -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """(name, unit) of the end-to-end and the per-layer metrics, as
    BENCHMARK.json lists them."""
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    pairs = lambda key: [(m["name"], m["unit"]) for m in spec[key]]  # noqa: E731
    return pairs("end_to_end"), pairs("per_layer")


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _check_engine() -> None:
    """Fail fast, before any set-up, when the engine or its test
    harness is not next to the benchmark."""
    import importlib

    for mod in (
        "clickstreaming_end_to_end_data_engineering_project_spark.plans.registry",
        "tests.oracle_harness",
    ):
        importlib.import_module(mod)


def run(args: argparse.Namespace) -> dict:
    import analyst
    import live

    _check_engine()
    cpus = common.nproc()
    work = common.prepare_environment(args.workload)
    tracer = common.Tracer(enabled=False)
    ctx = {"seed": args.seed, "workload": args.workload, "nproc": cpus,
           "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"), "trace": args.trace}
    t0 = time.time()
    spark = common.start_session(f"perfbench-{args.workload}", cpus)
    layers = {"session.start_s": time.time() - t0}
    try:
        if args.workload == "analyst_mix":
            res = analyst.run(spark, args, work, tracer, layers)
        else:
            res = live.run(spark, args, work, tracer, layers)
    finally:
        common.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    if args.trace and args.workload == "clickstream_live":
        # the baseline replay is an op of the traced run: a failed one
        # is counted, and its metric stays unmeasured
        res["attempted"] += 1
        try:
            layers["streaming.catchup_eps_1core"] = live.one_core_subprocess(args.seed)
        except (RuntimeError, OSError, ValueError, subprocess.SubprocessError) as exc:
            res["failed"] += 1
            res["errors"].append(f"one-core baseline: {exc}")
    if args.trace:
        layers["trace.spans"] = len(tracer.spans)
        for name, v in tracer.self_times().items():
            layers[f"self.{name}"] = v
    res["context"] = {**ctx, **common.box_state()}
    layers["runtime.box_spin_mops"] = res["context"]["spin_mops"]
    layers["runtime.box_load_1m"] = res["context"]["load_1m"]
    if args.trace:
        os.makedirs(common.OUT, exist_ok=True)
        tracer.dump(os.path.join(common.OUT, f"spans-{args.workload}-seed{args.seed}.json"))
    return res


def report(args, res: dict) -> dict:
    """Print every metric as ``<name> <value> <unit>`` and return the
    result object.  A per-layer metric missing from the workload's
    figures (another workload's layer, or a counter read already counted
    failed) reads 0; one the workload computed as NaN or inf also reads 0
    and adds a failed op.  A non-finite end-to-end metric raises."""
    e2e_specs, layer_specs = metric_specs()
    layers = res["layers"]
    print("context " + json.dumps(res["context"], sort_keys=True))
    if res.get("phases"):
        print("phases_s " + json.dumps(res["phases"]))
    for name, why in sorted(res["gate_failures"].items()):
        print(f"GATE FAIL {name}: {why}")
    for err in res["errors"][:20]:
        print(f"ERROR {err}")
    if args.trace:
        chosen, values = layer_specs, layers
    else:
        chosen, values = e2e_specs, res["e2e"]
    bad = sorted(n for n, _ in chosen if n in values and not math.isfinite(values[n]))
    if bad and not args.trace:
        raise ValueError(f"end-to-end metrics not finite: {bad}")
    if bad:
        res["attempted"] += 1
        res["failed"] += 1
        print(f"ERROR per-layer metrics not computed: {bad}")
    layers["error_frac"] = res["failed"] / max(1, res["attempted"])
    metrics = {n: {"value": float(values[n]) if n in values and n not in bad else 0.0, "unit": u}
               for n, u in chosen}
    for n, m in metrics.items():
        print(f"{n} {m['value']:.6g} {m['unit']}")
    return {
        "correct": not res["gate_failures"],
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse(sys.argv[1:] if argv is None else argv)
    res = run(args)
    try:
        out = report(args, res)
    except ValueError as exc:
        print(f"no result: {exc}", file=sys.stderr)
        return 2
    print(json.dumps(out, allow_nan=False))
    if not out["correct"]:
        print("correctness gate failed", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
