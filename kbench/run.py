#!/usr/bin/env python3
"""Benchmark entry point.

    python3 kbench/run.py --workload ingest_backfill --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of this repository. Generates the
workload's inputs from ``--seed``, sets up the engine, measures for
``--seconds`` seconds, checks every output, and prints as the last line
of standard output one JSON object::

    {"correct": true, "attempted": 7, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics listed in
BENCHMARK.json, with ``--trace 1`` its per-layer metrics (and the run
writes its spans under ``.kbench/traces/``). Metric definitions and why
each workload exists: ``kbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_backfill", "intake_drain", "query_mix")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _metrics(values: dict, spec_metrics: list[dict], fill_zero: bool) -> dict:
    """``values`` in BENCHMARK.json's order, with its units. With
    ``fill_zero``, a metric the workload did not report reads 0: per-layer
    metrics of a layer the workload does not exercise."""
    names = [m["name"] for m in spec_metrics]
    unknown = set(values) - set(names)
    missing = set(names) - set(values)
    if unknown or (missing and not fill_zero):
        raise RuntimeError(
            f"metrics not in BENCHMARK.json: {sorted(unknown)}; missing: {sorted(missing)}"
        )
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec_metrics
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the engine is this checkout's kinesis_spark package
    sys.path.insert(0, ROOT)
    try:
        import kinesis_spark  # noqa: F401
    except ImportError as exc:
        print(f"kbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    spec = _load_spec()

    from kbench import harness

    state = os.path.join(ROOT, ".kbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(state, "work", run_id)
    harness.configure_env(work)
    tracer = harness.Tracer(bool(args.trace), run_id)
    sampler = harness.ProcSampler() if args.trace else None

    if args.workload == "ingest_backfill":
        from kbench.ingest_backfill import run
    elif args.workload == "intake_drain":
        from kbench.intake_drain import run
    else:
        from kbench.query_mix import run

    if sampler:
        sampler.start()
    try:
        res = run(work, args.seed, args.seconds, tracer)
    finally:
        if sampler:
            proc = sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    for note in res.notes:
        print(f"kbench: {note}", file=sys.stderr)
    last_path = os.path.join(state, "results", f"{args.workload}.json")
    if args.trace:
        res.per_layer.update(proc)
        # the traced run's own end-to-end figures, and their excess over
        # the latest untraced run of this workload: the tracing overhead
        for k, v in res.end_to_end.items():
            res.per_layer[f"trace.{k}"] = v
        tracer.write(os.path.join(state, "traces", f"{run_id}.json"))
        if os.path.exists(last_path):
            with open(last_path) as f:
                untraced = json.load(f)
            for k, v in res.end_to_end.items():
                if k in untraced:
                    print(f"kbench: tracing overhead {k}: {v - untraced[k]:+.4f} "
                          f"(traced {v:.4f}, untraced {untraced[k]:.4f})", file=sys.stderr)
        metrics = _metrics(res.per_layer, spec["per_layer"], fill_zero=True)
    else:
        os.makedirs(os.path.dirname(last_path), exist_ok=True)
        with open(last_path, "w") as f:
            json.dump(res.end_to_end, f)
        metrics = _metrics(res.end_to_end, spec["end_to_end"], fill_zero=False)

    print(json.dumps({
        "correct": res.attempted > 0 and res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
