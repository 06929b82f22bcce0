#!/usr/bin/env python3
"""KG-pipeline benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics of BENCHMARK.json from untraced runs; ``--trace 1`` prints its
per-layer metrics from a traced run (layers a workload never calls read
0) and writes the spans and per-layer self times under
``perfbench/_out/``. The last stdout line is the result object; the exit
code is non-zero when an output check failed. ``stream_ingest`` is not
in BENCHMARK.json (see perfbench/README.md); run by hand, it prints the
metrics it measured. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def main() -> int:
    from perfbench.workloads import WORKLOADS

    spec = declared()
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import dygiepp_spark  # noqa: F401  (fails fast outside a checkout)

    from perfbench import harness as H
    from perfbench.workloads import Run

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), T_START)
    try:
        measured, attempted, failed = WORKLOADS[args.workload](run)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.workload not in spec["workloads"]:
        wanted = {name: unit for name, (_, unit) in measured.items()}
    unknown = set(measured) - set(wanted)
    if unknown:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    if not args.trace and set(wanted) - set(measured):
        raise RuntimeError(f"end-to-end metrics missing: {sorted(set(wanted) - set(measured))}")
    metrics = {}
    for name, unit in wanted.items():
        value, got_unit = measured.get(name, (0.0, unit))
        if got_unit != unit:
            raise RuntimeError(f"{name}: unit {got_unit} != declared {unit}")
        metrics[name] = H.metric(value, unit)

    if args.trace:
        out = os.path.join(H.BENCH_DIR, "_out", f"{args.workload}-s{args.seed}")
        run.spans.dump(out + ".spans.jsonl")
        selfs = run.spans.self_times()
        with open(out + ".self_times.json", "w") as f:
            json.dump(selfs, f, indent=1, sort_keys=True)
        for name, s in sorted(selfs.items(), key=lambda kv: -kv[1]):
            print(f"self_s {name:32s} {s:9.3f}")
    print(f"input_digest {run.input_digest}  fail_rate {failed / attempted:.4f}")
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        ),
        flush=True,
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
