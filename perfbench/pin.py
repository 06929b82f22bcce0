#!/usr/bin/env python3
"""Pin a workload's outputs per seed.

    python3 perfbench/pin.py --workload kg_batch --first 0 --last 63
    python3 perfbench/pin.py --workload extract_transformer --first 0 --last 63

For each seed, generates the workload's input and runs its timed path once
in one Spark session, and records in ``perfbench/pins.json``:

* ``kg_batch``: the order-insensitive digest of each of the 17 stage
  outputs of ``build_kg_pipeline(..., with_curation=True,
  with_analytics=True)``;
* ``extract_transformer``: (digest of the triple key set, triple count,
  sum of conf) of ``kernels.extract`` with ``NumpyTransformerScorer``,
  then ``kernel_triples``.

The benchmark checks every timed run against the pin of its seed. Re-pin
only at a commit whose outputs are meant to change, or when ``gen.py``
changes the inputs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=("kg_batch", "extract_transformer"))
    ap.add_argument("--first", type=int, default=0)
    ap.add_argument("--last", type=int, default=63)
    args = ap.parse_args()

    from perfbench import gen
    from perfbench import harness as H
    from perfbench import workloads as W

    work = H.make_workdir("pins", args.first)
    pins = W.load_pins()
    table = pins.setdefault(args.workload, {})
    spark = H.start_spark(work)
    try:
        for seed in range(args.first, args.last + 1):
            inp = os.path.join(work, f"in{seed}")
            out = os.path.join(work, f"out{seed}")
            if args.workload == "kg_batch":
                gen.write_split(
                    gen.documents(seed), os.path.join(inp, "documents.parquet"), gen.DOCS["n_files"]
                )
                W._kg_run(spark, out, inp)
                table[str(seed)] = W._stage_digests(out)
            else:
                gen.write_split(gen.turns(seed), inp, gen.TURNS["n_files"])
                W.extract_run(spark, inp, out)
                table[str(seed)] = list(W.triple_digest(out))
            print(seed, table[str(seed)], flush=True)
            shutil.rmtree(inp)
            shutil.rmtree(out)
    finally:
        H.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    pins[args.workload] = dict(sorted(table.items(), key=lambda kv: int(kv[0])))
    with open(os.path.join(H.BENCH_DIR, "pins.json"), "w") as f:
        json.dump(pins, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
