#!/usr/bin/env python3
"""Benchmark harness — prints ONE JSON line.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus a synthetic
transcript throughput probe (turns/sec through the full triple pipeline —
the engine's real unit of work, matching FIXTURES.md §7 bench scale knobs).

{"metric": "sum_best_query_sec", "value": <total>, "unit": "sec",
 "queries": {...per-query sec...}, "sf": <float>, "turns_per_sec": <n>}

``value`` = sum of per-query best-of-reps walls; ``harness_wall_sec``
carries the raw single-loop wall for cross-checking.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from dygiepp_spark import tables as TT
from dygiepp_spark.operators import extraction as EX
from dygiepp_spark.session import get_spark

#: synthetic throughput probe size (FIXTURES.md §7 bench: 100k convs,
#: Zipf tail). Overridable for quick local runs.
SYNTH_CONVS = int(os.environ.get("BENCH_SYNTH_CONVS", "20000"))
SYNTH_MAX_TURNS = int(os.environ.get("BENCH_SYNTH_MAX_TURNS", "2000"))


#: repetitions per query; the reported number is the BEST wall — this host
#: throttles bursts under sustained load (identical runs observed 1.5-2x
#: apart minutes later; see BENCH/BASELINE.md), and the engine's steady-
#: state cost is the quantity under test, not host credits
BENCH_REPS = int(os.environ.get("BENCH_REPS", "3"))


def run_query(fn, spark, sf_dir) -> float:
    t0 = time.time()
    fn(spark, sf_dir).count()
    return time.time() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    spark = get_spark("bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry_mod.queries()
    bench_names = [n for n in qs if n in BENCH_QUERIES]
    t_total0 = time.time()

    # synthetic throughput probe input: materialized first (localCheckpoint)
    # so the timing measures the ENGINE over stored turns — matching
    # production, where turns come off Iceberg — not the row generator
    turns = TT.synth_turns(
        spark, n_convs=SYNTH_CONVS, max_turns=SYNTH_MAX_TURNS
    ).localCheckpoint(eager=True)
    n_turns = turns.count()

    # reps run as PASSES over the whole query list (pass 1 all queries,
    # pass 2 all queries, ... best per query across passes): this host
    # throttles in multi-minute bursts, and back-to-back reps of one query
    # sit inside the same burst — time-separated passes give each query a
    # real second chance (see BENCH/BASELINE.md noise notes)
    walls: dict[str, list[float]] = {n: [] for n in bench_names}
    walls["synth_triples"] = []
    for _ in range(BENCH_REPS):
        for name in bench_names:
            walls[name].append(run_query(qs[name], spark, sf_dir))
        t0 = time.time()
        EX.emit_triples(turns).count()
        walls["synth_triples"].append(time.time() - t0)
    timings = {n: round(min(w), 3) for n, w in walls.items()}
    synth_sec = timings["synth_triples"]
    turns_per_sec = n_turns / synth_sec if synth_sec > 0 else 0.0

    # headline = sum of per-query best walls (directly comparable across
    # rounds regardless of BENCH_REPS); harness_wall_sec = raw loop wall.
    # Metric renamed from round 2's "e2e_bench_sec" — the value's meaning
    # (best-of-reps sum, not single-shot harness wall) now matches the name.
    total = sum(timings.values())
    out = {
        "metric": "sum_best_query_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "synth_turns": n_turns,
        "turns_per_sec": round(turns_per_sec, 1),
        "cpus": cpus,
        "reps": BENCH_REPS,
        "harness_wall_sec": round(time.time() - t_total0, 3),
    }
    # carry the north-rule evidence (process-executor N vs 4N protocol,
    # scripts/scaling.py -> BENCH/BASELINE.md) alongside the timings
    try:
        import re

        baseline = open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH", "BASELINE.md")
        ).read()
        m = re.search(r"Scaling efficiency = [^=]*= (\d+\.\d+)", baseline)
        if m:
            out["scaling_efficiency_n_vs_4n"] = float(m.group(1))
    except OSError:
        pass
    print(json.dumps(out))


#: subset of queries() worth timing (skip near-duplicates of these paths)
BENCH_QUERIES = {
    # extraction core
    "doc_assembly",
    "sentence_offsets",
    "mentions",
    "span_enum",
    "triples",
    "triples_kernel",
    "events_binary",
    # linking + graph materialization (broadcast joins + rollup)
    "kg_edges_agg",
    # coref connected-components loop
    "coref_canonical",
    # training-data-pipeline layer
    "token_counts",
    "image_meta",
    # corpus-curation layer (added r4 per VERDICT r3 #7 so its cost
    # regresses visibly round-over-round)
    "quality_filter",
    # graph-analytics + temporal layer (added late r4)
    "pagerank",
    "triangles",
    "asof_events",
    # late-r5 curation/graph wave (new lines, not in any prior sum)
    "lm_score",
    "intra_dedup",
    "pack_sequences",
    "lpa_communities",
    # closing-session wave (new lines, not in any prior sum)
    "random_walks",
    "entity_pmi",
    "mention_contexts",
    "bloom_decontam",
    "link_prediction",
}

if __name__ == "__main__":
    main()
