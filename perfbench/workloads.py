"""The three benchmark workloads. Each drives the program only through its
public entry points, on inputs ``gen`` makes from the seed, and returns
``(metrics, attempted, failed)``; ``metrics`` maps metric names to
``(value, unit)``."""

from __future__ import annotations

import os
import threading
import time

import pyarrow.parquet as pq

from perfbench import gen
from perfbench import harness as H
from perfbench import tracing as T

#: stage order of build_kg_pipeline(with_curation=True, with_analytics=True)
KG_STAGES = [
    "doc_filter", "doc_dedup", "clean_docs", "turns", "mentions", "triples",
    "coref_clusters", "canonical_entities", "kg_edges", "kg_edges_agg",
    "eval_exact", "kg_pagerank", "kg_triangles", "kg_negatives", "kg_kcore",
    "kg_communities", "kg_health",
]

#: kg_batch stage outputs checked against their DuckDB twins
#: (``__spark_entry__.oracle_sql()`` name per stage)
KG_TWINS = {
    "triples": "triples",
    "kg_edges_agg": "kg_edges_agg",
    "canonical_entities": "coref_canonical",
}

#: stream_ingest open loop: drop-file rate and files per micro-batch
STREAM_RATE = 10.0
STREAM_FILES_PER_TRIGGER = 32


class Run:
    """Per-process state shared by the workload phases."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, t_start: float):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_start = t_start
        self.work = H.make_workdir(workload, seed)
        self.event_log = os.path.join(self.work, "eventlog") if trace else None
        self.spans = T.Spans()
        self.failed = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self, make, write):
        """Make and write the inputs once. Their digest is printed on the
        ``input_digest`` line, so runs of one seed show whether generation
        is deterministic."""
        out = make()
        write(out)
        self.input_digest = gen.digest(*(out if isinstance(out, list) else [out]))
        return out

    def setup_s(self) -> float:
        """Process start to the first timed run."""
        return time.perf_counter() - self.t_start

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", flush=True)


def _end_to_end(setup_s, walls, turns_per_s, latencies, rss) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "job_s": (H.median(walls), "s"),
        "turns_per_s": (turns_per_s, "turns/s"),
        "result_latency_p50_s": (H.median(latencies), "s"),
        "result_latency_p90_s": (H.p90(latencies), "s"),
        "peak_rss_mb": (rss, "MB"),
    }


# --------------------------------------------------------------------------
# kg_batch
# --------------------------------------------------------------------------

def _kg_run(spark, wh: str, sf: str, store_wrap=None):
    from dygiepp_spark.plans.pipeline import build_kg_pipeline

    p = build_kg_pipeline(spark, wh, sf, with_curation=True, with_analytics=True)
    if store_wrap is not None:
        p.store = store_wrap(p.store)
    t0 = time.perf_counter()
    p.run()
    t1 = time.perf_counter()
    if [r.name for r in p.results] != KG_STAGES or any(r.resumed for r in p.results):
        raise RuntimeError("pipeline stages differ from the benchmark's, or resumed")
    return p, t0, t1


def _stage_digests(wh: str) -> dict[str, str]:
    return {s: H.frame_digest(H.read_frame(os.path.join(wh, s, "data"))) for s in KG_STAGES}


def _kg_twin_check(run: Run, wh: str) -> None:
    """triples / kg_edges_agg / canonical_entities equal their DuckDB
    twins evaluated over this run's clean_docs output."""
    import duckdb

    import __spark_entry__ as entry
    from scripts.parity import frame_key

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(wh, 'clean_docs', 'data', '*.parquet')}')"
    )
    for stage, twin in KG_TWINS.items():
        tbl = pq.read_table(os.path.join(wh, stage, "data"))
        rel = con.sql(oracles[twin])
        got = frame_key(tbl.column_names, [tuple(r.values()) for r in tbl.to_pylist()])
        want = frame_key([d[0] for d in rel.description], rel.fetchall())
        run.check(got == want, f"kg_batch {stage} != DuckDB {twin}")
    con.close()


def kg_batch(run: Run):
    sf = run.path("in")
    run.generate(
        lambda: gen.documents(run.seed),
        lambda tbl: gen.write_split(tbl, os.path.join(sf, "documents.parquet"), gen.DOCS["n_files"]),
    )
    spark = H.start_spark(run.work, run.event_log)
    try:
        # timed cold: run_pipeline.py runs one DAG per fresh session
        setup_s = run.setup_s()
        with H.RssSampler() as rss:
            runs = H.window(run.seconds, lambda i: _kg_run(spark, run.path(f"wh{i}"), sf))
        walls = [t1 - t0 for _, t0, t1 in runs]
        turns = runs[0][0].results[KG_STAGES.index("turns")].rows
        digests = [_stage_digests(run.path(f"wh{i}")) for i in range(len(runs))]
        # every stage of every run against the seed's pin; a seed without
        # a pin checks its runs against the first one
        ref = load_pins().get("kg_batch", {}).get(str(run.seed), digests[0])
        for i, d in enumerate(digests):
            bad = [s for s in KG_STAGES if d[s] != ref.get(s)]
            run.check(not bad, f"kg_batch run {i}: stages {bad} differ from the reference")
        layer, results = {}, None
        if run.trace:
            layer, results = _kg_traced(run, spark, sf, ref)
        _kg_twin_check(run, run.path("wh0"))
    finally:
        H.stop_spark(spark)
    if run.trace:
        layer.update(_kg_event_metrics(run, results))
        return layer, len(runs) + 1, run.failed
    m = _end_to_end(setup_s, walls, turns / H.median(walls), walls, rss.peak_mb)
    return m, len(runs), run.failed


def _kg_traced(run: Run, spark, sf: str, ref: dict) -> tuple[dict, list]:
    """One traced warm run, then one untraced warm run; the difference of
    their walls is the tracing overhead. The JIT still warms from run to
    run, so the later untraced run makes this an upper bound."""
    sp = run.spans
    p, t0, t1 = _kg_run(spark, run.path("wh_t"), sf, lambda s: T.TracingStore(s, spark, sp))
    T.clear_job_group(spark)
    _, u0, u1 = _kg_run(spark, run.path("wh_u"), sf)
    run.check(_stage_digests(run.path("wh_t")) == ref, "kg_batch traced run digests")
    job = sp.add("dag", t0, t1)
    stage_wall, write_s, book_s = {}, 0.0, 0.0
    for name in KG_STAGES:
        rows = [r for r in sp.rows if r.get("stage") == name]
        sid = sp.add(f"stage.{name}", min(r["t0"] for r in rows), max(r["t1"] for r in rows), job)
        for r in rows:
            r["parent"] = sid
        stage_wall[name] = sp.rows[sid]["t1"] - sp.rows[sid]["t0"]
        by = {r["name"]: r for r in rows}
        write_s += by["store.write"]["t1"] - by["store.write"]["t0"]
        # write_metrics + the pipeline's count() (the gap before the
        # manifest commit) + the commit itself
        book_s += by["store.commit_manifest"]["t1"] - by["store.write_metrics"]["t0"]
    out = {f"{s}.wall_s": (w, "s") for s, w in stage_wall.items()}
    out.update({f"{r.name}.rows": (r.rows, "rows") for r in p.results})
    kept = pq.read_table(os.path.join(run.path("wh_t"), "doc_filter", "data"), columns=["keep"])
    n_docs = p.results[0].rows
    out.update(
        {
            "store.write_s": (write_s, "s"),
            "store.bookkeeping_s": (book_s, "s"),
            "doc_filter.keep_ratio": (sum(kept.column("keep").to_pylist()) / n_docs, "ratio"),
            "doc_dedup.keep_ratio": (p.results[1].rows / n_docs, "ratio"),
            "trace.job_s": (t1 - t0, "s"),
            "trace.overhead_s": ((t1 - t0) - (u1 - u0), "s"),
            "dag.unattributed_s": ((t1 - t0) - sum(stage_wall.values()), "s"),
            "dag.stage_self_s": (
                sum(v for k, v in sp.self_times().items() if k.startswith("stage.")), "s"
            ),
        }
    )
    return out, p.results


def _kg_event_metrics(run: Run, results) -> dict:
    groups = T.parse_event_log(run.event_log)
    out = {}
    for s in KG_STAGES:
        g = groups.get(s, T.GroupStats())
        out[f"{s}.jobs"] = (g.jobs, "count")
        out[f"{s}.shuffle_write_mb"] = (g.shuffle_write / 2**20, "MB")
        out[f"{s}.task_skew"] = (g.task_skew, "ratio")
    triples = results[KG_STAGES.index("triples")].rows
    tg = groups.get("triples", T.GroupStats())
    cg = groups.get("coref_clusters", T.GroupStats())
    out.update(
        {
            "spark.gc_s": (sum(g.gc_ms for g in groups.values()) / 1e3, "s"),
            "spark.spill_mb": (sum(g.spill for g in groups.values()) / 2**20, "MB"),
            "triples.pairs_per_triple": (tg.node_rows.get("Generate", 0) / max(triples, 1), "ratio"),
            # each pointer-doubling round checkpoints eagerly once; one more
            # checkpoint seeds the labels
            "coref_clusters.rounds": (max(cg.checkpoints - 1, 0), "count"),
        }
    )
    return out


# --------------------------------------------------------------------------
# extract_transformer
# --------------------------------------------------------------------------

def triple_digest(path: str) -> tuple[str, int, float]:
    """(digest of the triple key set, triple count, sum of conf)."""
    df = H.read_frame(path)
    keys = df[["conv_id", "sent_text", "arg0", "arg1", "label"]]
    return H.frame_digest(keys), len(df), float(df["conf"].sum())


#: |sum of conf - pinned sum of conf| allowed (softmax scores in [0, 1])
CONF_TOL = 1e-6


def _extract_ok(got, want) -> bool:
    return got[:2] == tuple(want[:2]) and abs(got[2] - want[2]) <= CONF_TOL


def extract_run(spark, turns_dir: str, out: str) -> float:
    from dygiepp_spark.kernels import extract as KX
    from dygiepp_spark.kernels.transformer import NumpyTransformerScorer

    t0 = time.perf_counter()
    turns = spark.read.parquet(turns_dir)
    KX.kernel_triples(KX.extract(turns, NumpyTransformerScorer()), turns).write.parquet(out)
    return time.perf_counter() - t0


def _extract_reference(spark, turns_dir: str, out: str) -> None:
    """The same triples through the kernel's other physical form: one
    pandas frame per chunk, one forward per sentence."""
    from dygiepp_spark.kernels import extract as KX
    from dygiepp_spark.kernels.transformer import NumpyTransformerScorer

    turns = spark.read.parquet(turns_dir)
    KX.kernel_triples(
        KX.extract(turns, NumpyTransformerScorer(), doc_grouped=True, batched=False), turns
    ).write.parquet(out)


def load_pins() -> dict:
    import json

    path = os.path.join(H.BENCH_DIR, "pins.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


#: fewest timed extract_transformer runs whose median is reported
EXTRACT_MIN_RUNS = 5


def extract_transformer(run: Run):
    turns_dir = run.path("turns")
    tbl = run.generate(
        lambda: gen.turns(run.seed),
        lambda t: gen.write_split(t, turns_dir, gen.TURNS["n_files"]),
    )
    n_turns = tbl.num_rows
    # warm-up input: the same shape, other words
    gen.write_split(gen.turns(run.seed + 1_000_003), run.path("warm_in"), gen.TURNS["n_files"])
    spark = H.start_spark(run.work, run.event_log)
    try:
        extract_run(spark, run.path("warm_in"), run.path("warm"))
        setup_s = run.setup_s()
        with H.RssSampler() as rss:
            walls = H.window(
                run.seconds,
                lambda i: extract_run(spark, turns_dir, run.path(f"out{i}")),
                EXTRACT_MIN_RUNS,
            )
        ref = triple_digest(run.path("out0"))
        for i in range(1, len(walls)):
            run.check(_extract_ok(triple_digest(run.path(f"out{i}")), ref), f"extract run {i}")
        pin = load_pins().get("extract_transformer", {}).get(str(run.seed))
        if pin is None:
            _extract_reference(spark, turns_dir, run.path("ref"))
            pin = triple_digest(run.path("ref"))
        run.check(_extract_ok(ref, pin), f"extract triples {ref} != pinned {pin}")
        layer = _extract_traced(run, spark, turns_dir, n_turns, walls, ref) if run.trace else {}
    finally:
        H.stop_spark(spark)
    if run.trace:
        g = T.parse_event_log(run.event_log)
        ex, kt = g.get("extract", T.GroupStats()), g.get("kernel_triples", T.GroupStats())
        layer.update(
            {
                "extract.py_sent_mb": (ex.py_sent / 2**20, "MB"),
                "extract.py_returned_mb": (ex.py_returned / 2**20, "MB"),
                "extract.task_skew": (ex.task_skew, "ratio"),
                "kernel_triples.shuffle_write_mb": (kt.shuffle_write / 2**20, "MB"),
            }
        )
        return layer, len(walls) + 1, run.failed
    m = _end_to_end(setup_s, walls, n_turns / H.median(walls), walls, rss.peak_mb)
    return m, len(walls), run.failed


def _extract_traced(run: Run, spark, turns_dir, n_turns, walls, ref) -> dict:
    """extract and kernel_triples materialized separately, each under its
    own job group."""
    from dygiepp_spark.kernels import extract as KX
    from dygiepp_spark.kernels.transformer import NumpyTransformerScorer

    sp, sc = run.spans, spark.sparkContext
    turns = spark.read.parquet(turns_dir)
    t0 = time.perf_counter()
    sc.setJobGroup("extract", "extract")
    cpu0 = H.tree_cpu_s()
    sp.timed("extract", lambda: KX.extract(turns, NumpyTransformerScorer()).write.parquet(run.path("ext")))
    cpu1 = H.tree_cpu_s()
    sc.setJobGroup("kernel_triples", "kernel_triples")
    sp.timed(
        "kernel_triples",
        lambda: KX.kernel_triples(spark.read.parquet(run.path("ext")), turns).write.parquet(
            run.path("out_t")
        ),
    )
    t1 = time.perf_counter()
    T.clear_job_group(spark)
    job = sp.add("job", t0, t1)
    for r in sp.rows[:-1]:
        r["parent"] = job
    run.check(_extract_ok(triple_digest(run.path("out_t")), ref), "extract traced run")
    ext_s = sp.rows[0]["t1"] - sp.rows[0]["t0"]
    return {
        "extract.wall_s": (ext_s, "s"),
        "extract.sentences_per_s": (n_turns / ext_s, "sentences/s"),
        "extract.cpu_s": (cpu1 - cpu0, "s"),
        "kernel_triples.wall_s": (sp.rows[1]["t1"] - sp.rows[1]["t0"], "s"),
        "trace.job_s": (t1 - t0, "s"),
        "trace.overhead_s": ((t1 - t0) - H.median(walls), "s"),
    }


# --------------------------------------------------------------------------
# stream_ingest
# --------------------------------------------------------------------------

def _source_log_files(ckpt: str) -> set[str]:
    """Basenames of every input file the stream's checkpointed source log
    has assigned to a micro-batch."""
    import json

    out = set()
    d = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    out.add(os.path.basename(json.loads(line)["path"]))
    return out


class DropGenerator(threading.Thread):
    """Open-loop load: writes file k at ``t0 + k / rate`` regardless of
    how the drains keep up; each file is written under a staging name and
    renamed into the drop directory, so a drain never sees half a file."""

    def __init__(self, files, drop: str, staging: str, rate: float):
        super().__init__(daemon=True)
        self.files, self.drop, self.staging, self.rate = files, drop, staging, rate
        self.due: dict[str, float] = {}
        self.lag: list[float] = []
        self.t0 = 0.0

    def run(self) -> None:
        self.t0 = time.perf_counter()
        for k, tbl in enumerate(self.files):
            due = self.t0 + k / self.rate
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            name = f"drop-{k:05d}.parquet"
            tmp = os.path.join(self.staging, name)
            pq.write_table(tbl, tmp)
            os.rename(tmp, os.path.join(self.drop, name))
            self.lag.append(time.perf_counter() - due)
            self.due[name] = due


def _stream_window(run: Run, spark, files, tag: str, listener=None) -> dict:
    """Drop ``files`` open-loop and drain with availableNow runs against one
    checkpoint until the generator has finished; then one catch-up drain.
    Returns drain walls, per-file latencies and backlog figures."""
    from dygiepp_spark import tables as TT
    from dygiepp_spark.streaming import stream as ST

    drop, staging = run.path(tag, "drop"), run.path(tag, "staging")
    sink, ckpt = run.path(tag, "sink"), run.path(tag, "ckpt")
    os.makedirs(drop)
    os.makedirs(staging)
    ed = TT.entity_dict(spark)
    g = DropGenerator(files, drop, staging, STREAM_RATE)
    committed: dict[str, float] = {}
    drains, idle = [], 0.0

    def drain() -> float:
        t0 = time.perf_counter()
        ST.run_kg_agg_stream(spark, drop, sink, ckpt, ed, STREAM_FILES_PER_TRIGGER)
        t1 = time.perf_counter()
        for name in _source_log_files(ckpt) - committed.keys():
            committed[name] = t1
        if listener is not None:
            run.spans.add("stream.drain", t0, t1)
        return t1 - t0

    g.start()
    t_start = time.perf_counter()
    while True:
        t_wait = time.perf_counter()
        while g.is_alive() and len(os.listdir(drop)) == len(committed):
            time.sleep(0.01)
        idle += time.perf_counter() - t_wait
        if not g.is_alive():
            break
        drains.append(drain())
    g.join()
    t_window = time.perf_counter() - t_start
    n_done = sum(files[int(n[5:10])].num_rows for n in committed)
    backlog = len(files) - len(committed)
    if backlog:
        drain()  # catch-up: the files' latencies still count
    return {
        "drains": drains, "lat": [committed[n] - due for n, due in g.due.items()],
        "idle": idle, "window": t_window, "backlog": backlog, "lag": max(g.lag),
        "turns": n_done, "sink": sink, "drop": drop, "committed": len(committed),
    }


def _stream_check(run: Run, spark, w: dict) -> None:
    """Folded partials == batch rollup over every dropped turn."""
    from dygiepp_spark import tables as TT
    from dygiepp_spark.operators import graph as GR
    from dygiepp_spark.streaming import stream as ST

    from scripts.parity import frame_key

    got = ST.merge_kg_partials(spark.read.parquet(w["sink"]))
    turns = spark.read.schema(ST.TURNS_STREAM_SCHEMA).parquet(w["drop"])
    want = GR.aggregate_edges(GR.build_edges(turns, TT.entity_dict(spark)))
    a = frame_key(got.columns, [tuple(r) for r in got.collect()])
    b = frame_key(want.columns, [tuple(r) for r in want.collect()])
    run.check(a == b, "stream merged partials != batch aggregate_edges")


def stream_ingest(run: Run):
    n = int(STREAM_RATE * run.seconds)
    p = dict(gen.STREAM, n_files=n)
    files = run.generate(lambda: gen.stream_files(run.seed, p), lambda f: None)
    warm = gen.stream_files(run.seed + 1_000_003, dict(gen.STREAM, n_files=16))
    spark = H.start_spark(run.work, run.event_log)
    try:
        _stream_window(run, spark, warm, "warm")
        setup_s = run.setup_s()
        with H.RssSampler() as rss:
            w = _stream_window(run, spark, files, "live")
        run.check(w["committed"] == n, f"stream committed {w['committed']} of {n} files")
        _stream_check(run, spark, w)
        layer = _stream_traced(run, spark, files, w) if run.trace else {}
    finally:
        H.stop_spark(spark)
    if run.trace:
        return layer, 2 * n, run.failed
    m = _end_to_end(setup_s, w["drains"], w["turns"] / sum(w["drains"]), w["lat"], rss.peak_mb)
    return m, n, run.failed


def _stream_traced(run: Run, spark, files, untraced: dict) -> dict:
    listener = T.BatchListener()
    spark.streams.addListener(listener)
    try:
        w = _stream_window(run, spark, files, "traced", listener)
        batches = listener.settle()
    finally:
        spark.streams.removeListener(listener)
    run.check(w["committed"] == len(files), "stream traced run committed every file")
    _stream_check(run, spark, w)

    def per_batch(key: str) -> float:
        vals = [b.get(key, 0) / 1e3 for b in batches if b.get("rows", 0) > 0]
        return H.median(vals) if vals else 0.0

    drain_s = H.median(w["drains"])
    return {
        "stream.drains": (len(w["drains"]), "count"),
        "stream.drain_s": (drain_s, "s"),
        "stream.add_batch_s": (per_batch("addBatch"), "s"),
        "stream.query_planning_s": (per_batch("queryPlanning"), "s"),
        "stream.wal_commit_s": (per_batch("walCommit"), "s"),
        "stream.idle_share": (w["idle"] / w["window"], "ratio"),
        "stream.backlog_files_end": (w["backlog"], "files"),
        "stream.generator_lag_s": (w["lag"], "s"),
        "trace.job_s": (drain_s, "s"),
        "trace.overhead_s": (drain_s - H.median(untraced["drains"]), "s"),
    }


WORKLOADS = {
    "kg_batch": kg_batch,
    "extract_transformer": extract_transformer,
    "stream_ingest": stream_ingest,
}
