"""spark-submit entrypoint + stage-store dispatch tests.

The real `spark-submit --master local[8] --py-files dygiepp_spark.zip`
launch (script copied OUTSIDE the checkout so imports must resolve from
the shipped zip) is exercised out-of-band and its fresh/resumed outputs
recorded in BENCH/PLANS.md — too slow for the unit gate. Here we run the
same CLI main() in-process and pin the store abstraction's contract.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import zipfile

import pytest

import pyspark.sql.functions as F

from dygiepp_spark.plans.store import IcebergStore, ParquetStore, make_store


def test_cli_runs_and_resumes(spark, sf_dir, tmp_path, capsys):
    import scripts.run_pipeline as rp

    wh = str(tmp_path / "wh")
    args = [
        "--sf-dir", sf_dir, "--warehouse", wh,
        "--master", "local[4]", "--no-coref", "--no-eval",
    ]
    assert rp.main(args) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [s["stage"] for s in first["pipeline"]] == [
        "turns", "mentions", "triples", "kg_edges", "kg_edges_agg"
    ]
    assert all(not s["resumed"] for s in first["pipeline"])
    assert all(s["rows"] > 0 for s in first["pipeline"])
    # metrics table: one row per written partition (the part-<pid>-...
    # files of the stage's data), summing to the manifest's row count
    for s in first["pipeline"]:
        stage = s["stage"]
        m = spark.read.parquet(os.path.join(wh, stage, "_metrics"))
        assert m.schema.simpleString() == (
            "struct<stage:string,partition_id:int,rows:bigint,"
            "stage_wall_sec:double,written_at:timestamp>"
        )
        written = {
            int(f.split("-")[1])
            for f in os.listdir(os.path.join(wh, stage, "data"))
            if f.startswith("part-")
        }
        pids = [r["partition_id"] for r in m.collect()]
        assert sorted(pids) == sorted(written)
        assert m.agg(F.sum("rows")).first()[0] == s["rows"]
        assert m.filter(F.col("stage") != stage).count() == 0
        with open(os.path.join(wh, stage, "manifest.json")) as f:
            assert json.load(f)["rows"] == s["rows"]

    assert rp.main(args) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert all(s["resumed"] for s in second["pipeline"])
    assert [s["rows"] for s in second["pipeline"]] == [
        s["rows"] for s in first["pipeline"]
    ]


def test_pack_pyfiles_ships_only_package_sources(tmp_path):
    import scripts.run_pipeline as rp

    z = rp.pack_pyfiles(str(tmp_path / "pkg.zip"))
    names = zipfile.ZipFile(z).namelist()
    assert "dygiepp_spark/__init__.py" in names
    assert "dygiepp_spark/plans/pipeline.py" in names
    assert all(n.startswith("dygiepp_spark/") and n.endswith(".py") for n in names)
    assert not any("__pycache__" in n for n in names)


def test_make_store_dispatch(spark, tmp_path):
    s = make_store(spark, str(tmp_path), table_format="parquet")
    assert isinstance(s, ParquetStore)
    with pytest.raises(ValueError):
        make_store(spark, str(tmp_path), table_format="delta")


def test_iceberg_store_requires_catalog(spark):
    # no iceberg runtime in the sandbox: the store must fail actionably,
    # not silently write parquet
    with pytest.raises(RuntimeError, match="spark.sql.catalog.kg"):
        IcebergStore(spark, "kg.pipeline")
    with pytest.raises(ValueError):
        IcebergStore(spark, "not_a_dotted_namespace")


def test_manifest_commits_after_data(spark, tmp_path):
    """Crash between data write and manifest commit must re-run the stage."""
    store = ParquetStore(spark, str(tmp_path))
    df = spark.range(5).toDF("id")
    store.write("s1", df)
    assert store.manifest("s1") is None  # data present, no manifest -> not done
    store.commit_manifest("s1", {"stage": "s1", "rows": 5})
    assert store.manifest("s1")["rows"] == 5
    assert store.read("s1").count() == 5


def test_truncated_manifest_reruns_stage(spark, tmp_path):
    """A manifest cut short by a crash reads as "not done", so the next
    run recomputes the stage instead of failing on the JSON."""
    from dygiepp_spark.plans.pipeline import Pipeline

    def build():
        p = Pipeline(spark, str(tmp_path))
        p.stage("s1")(lambda ctx: spark.range(5).toDF("id"))
        return p

    first = build()
    first.run()
    assert not first.results[0].resumed
    path = os.path.join(str(tmp_path), "s1", "manifest.json")
    with open(path) as f:
        body = f.read()
    with open(path, "w") as f:
        f.write(body[: len(body) // 2])

    second = build()
    second.run()
    assert not second.results[0].resumed
    assert second.results[0].rows == 5
    assert ParquetStore(spark, str(tmp_path)).manifest("s1")["rows"] == 5


def test_stage_opens_in_store_before_its_function_runs(spark, tmp_path):
    """Every stage that runs calls the store (its manifest probe) before
    its function builds anything, also when an earlier re-run cascades to
    it: a store that attributes work per stage (e.g. by Spark job group,
    opened on the stage's first call) then sees all of the stage's jobs."""
    from dygiepp_spark.plans.pipeline import Pipeline

    log: list[tuple[str, str]] = []

    class Recording:
        def __init__(self, inner):
            self.inner = inner

        def __getattr__(self, op):
            def call(name, *args):
                log.append((op, name))
                return getattr(self.inner, op)(name, *args)

            return call

    def run() -> list[bool]:
        log.clear()
        store = Recording(ParquetStore(spark, str(tmp_path)))
        p = Pipeline(spark, str(tmp_path), store=store)
        for name in ("s1", "s2", "s3"):
            p.stage(name)(
                lambda ctx, name=name: log.append(("fn", name))
                or spark.range(3).toDF("id")
            )
        p.run()
        return [r.resumed for r in p.results]

    def opened_before_fn(name: str) -> bool:
        ops = [op for op, n in log if n == name]
        return ops[0] != "fn"

    assert run() == [False, False, False]
    assert all(opened_before_fn(s) for s in ("s1", "s2", "s3"))
    os.remove(os.path.join(str(tmp_path), "s2", "manifest.json"))
    # s2 re-runs, and the cascade re-runs s3 over the new s2
    assert run() == [True, False, False]
    assert ("fn", "s1") not in log
    assert opened_before_fn("s2") and opened_before_fn("s3")


def test_stage_bookkeeping_starts_no_spark_job(spark, tmp_path):
    """The stage's write is its only Spark job: the metrics rows and the
    manifest's row count come from the written files' footers."""
    from dygiepp_spark.plans.pipeline import Pipeline

    sc = spark.sparkContext
    group = f"bookkeeping-{tmp_path.name}"

    class Grouped(ParquetStore):
        def _in_group(self, op, name, arg):
            sc.setJobGroup(group, group)
            try:
                return getattr(super(), op)(name, arg)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        def write_metrics(self, name, wall_sec):
            return self._in_group("write_metrics", name, wall_sec)

        def commit_manifest(self, name, payload):
            return self._in_group("commit_manifest", name, payload)

    p = Pipeline(spark, str(tmp_path), store=Grouped(spark, str(tmp_path)))
    p.stage("s1")(lambda ctx: spark.range(0, 20, 1, 3).toDF("id"))
    p.stage("s2")(lambda ctx: ctx["s1"].filter("id % 2 = 0").repartition(4))
    p.run()
    assert [(r.rows, r.resumed) for r in p.results] == [(20, False), (10, False)]
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_resume_never_serves_a_stage_built_from_an_older_upstream(spark, tmp_path):
    """s1 re-runs after its manifest is lost and s2 then crashes: the next
    run resumes the new s1 but must re-run s2, whose manifest still names
    the old s1 as its upstream."""
    from dygiepp_spark.plans.pipeline import Pipeline

    def run(n: int, s2=lambda ctx: ctx["s1"]):
        p = Pipeline(spark, str(tmp_path))
        p.stage("s1")(lambda ctx: spark.range(n).toDF("id"))
        p.stage("s2")(s2)
        p.run()
        return [(r.name, r.rows, r.resumed) for r in p.results]

    def crash(ctx):
        raise RuntimeError("s2 failed")

    assert run(5) == [("s1", 5, False), ("s2", 5, False)]
    os.remove(os.path.join(str(tmp_path), "s1", "manifest.json"))
    with pytest.raises(RuntimeError, match="s2 failed"):
        run(7, s2=crash)
    assert run(7) == [("s1", 7, True), ("s2", 7, False)]


def test_independent_stages_run_concurrently(spark, tmp_path):
    """Two stages that need nothing both wait on one barrier: the run
    completes only if they are in flight at the same time."""
    from dygiepp_spark.plans.pipeline import Pipeline

    barrier = threading.Barrier(2, timeout=60)

    def meet(ctx):
        barrier.wait()
        return spark.range(3).toDF("id")

    p = Pipeline(spark, str(tmp_path))
    p.stage("a", needs=())(meet)
    p.stage("b", needs=())(meet)
    p.stage("ab", needs=("a", "b"))(lambda ctx: ctx["a"].union(ctx["b"]))
    p.run()
    assert [(r.name, r.rows) for r in p.results] == [("a", 3), ("b", 3), ("ab", 6)]


def test_many_concurrent_stages_lose_no_result(spark, tmp_path):
    """More ready stages than cores, with a short thread switch interval:
    every stage commits once and the fan-in stage sees all of them."""
    from dygiepp_spark.plans.pipeline import Pipeline

    names = [f"s{i}" for i in range(12)]
    p = Pipeline(spark, str(tmp_path))
    for i, name in enumerate(names):
        p.stage(name, needs=())(lambda ctx, i=i: spark.range(i, i + 1).toDF("id"))

    def fan_in(ctx):
        out = ctx[names[0]]
        for name in names[1:]:
            out = out.union(ctx[name])
        return out

    p.stage("all", needs=tuple(names))(fan_in)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ctx = p.run()
    finally:
        sys.setswitchinterval(interval)
    assert [(r.name, r.rows) for r in p.results] == [(n, 1) for n in names] + [("all", 12)]
    assert sorted(r["id"] for r in ctx["all"].collect()) == list(range(12))


def test_rerun_reruns_only_the_stage_and_its_dependents(spark, tmp_path):
    """Lineage follows the declared inputs: after b's manifest is lost,
    b and the stage reading it re-run; its sibling c and the root resume.
    The manifest's upstream maps each need to the id it was built from."""
    from dygiepp_spark.plans.pipeline import Pipeline

    ran: list[str] = []

    def run():
        ran.clear()
        p = Pipeline(spark, str(tmp_path))

        def stage(name, needs):
            def fn(ctx):
                ran.append(name)
                return spark.range(2).toDF("id")

            p.stage(name, needs=needs)(fn)

        stage("root", ())
        stage("b", ("root",))
        stage("c", ("root",))
        stage("b2", ("b",))
        p.run()
        return {r.name: r.resumed for r in p.results}

    assert run() == {"root": False, "b": False, "c": False, "b2": False}
    store = ParquetStore(spark, str(tmp_path))
    assert store.manifest("root")["upstream"] == {}
    assert store.manifest("b2")["upstream"] == {"b": store.manifest("b")["id"]}
    os.remove(os.path.join(str(tmp_path), "b", "manifest.json"))
    assert run() == {"root": True, "b": False, "c": True, "b2": False}
    assert sorted(ran) == ["b", "b2"]
    assert store.manifest("b2")["upstream"] == {"b": store.manifest("b")["id"]}


def test_stage_reads_only_its_declared_inputs(spark, tmp_path):
    """A stage's ctx holds the run's inputs and its needs' outputs only,
    and a need must name an earlier enabled stage."""
    from dygiepp_spark.plans.pipeline import Pipeline

    p = Pipeline(spark, str(tmp_path))
    p.stage("a", needs=())(lambda ctx: spark.range(2).toDF("id"))
    p.stage("b", needs=())(lambda ctx: ctx["a"])
    with pytest.raises(KeyError, match="a"):
        p.run()

    p = Pipeline(spark, str(tmp_path / "inputs"))
    p.stage("a", needs=())(lambda ctx: ctx["seed"])
    p.run({"seed": spark.range(4).toDF("id")})
    assert p.results[0].rows == 4

    p = Pipeline(spark, str(tmp_path / "decl"))
    p.stage("a", needs=())(lambda ctx: ctx)
    p.stage("off", enabled=False)(lambda ctx: ctx)
    for needs in (("nope",), ("later",), ("off",)):
        with pytest.raises(ValueError, match="needs"):
            p.stage("x", needs=needs)(lambda ctx: ctx)
    p.stage("later", needs=("a",))(lambda ctx: ctx)


def test_failed_stage_lets_running_siblings_commit(spark, tmp_path):
    """One stage raises while its sibling runs: run() re-raises after the
    sibling commits, the failed stage commits no manifest, no stage
    starts after the failure, and the next run resumes the sibling."""
    from dygiepp_spark.plans.pipeline import Pipeline

    raised = threading.Event()

    def sibling(ctx):
        assert raised.wait(60)
        return spark.range(4).toDF("id")

    def boom(ctx):
        raised.set()
        raise RuntimeError("boom")

    def build(fail):
        p = Pipeline(spark, str(tmp_path))
        p.stage("sibling", needs=())(sibling)
        p.stage("flaky", needs=())(boom if fail else (lambda ctx: spark.range(1).toDF("id")))
        p.stage("after", needs=("sibling",))(lambda ctx: ctx["sibling"])
        return p

    def results(p):
        return [(r.name, r.rows, r.resumed) for r in p.results]

    p = build(fail=True)
    with pytest.raises(RuntimeError, match="boom"):
        p.run()
    assert results(p) == [("sibling", 4, False)]
    store = ParquetStore(spark, str(tmp_path))
    assert store.manifest("sibling")["rows"] == 4
    assert store.manifest("flaky") is None
    assert store.manifest("after") is None
    p = build(fail=False)
    p.run()
    assert results(p) == [("sibling", 4, True), ("flaky", 1, False), ("after", 4, False)]


def test_failed_manifest_commit_leaves_no_manifest(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path))
    store.write("s1", spark.range(5).toDF("id"))
    # json.dump writes "{"stage": "s1", " before it reaches the bad value
    with pytest.raises(TypeError):
        store.commit_manifest("s1", {"stage": "s1", "rows": object()})
    assert store.manifest("s1") is None
    assert os.listdir(os.path.join(str(tmp_path), "s1")) == ["data"]


def test_cli_curated_pipeline_filters_then_extracts(spark, sf_dir, tmp_path, capsys):
    """--with-curation prepends filter/dedup/scrub stages; extraction then
    consumes the curated doc set (fewer turns than the raw derivation),
    and the curated stages resume like every other stage."""
    import scripts.run_pipeline as rp

    wh = str(tmp_path / "whc")
    args = [
        "--sf-dir", sf_dir, "--warehouse", wh,
        "--master", "local[4]", "--no-coref", "--no-eval", "--with-curation",
    ]
    assert rp.main(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    stages = {s["stage"]: s for s in out["pipeline"]}
    assert list(stages) == [
        "doc_filter", "doc_dedup", "clean_docs",
        "turns", "mentions", "triples", "kg_edges", "kg_edges_agg",
    ]
    assert stages["clean_docs"]["rows"] < stages["doc_filter"]["rows"]
    assert stages["turns"]["rows"] > 0
    # PII masking is applied on the curated text before extraction
    clean = spark.read.parquet(os.path.join(wh, "clean_docs", "data"))
    assert clean.columns == ["doc_id", "text"]

    assert rp.main(args) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert all(s["resumed"] for s in second["pipeline"])


def test_rerun_stage_cascades_to_later_stages(spark, sf_dir, tmp_path, capsys):
    """Adding --with-curation to a finished run's warehouse computes the
    curation stages fresh; every stage after them must then re-run too,
    never resume on the uncurated run's outputs."""
    import scripts.run_pipeline as rp

    def run(wh, *extra):
        args = [
            "--sf-dir", sf_dir, "--warehouse", str(tmp_path / wh),
            "--master", "local[4]", "--no-coref", "--no-eval", *extra,
        ]
        assert rp.main(args) == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        return out["pipeline"]

    run("wh")
    curated = run("wh", "--with-curation")
    fresh = run("fresh", "--with-curation")
    assert not any(s["resumed"] for s in curated)
    assert [(s["stage"], s["rows"]) for s in curated] == [
        (s["stage"], s["rows"]) for s in fresh
    ]


def test_turns_from_docs_df_matches_parquet_derivation(spark, sf_dir):
    """The curated-DAG turn derivation over an in-flight docs frame must
    be row-identical to turns_from_documents over the same (full) set."""
    from dygiepp_spark import tables as TT

    a = TT.turns_from_documents(spark, sf_dir, with_ts=False)
    b = TT.turns_from_docs_df(
        TT.load_documents(spark, sf_dir).select("doc_id", "text"),
        with_ts=False,
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_cli_analytics_phase_appends_graph_tables(spark, sf_dir, tmp_path, capsys):
    """--with-analytics appends the PageRank / triangle / negative-sample
    tables over the materialized KG edges, each checkpointed + resumable
    like every other stage."""
    import scripts.run_pipeline as rp

    wh = str(tmp_path / "wha")
    args = [
        "--sf-dir", sf_dir, "--warehouse", wh,
        "--master", "local[4]", "--no-coref", "--no-eval", "--with-analytics",
    ]
    assert rp.main(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    stages = {s["stage"]: s for s in out["pipeline"]}
    assert list(stages) == [
        "turns", "mentions", "triples", "kg_edges", "kg_edges_agg",
        "kg_pagerank", "kg_triangles", "kg_negatives", "kg_kcore",
        "kg_communities", "kg_health",
    ]
    assert stages["kg_pagerank"]["rows"] > 0
    assert stages["kg_negatives"]["rows"] > 0
    pr = spark.read.parquet(os.path.join(wh, "kg_pagerank", "data"))
    assert set(pr.columns) == {"node_id", "rank"}
    # the production DAG runs the TRUE core (fixpoint), so every reported
    # degree is an in-core degree: >= k by definition
    kc = spark.read.parquet(os.path.join(wh, "kg_kcore", "data"))
    assert set(kc.columns) == {"node_id", "deg"}
    assert kc.filter(F.col("deg") < 2).count() == 0
    # fixpoint LPA: every node labeled, labels drawn from the node set
    lc = spark.read.parquet(os.path.join(wh, "kg_communities", "data"))
    assert set(lc.columns) == {"node_id", "label"}
    nodes = {r["node_id"] for r in lc.collect()}
    assert {r["label"] for r in lc.collect()} <= nodes
    # graph-health report: tall (metric, key, value), all three sections
    hl = spark.read.parquet(os.path.join(wh, "kg_health", "data"))
    assert set(hl.columns) == {"metric", "key", "value"}
    metrics = {r["metric"] for r in hl.collect()}
    assert metrics == {"degree_hist", "assortativity", "reciprocity"}

    assert rp.main(args) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert all(s["resumed"] for s in second["pipeline"])


def test_cli_curation_lm_bucket_gate(spark, sf_dir, tmp_path, capsys):
    """--curation-lm-buckets head,middle adds the doc_lm stage and drops
    the tail perplexity tertile from the curated doc set."""
    import scripts.run_pipeline as rp

    wh = str(tmp_path / "whl")
    base = [
        "--sf-dir", sf_dir, "--warehouse", wh,
        "--master", "local[4]", "--no-coref", "--no-eval", "--with-curation",
        "--curation-lm-buckets", "head,middle",
    ]
    assert rp.main(base) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    stages = {s["stage"]: s for s in out["pipeline"]}
    assert list(stages) == [
        "doc_filter", "doc_dedup", "doc_lm", "clean_docs",
        "turns", "mentions", "triples", "kg_edges", "kg_edges_agg",
    ]
    lm = spark.read.parquet(os.path.join(wh, "doc_lm", "data"))
    kept = spark.read.parquet(os.path.join(wh, "clean_docs", "data"))
    tail_ids = {r["doc_id"] for r in lm.filter(F.col("bucket") == "tail").collect()}
    assert tail_ids, "tertile split must produce a tail third"
    assert not tail_ids & {r["doc_id"] for r in kept.select("doc_id").collect()}
