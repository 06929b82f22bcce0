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
    # metrics table: one row per output partition, written per stage
    m = spark.read.parquet(os.path.join(wh, "turns", "_metrics"))
    assert m.columns == ["stage", "partition_id", "rows", "stage_wall_sec", "written_at"]
    assert m.count() >= 1

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
