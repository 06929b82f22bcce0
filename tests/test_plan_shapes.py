"""Physical-plan shape assertions: the scale story, machine-checked.

These tests pin the plan properties the 100 TB design depends on — if a
refactor silently adds a shuffle to the flagship path, demotes a broadcast
join to sort-merge, or stops filter pushdown reaching the parquet scan,
they fail. `.explain("formatted")` output is matched on operator names,
not exact trees, so Spark-version cosmetic drift doesn't break them.
"""

from __future__ import annotations

import re

import pytest
import pyspark.sql.functions as F

from dygiepp_spark import tables as TT
from dygiepp_spark.operators import extraction as EX
from dygiepp_spark.operators import linking as LK
from dygiepp_spark.operators import similarity as SIM


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def count_shuffles(plan: str) -> int:
    # count shuffle Exchange nodes in the formatted detail section;
    # BroadcastExchange is free of the all-to-all cost this counts
    return len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.M))


@pytest.fixture(scope="module")
def stored_turns(spark, sf_dir, tmp_path_factory):
    """Turns materialized to parquet — the production shape (turns come
    off an Iceberg/parquet table, not a derivation subtree)."""
    p = str(tmp_path_factory.mktemp("plans") / "turns")
    TT.turns_from_documents(spark, sf_dir, with_ts=False).write.mode(
        "overwrite"
    ).parquet(p)
    return spark.read.parquet(p)


def test_emit_triples_single_shuffle(spark, stored_turns):
    """The flagship path's load-bearing property: tokenize, mention
    detect, beam, and pair generation are ROW-LOCAL array expressions —
    the ONLY shuffle is the final triple-dedup aggregation."""
    plan = plan_of(EX.emit_triples(stored_turns))
    assert count_shuffles(plan) == 1, plan


def test_emit_triples_column_pruning(spark, stored_turns):
    """The scan must read only the columns the query touches (conv_id,
    text) — a scan fetching role/tool/ts for a triple query is wrong."""
    plan = plan_of(EX.emit_triples(stored_turns))
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m, plan
    schema = m.group(1)
    assert "conv_id" in schema and "text" in schema
    assert "role" not in schema and "tool" not in schema


def test_parquet_filter_pushdown(spark, sf_dir):
    docs = TT.load_documents(spark, sf_dir).filter(
        F.col("doc_id") > 100
    ).select("doc_id")
    plan = plan_of(docs)
    assert re.search(r"PushedFilters: \[.*GreaterThan\(doc_id,100\)", plan), plan


def test_entity_linking_broadcasts_the_dictionary(spark, stored_turns):
    """The entity dictionary is a small dim — the link join must be a
    broadcast hash join, never a sort-merge shuffle of the mention side."""
    linked = LK.link_mentions(
        EX.detect_mentions(stored_turns), TT.entity_dict(spark)
    )
    plan = plan_of(linked)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ann_brute_force_broadcasts_queries(spark, sf_dir):
    """Exact ANN = broadcast the query set over ONE corpus scan; the only
    shuffle ranks per-query candidates (tiny key space)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = plan_of(SIM.brute_force_topk(emb))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_relation_pairs_conv_local_join(spark, stored_turns):
    """The pair self-join's equi-keys must include the conv/turn grouping
    (band predicate evaluated at the probe) — a cartesian or
    broadcast-nested-loop here would be quadratic in the corpus."""
    pairs = EX.relation_pairs(EX.detect_mentions(stored_turns))
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


# ---------------------------------------------------------------------------
# round-3 additions: PII scrub, sampling, repetition, decontam, sessionize
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def stored_docs(spark, sf_dir, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "docs")
    spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text", "lang"
    ).write.mode("overwrite").parquet(p)
    return spark.read.parquet(p)


def test_pii_scrub_zero_shuffle(spark, stored_docs):
    from dygiepp_spark.functions.privacy import scrub_pii

    plan = plan_of(scrub_pii(stored_docs.select("doc_id", "text")))
    assert count_shuffles(plan) == 0, plan
    assert "Python" not in plan  # regex stays JVM-side


def test_stratified_sample_is_pushed_filter(spark, stored_docs):
    """The sampler must stay a scan-stage filter — no shuffle, no
    project-then-filter barrier that would re-read the corpus."""
    from dygiepp_spark.functions.text import stratified_sample

    plan = plan_of(
        stratified_sample(stored_docs, rates={"en": 0.5}, default_rate=0.1)
    )
    assert count_shuffles(plan) == 0, plan


def test_repetition_two_keyed_aggs(spark, stored_docs):
    """(doc, gram) partial-agg + (doc) rollup + the base/top join: three
    exchanges max — and the 2-gram mode must NOT be computed with
    row-local O(n^2) lambdas (no CollectList of grams per doc)."""
    from dygiepp_spark.functions.text import repetition_features

    plan = plan_of(repetition_features(stored_docs.select("doc_id", "text")))
    assert count_shuffles(plan) <= 3, plan
    assert "collect_list" not in plan.lower(), plan


def test_decontam_benchmark_broadcast(spark, stored_docs):
    from dygiepp_spark.operators.decontam import decontaminate

    corpus = stored_docs.filter(F.col("doc_id") % 97 != 0)
    bench = stored_docs.filter(F.col("doc_id") % 97 == 0)
    plan = plan_of(decontaminate(corpus, bench, n=3))
    assert "BroadcastHashJoin" in plan, plan


def test_sessionize_single_shuffle(spark, stored_turns):
    """lag + running sum share the conv_id window partitioning: ONE
    exchange, not two."""
    from dygiepp_spark.operators.transcript import sessionize

    with_ts = stored_turns.withColumn(
        "ts_sec", F.expr("turn_idx * 2 + (turn_idx div 4) * 60")
    )
    plan = plan_of(sessionize(with_ts, gap_sec=30))
    assert count_shuffles(plan) == 1, plan


# --------------------------------------------------------------------------
# round-3 part-2 curation layer
# --------------------------------------------------------------------------

def test_url_stats_blocklist_is_broadcast(spark, sf_dir):
    """The blocklist dim must ride a BroadcastHashJoin — shuffling the
    exploded per-URL corpus side against a tiny blocklist is wrong at any
    scale."""
    from dygiepp_spark.functions import web as WB

    docs = WB.with_synthetic_urls(
        TT.load_documents(spark, sf_dir).select(
            F.col("doc_id").cast("bigint").alias("doc_id"), "text"
        )
    )
    plan = plan_of(WB.url_stats(docs, WB.default_blocklist(spark)))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_composite_filter_single_shuffle_pair(spark, sf_dir):
    """quality features are a narrow projection; the only exchanges are
    the 2-gram partial agg + the id join back (2-3 exchanges total, never
    a cartesian or a global window)."""
    from dygiepp_spark.functions import text as TX

    docs = TT.load_documents(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    plan = plan_of(TX.composite_filter(docs))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert count_shuffles(plan) <= 4, plan


def test_vocab_topk_no_unpartitioned_window(spark, sf_dir):
    """The global top-k cut must come from the distributed k-th-score
    threshold, not a Window.orderBy over the whole vocabulary."""
    from dygiepp_spark.functions import text as TX
    from dygiepp_spark.operators import pruning as PR

    docs = TT.load_documents(spark, sf_dir).select("text")
    counts = (
        docs.select(F.explode(TX.tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = plan_of(PR.global_topk_with_ties(counts, "n", 100))
    assert not re.search(r"Window.*\[n\b[^\]]*\bDESC", plan), plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_asof_join_single_shuffle(spark, stored_turns):
    """The as-of join's load-bearing property: it is the MERGE
    formulation — union both sides, ONE exchange keyed on the join key
    for the window sort — never a range join (no CartesianProduct /
    BroadcastNestedLoopJoin anywhere in the plan)."""
    from dygiepp_spark.operators.temporal import asof_join

    left = stored_turns.select(
        "conv_id", "turn_idx",
        (F.col("conv_id").cast("bigint") % 15).alias("ukey"),
        (F.col("turn_idx").cast("bigint") * 30).alias("ts_sec"),
    )
    right = stored_turns.select(
        (F.col("conv_id").cast("bigint") % 15).alias("ukey"),
        (F.col("turn_idx").cast("bigint") * 7).alias("ets"),
        F.col("turn_idx").alias("eid"),
    )
    plan = plan_of(asof_join(left, right, ["ukey"], "ts_sec", "ets", ["eid"]))
    assert count_shuffles(plan) == 1, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_pagerank_iteration_shuffle_budget(spark, stored_turns):
    """One PR iteration costs a bounded number of exchanges (edge dedup,
    degree agg, rank join, dst sum, node reinject) — and crucially no
    per-row Python stage and no nested-loop join."""
    from dygiepp_spark.operators.graph import pagerank

    edges = stored_turns.select(
        F.col("conv_id").alias("subj_id"),
        F.lit("p").alias("pred"),
        F.concat(F.lit("n"), F.col("turn_idx")).alias("obj_id"),
    )
    plan = plan_of(pagerank(edges, iterations=1))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_substring_dedup_single_agg_shuffle(spark, stored_docs):
    """Window hashing is row-local (transform + explode) — the only
    exchange is the hash-keyed aggregation (its two-phase distinct-count
    split still keys on win_hash)."""
    from dygiepp_spark.operators.dedup import substring_dup_spans

    plan = plan_of(substring_dup_spans(stored_docs))
    # count_distinct(doc_id) expands to a two-level agg; both levels key
    # on win_hash so at most 2 exchanges may appear, never a join
    assert count_shuffles(plan) <= 2, plan
    assert "Join" not in plan, plan


def test_triangle_counts_no_nested_loop(spark, stored_turns):
    """Triangle counting must stay hash-join shaped: the wedge self-join
    and the closing join are equi-joins (the inequality is a post-join
    filter), never a nested-loop/cartesian expansion."""
    from dygiepp_spark.operators.graph import triangle_counts

    edges = stored_turns.select(
        F.col("conv_id").alias("subj_id"),
        F.lit("p").alias("pred"),
        F.concat(F.lit("n"), (F.col("turn_idx") % 7)).alias("obj_id"),
    )
    plan = plan_of(triangle_counts(edges))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_partitioned_sink_prunes(spark, stored_turns, tmp_path):
    """A pred-partitioned layout must turn a pred filter into PARTITION
    pruning: the plan carries it in PartitionFilters and the scan reads
    only that directory (at 100 TB: one predicate's slice, not the whole
    edge list)."""
    from dygiepp_spark import tables as TT
    from dygiepp_spark.operators import graph as GR

    p = str(tmp_path / "edges_by_pred")
    GR.build_edges(stored_turns, TT.entity_dict(spark)).write.mode(
        "overwrite"
    ).partitionBy("pred").parquet(p)
    df = spark.read.parquet(p).filter(F.col("pred") == "USED-FOR")
    plan = plan_of(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "USED-FOR" in m.group(1), plan
    # the pred predicate must NOT degrade to a post-scan data filter
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed is None or "pred" not in pushed.group(1), plan


def test_bucketed_join_needs_no_exchange(spark, stored_turns):
    """Co-located bucketed tables join WITHOUT a shuffle: both sides
    bucketed on conv_id hash into the same bucket count, so the
    sort-merge join reads buckets pairwise — zero Exchange in the plan.
    This is the layout the production pipeline writes for turn-grain
    tables (plans/store.py); at 100 TB it removes the dominant shuffle
    from every conv-keyed join."""
    spark.sql("DROP TABLE IF EXISTS t_left")
    spark.sql("DROP TABLE IF EXISTS t_right")
    stored_turns.select("conv_id", "turn_idx", "text").write.bucketBy(
        8, "conv_id"
    ).sortBy("conv_id").mode("overwrite").saveAsTable("t_left")
    stored_turns.groupBy("conv_id").count().write.bucketBy(
        8, "conv_id"
    ).sortBy("conv_id").mode("overwrite").saveAsTable("t_right")
    joined = spark.table("t_left").join(spark.table("t_right"), "conv_id")
    plan = plan_of(joined)
    assert count_shuffles(plan) == 0, plan
    spark.sql("DROP TABLE IF EXISTS t_left")
    spark.sql("DROP TABLE IF EXISTS t_right")


def test_conv_funnel_is_lazy(spark, stored_turns):
    """Building the funnel report starts no Spark job: its four
    distinct-conv counts are aggregates inside the returned plan, not
    driver-side actions — so it composes into a caller's plan."""
    from dygiepp_spark.operators import transcript as TR

    sc = spark.sparkContext
    group = "conv_funnel_lazy"
    sc.setJobGroup(group, group)
    try:
        funnel = TR.conv_funnel(TR.with_synthetic_tools(stored_turns))
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert funnel.columns == [
        "n_convs", "n_tooled", "n_mentioned", "n_tripled",
        "mention_yield", "triple_yield",
    ]
    assert funnel.count() == 1
