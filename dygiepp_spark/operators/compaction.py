"""Corpus compaction: near-dup PAIRS -> duplicate GROUPS -> keeper rows.

Pair emission (dedup.py) is only half of a production
dedup pass: 100 TB pipelines must collapse the pair graph into duplicate
clusters and keep exactly one representative per cluster (the reference's
analogous move is coref canonicalization — clusters from pairwise links,
exemplar per cluster, dw-experiments/shared/coref_to_tsv.py:11-33; here
the "mention pairs" are near-duplicate document pairs).

``near_dup_groups`` is min-label-id connected components over an
UNDIRECTED pair list with ids of any one orderable type (bigint chunk ids
here, entity-id strings for ``graph.kg_components``) — the one generic
connected-components operator in the package (coref clusters need none:
their pointer chains are same-surface runs, found by one window). Each round does a neighbor-min hop plus a
pointer-doubling hop, so label distance covered doubles per round:
O(log D) rounds for diameter D. Duplicate clusters in real corpora are
shallow stars (one viral source, many copies), so this converges in 2-3
rounds; the loop exits on a fixpoint count and localCheckpoints each
round to truncate lineage (cluster deployment: DFS/Iceberg checkpoint).

Scale notes: every join is keyed on a single id with map-side
combinable min() aggregates; nothing is quadratic. A popular duplicate
(10^6-copy boilerplate page) is a high-degree STAR — the neighbor-min
aggregate over its edges is one hot groupBy key, which AQE skew-split
handles; the pointer-doubling hop is always 1:1.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def near_dup_groups(
    pairs: DataFrame, nodes: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Connected components over undirected near-dup pairs.

    ``pairs``: (id_a, id_b) with id_a < id_b, distinct;
    ``nodes``: (id,) — the full corpus, so singletons get their own group.
    Ids keep their type. Returns (id, group_id) where group_id = min
    reachable id.
    """
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)

    labels = nodes.select("id", F.col("id").alias("label"))
    for _ in range(max_iter):
        # neighbor-min hop: label(dst) <- min(label(dst), min label(src))
        nb = (
            sym.join(labels, sym["src"] == labels["id"])
            .groupBy("dst")
            .agg(F.min("label").alias("_nb"))
        )
        stepped = (
            labels.join(nb, labels["id"] == nb["dst"], "left")
            .select("id", F.least("label", F.coalesce("_nb", "label")).alias("label"))
        )
        # pointer-doubling hop: label(x) <- label(label(x))
        parent = stepped.select(
            F.col("id").alias("_pid"), F.col("label").alias("_plabel")
        )
        doubled = (
            stepped.join(parent, stepped["label"] == parent["_pid"], "left")
            .select(
                "id",
                F.least("label", F.coalesce("_plabel", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            doubled.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = doubled
        if changed == 0:
            break
    else:
        # max_iter exhausted without a fixpoint: labels may split one true
        # component into several groups. Practically unreachable (pointer
        # doubling covers diameter ~2^max_iter), but silent non-convergence
        # would corrupt a dedup pass undetected — fail loudly instead.
        raise RuntimeError(
            f"near_dup_groups: no fixpoint after max_iter={max_iter} rounds "
            f"({changed} labels still changing); raise max_iter"
        )
    return labels.select("id", F.col("label").alias("group_id"))


def compact_corpus(groups: DataFrame) -> DataFrame:
    """Keeper selection over (id, group_id): keep min id per group.

    Output (id, group_id, group_size, is_keeper) — the frame a dedup pass
    joins back against the corpus to drop duplicates. One map-side
    combinable aggregation (count per group, broadcast-size output per
    group is 1 row) + the 1:1 flag projection.
    """
    sizes = groups.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("int").alias("group_size")
    )
    return (
        groups.join(sizes, "group_id")
        .select(
            "id",
            "group_id",
            "group_size",
            (F.col("id") == F.col("group_id")).alias("is_keeper"),
        )
    )


def dedup_rate_by_source(docs: DataFrame) -> DataFrame:
    """Per-source curation yield of a full near-dup pass: run the
    chunk -> MinHash-LSH pairs -> connected components -> keeper
    pipeline and roll the drops up by corpus source —
    ``(source, n_chunks, n_dropped, drop_rate)``, the number that tells
    an acquisition team which feed is mostly mirrors BEFORE anyone
    mixes it into a training run.

    Every source gets a row: feeds whose documents are too short to
    chunk (< 3 tokens — doc_chunks' floor) report 0 chunks / 0 drops
    rather than silently vanishing, so absence can never be read as
    clean. Scale: everything upstream is the existing bucketed dedup
    chain (no new shuffle shapes); the rollup adds one doc-keyed join
    to the narrow (doc_id, source) projection (corpus-width, so a
    shuffle join — NOT a broadcast dim) and one map-side-combinable
    agg; the rate is a single exact-integer division.
    """
    from dygiepp_spark.operators.dedup import doc_chunks, near_dups_minhash

    chunks = doc_chunks(docs)
    pairs = near_dups_minhash(chunks).select("id_a", "id_b")
    nodes = chunks.select(F.col("chunk_id").alias("id"))
    comp = compact_corpus(near_dup_groups(pairs, nodes))
    j = comp.select(
        F.expr("id div 2").alias("doc_id"),
        F.col("is_keeper"),
    ).join(docs.select("doc_id", "source"), "doc_id")
    per = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(~F.col("is_keeper"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
    )
    all_sources = docs.select("source").distinct()
    return (
        all_sources.join(per, "source", "left")
        .select(
            "source",
            F.coalesce(F.col("n_chunks"), F.lit(0).cast("bigint")).alias(
                "n_chunks"
            ),
            F.coalesce(F.col("n_dropped"), F.lit(0).cast("bigint")).alias(
                "n_dropped"
            ),
        )
        .select(
            "source", "n_chunks", "n_dropped",
            (
                F.col("n_dropped").cast("double")
                / F.greatest(F.col("n_chunks"), F.lit(1)).cast("double")
            ).alias("drop_rate"),
        )
    )
