"""Document deduplication: exact dedup (the DAG's ``doc_dedup`` stage and
the streaming dedup sink), repeated token windows across documents, and
repeated blocks inside one document.

Exact dedup is a hash-groupBy on normalized text (whitespace runs
collapsed, trimmed, lower-cased): one map-side-combinable aggregation
whose shuffle carries one md5 and two counters per distinct text. All
three are JVM-side with built-in functions only, so each has a
bit-identical DuckDB twin in ``oracles_data``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from dygiepp_spark.functions.text import tokens_col


def _norm_text(col: Column) -> Column:
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def _tokens(col: Column) -> Column:
    return F.filter(F.split(col, " "), lambda t: t != "")


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group by md5(normalized text); canonical = min id.

    Output (text_hash, canonical_id, n_dups). ONE hash aggregation with
    map-side partial agg — the cheapest possible dedup at any scale.
    """
    h = F.md5(_norm_text(F.col(text_col)))
    return (
        df.select(F.col(id_col).cast("bigint").alias("id"), h.alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# --------------------------------------------------------------------------
# substring-level dedup (repeated token windows across documents)
# --------------------------------------------------------------------------

def substring_dup_spans(
    docs: DataFrame,
    window: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Repeated fixed-length token windows across the corpus — the
    Spark-shaped stand-in for suffix-array substring dedup ("Deduplicating
    Training Data Makes Language Models Better": remove any 50-token span
    that appears verbatim elsewhere). Exact suffix arrays don't
    distribute; rolling fixed-width window hashes do, and a W-token window
    catches every duplicated span of length >= W.

    Every doc emits one md5 per W-token window (stride 1); one groupBy on
    the window hash keeps hashes seen more than once. Output
    (win_hash, n_docs, n_occurrences, first_doc, first_pos) where
    first_pos is the 1-based token position of the window in first_doc's
    lexically-first occurrence (min (doc,pos) pair).

    Scale: the explode makes ~n_tokens rows per doc (rows, not cells — no
    giant arrays), and the single agg is map-side combinable. Boilerplate
    (a viral footer) concentrates on one hash key, but the aggregate state
    is four numbers however many occurrences collapse into it.
    """
    toks = _tokens(_norm_text(F.col(text_col)))
    wins = F.transform(
        F.sequence(F.lit(1), F.size(toks) - window + 1),
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(F.array_join(F.slice(toks, i, window), " ")).alias("h"),
        ),
    )
    exploded = (
        docs.filter(F.size(toks) >= window)
        .select(
            F.col(id_col).cast("bigint").alias("id"),
            F.explode(wins).alias("w"),
        )
        .select("id", F.col("w.pos").alias("pos"), F.col("w.h").alias("win_hash"))
    )
    return (
        exploded.groupBy("win_hash")
        .agg(
            F.count_distinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.struct("id", "pos")).alias("_first"),
        )
        .filter(F.col("n_occurrences") > 1)
        .select(
            "win_hash",
            "n_docs",
            "n_occurrences",
            F.col("_first.id").alias("first_doc"),
            F.col("_first.pos").alias("first_pos"),
        )
    )


def intra_doc_dedup(df: DataFrame, block: int = 8,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Intra-document dedup (the RefinedWeb/Gopher line-dedup rule,
    adapted to delimiter-less text): split each document into consecutive
    ``block``-token blocks, KEEP the first occurrence of every distinct
    block, drop repeats, and re-emit the cleaned text plus the kept/total
    ratio inputs. Output (doc_id, n_blocks, n_kept, text_dedup).

    Cross-doc repeats are :func:`substring_dup_spans`' job; this is the
    REWRITING intra-doc pass that strips boilerplate a document repeats internally
    (nav bars, quoted loops in agent transcripts) before token budgeting.

    Plan at scale: block explosion is corpus-linear; the keep-first cut
    is a window PARTITIONED by (doc_id, block) — never unpartitioned —
    and the reassembly is one doc-keyed agg whose collect_list holds one
    document's blocks (bounded by doc length, the same per-doc state
    every assembly op carries). Empty docs are dropped (no blocks).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        tokens_col(F.col(text_col)).alias("arr"),
    ).filter(F.size("arr") >= 1)
    blocks = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(arr) / {block}.0) AS INT)"
                f" - 1), i -> concat_ws(' ', slice(arr, i * {block} + 1,"
                f" {block})))"
            )
        ).alias("pos", "blk"),
    )
    w = Window.partitionBy("doc_id", "blk").orderBy("pos")
    marked = blocks.withColumn("_rn", F.row_number().over(w))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_rn") == 1, F.struct("pos", "blk")
                    )
                )
            ).alias("_ks"),
        )
        .select(
            "doc_id",
            "n_blocks",
            "n_kept",
            F.concat_ws(
                " ", F.expr("transform(_ks, x -> x.blk)")
            ).alias("text_dedup"),
        )
    )
