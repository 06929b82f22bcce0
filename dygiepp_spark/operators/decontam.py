"""Benchmark decontamination: exact token-n-gram overlap between a
training corpus and an evaluation/benchmark set.

The standard pre-training hygiene pass (GPT-3 appendix C, Llama/Gopher
reports use 8-13-gram exact collision): a corpus document is contaminated
if it shares at least one length-``n`` token n-gram with any benchmark
document. This is deliberately a DIFFERENT shape from near-dup detection
(dedup.py): the benchmark side is tiny (thousands of eval documents vs
billions of corpus documents), so the scale plan is a **broadcast
semi-join on the gram**, not banded LSH —

* corpus side: one pass, explode per-document DISTINCT n-grams
  (``array_distinct`` before the explode keeps within-doc duplicates off
  the wire), never materializing a per-doc gram set in an aggregation;
* benchmark side: distinct grams collected into a broadcast hash relation
  (an eval suite is MBs of grams — it fits every executor);
* the join is gram-equality against the broadcast, followed by ONE
  map-side-combinable per-doc count. No shuffle touches the corpus-sized
  frame beyond the final doc-keyed agg of hit rows (hits are rare by
  construction, so that agg is tiny).

``n`` defaults to 3 here because the synthetic docs are ~40 tokens drawn
from a small vocabulary; production uses 8-13 with the same plan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import broadcast

from dygiepp_spark.functions.text import token_ngrams, tokens_col

NGRAM_N = 3


def doc_ngrams(df: DataFrame, n: int = NGRAM_N, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(id, gram) with per-document distinct length-n token n-grams."""
    tokenized = df.select(F.col(id_col), tokens_col(F.col(text_col)).alias("_toks"))
    return tokenized.select(
        F.col(id_col),
        F.explode(F.array_distinct(token_ngrams(F.col("_toks"), n))).alias("gram"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = NGRAM_N,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per corpus-document contamination report:
    (doc_id, n_grams, n_hit_grams, contam_frac, contaminated).

    ``n_grams`` counts the document's distinct n-grams; ``n_hit_grams``
    how many of them occur anywhere in the benchmark;
    ``contaminated`` = n_hit_grams > 0 (the filter a pipeline applies).
    Documents shorter than ``n`` tokens have 0 grams and are clean.
    """
    cg = doc_ngrams(corpus, n, id_col, text_col)
    bg = (
        doc_ngrams(benchmark, n, id_col, text_col)
        .select("gram")
        .distinct()
    )
    per_doc = cg.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        cg.join(broadcast(bg), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )
    out = per_doc.join(hits, id_col, "left")
    n_hit = F.coalesce(F.col("n_hit_grams"), F.lit(0)).cast("bigint")
    base = corpus.select(F.col(id_col)).join(out, id_col, "left")
    n_grams = F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint")
    return base.select(
        id_col,
        n_grams.alias("n_grams"),
        n_hit.alias("n_hit_grams"),
        F.when(
            n_grams > 0, n_hit.cast("double") / n_grams.cast("double")
        ).otherwise(F.lit(0.0)).alias("contam_frac"),
        (n_hit > 0).alias("contaminated"),
    )


def bloom_decontam(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = NGRAM_N,
    m: int = 4096,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bloom-filter decontamination — the bits-not-strings scale path:
    the benchmark's distinct n-grams are folded into <= ``m`` set bit
    positions (``k`` 2-universal hashes each), and a corpus gram is a
    MAYBE-hit iff all ``k`` of its positions are set. Same report shape
    as :func:`decontaminate` with ``n_maybe_grams`` in place of exact
    hits: every true hit is flagged (no false negatives) plus a
    deterministic, engine-identical false-positive set whose expected
    rate is (1 - e^{-kG/m})^k for G benchmark grams.

    Why it matters at 100 TB: exact decontamination broadcasts the gram
    STRINGS (gigabytes for a large benchmark suite); the bloom side is
    <= m integers regardless of benchmark size — the filter a first
    pass applies before the exact join confirms survivors.

    Scale: the bit table is one bounded agg (<= m rows, broadcast);
    probing is a corpus-gram explode joined to it with a per-(doc,
    gram) count — map-side combinable, no corpus shuffle beyond the
    hit rollup.
    """
    from dygiepp_spark.functions.hashing import hash60, hash_family_from

    if m < 2 or k < 1:
        raise ValueError("m >= 2 and k >= 1 required")
    bg = doc_ngrams(benchmark, n, id_col, text_col).select("gram").distinct()
    bh = bg.select(hash60(F.col("gram")).alias("_h"))
    bits = (
        bh.select(
            F.explode(
                F.array(
                    *[(hash_family_from(F.col("_h"), i) % m).alias(f"p{i}")
                      for i in range(k)]
                )
            ).alias("pos")
        )
        .distinct()
    )
    # cg feeds probe + per_doc, probe feeds hit_pos + n_pos — pin both
    # so the corpus gram explode and its md5s run once (under AQE the
    # pin runs its upstream shuffle stages when it is called)
    cg = doc_ngrams(corpus, n, id_col, text_col).withColumn(
        "_h", hash60(F.col("gram"))
    ).localCheckpoint(eager=False)
    probe = cg.select(
        id_col, "gram",
        F.explode(
            F.array(*[(hash_family_from(F.col("_h"), i) % m) for i in range(k)])
        ).alias("pos"),
    ).distinct().localCheckpoint(  # a gram may map 2 hashes to one
        eager=False                # position — count set POSITIONS
    )
    hit_pos = probe.join(broadcast(bits), "pos")
    n_pos = probe.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("_need")
    )
    n_set = hit_pos.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("_have")
    )
    maybe = (
        n_pos.join(n_set, [id_col, "gram"])
        .filter(F.col("_have") == F.col("_need"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_maybe_grams"))
    )
    # doc_ngrams already emits per-doc DISTINCT grams — plain count,
    # same as the exact path
    per_doc = cg.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    base = corpus.select(F.col(id_col)).join(per_doc, id_col, "left").join(
        maybe, id_col, "left"
    )
    n_g = F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint")
    n_mb = F.coalesce(F.col("n_maybe_grams"), F.lit(0)).cast("bigint")
    return base.select(
        id_col,
        n_g.alias("n_grams"),
        n_mb.alias("n_maybe_grams"),
        (n_mb > 0).alias("flagged"),
    )


def decontam_rate_by_source(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = NGRAM_N,
) -> DataFrame:
    """Per-source contamination report: roll the exact benchmark-overlap
    verdicts up by corpus source — ``(source, n_docs, n_contaminated,
    contam_rate)``, the feed-level view procurement needs (one feed
    scraping benchmark sites poisons a mixture; this finds it before
    the mix).

    Requires a ``source`` column on the corpus frame. Scale: the
    overlap chain is the existing broadcast-gram join; the rollup adds
    one doc-keyed join to the source dim and one map-side-combinable
    agg; the rate is one exact-integer division.
    """
    rep = decontaminate(
        corpus.select("doc_id", "text"), benchmark, n=n
    ).select("doc_id", "contaminated")
    j = rep.join(corpus.select("doc_id", "source"), "doc_id")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_contaminated"),
        )
        .select(
            "source", "n_docs", "n_contaminated",
            (
                F.col("n_contaminated").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("contam_rate"),
        )
    )
