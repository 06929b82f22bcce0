"""Coreference: antecedent candidate generation, cluster formation
(one gaps-and-islands window), and canonicalization (M13-M16, K11).

Reference semantics:

* Antecedent candidates for span i = the previous ``max_antecedents=100``
  kept spans in document order (lower-triangular index matrix,
  /root/reference/dygie/models/coref.py:451-506;
  template.libsonnet:94). In Spark: a *band self-join* —
  ``a.mention_ix < b.mention_ix AND b.mention_ix - a.mention_ix <= 100``
  within a conversation.
* Antecedent decode -> clusters: greedy pointer-following
  (coref.py:367-439). Under the same-surface rule each mention points at
  the nearest earlier mention of its surface within the window, so the
  clusters are the maximal same-surface runs whose gaps fit the window —
  found by one window pass per (conv_id, surface) block, no iteration.
* K11 canonicalization (dw-experiments/shared/coref_to_tsv.py:11-33):
  cluster exemplar = the LONGEST member span (argmax span length,
  deterministic tiebreak = first occurrence).

Scale notes: the band join's equi-key is conv_id; per-conversation mention
counts are bounded by the upstream beam (0.3 spans/word) and chunking, so
the join fans out at most 100x per row. Cluster formation shuffles once on
conv_id for the mention order and once on (conv_id, surface) for the
segment window.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from dygiepp_spark.operators.kg_eval import prf_columns

MAX_ANTECEDENTS = 100


def mention_order(mentions: DataFrame) -> DataFrame:
    """Assign doc-level mention index (textual order) per conversation.

    One window on conv_id — mirrors coref's doc-flattening (M13,
    coref.py:651-669) where per-sentence span lists are concatenated in
    sentence order with sentence_start offsets.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "start", "end")
    return mentions.withColumn("mention_ix", F.row_number().over(w) - 1)


def antecedent_candidates(
    mentions: DataFrame, max_antecedents: int = MAX_ANTECEDENTS
) -> DataFrame:
    """M14: band self-join — candidate (anaphor, antecedent) pairs."""
    m = mention_order(mentions)
    a = m.alias("ana")
    b = m.alias("ant")
    return a.join(
        b,
        on=[
            F.col("ana.conv_id") == F.col("ant.conv_id"),
            F.col("ant.mention_ix") < F.col("ana.mention_ix"),
            F.col("ana.mention_ix") - F.col("ant.mention_ix") <= max_antecedents,
        ],
    ).select(
        F.col("ana.conv_id").alias("conv_id"),
        F.col("ana.mention_ix").alias("anaphor_ix"),
        F.col("ant.mention_ix").alias("antecedent_ix"),
        F.col("ana.surface").alias("anaphor_surface"),
        F.col("ant.surface").alias("antecedent_surface"),
    )


def coref_clusters(mentions: DataFrame, max_antecedents: int = MAX_ANTECEDENTS) -> DataFrame:
    """Full stub-coref pass: mentions + doc-level ``cluster_id``.

    Same-surface rule, greedy decode: each mention takes the nearest earlier
    mention of its surface within ``max_antecedents`` as its one antecedent
    (coref.py:312-322). Following those pointers, a cluster is a maximal
    run of one surface whose consecutive gaps are <= ``max_antecedents`` —
    a gaps-and-islands window over (conv_id, surface): a new segment starts
    where the gap to the previous same-surface mention exceeds the window,
    a running sum numbers the segments, and the cluster id is the segment's
    smallest mention_ix. Same shape as the DuckDB twin
    (oracles_kg._COREF_CTES).
    """
    ordered = mention_order(mentions)
    w = Window.partitionBy("conv_id", "surface").orderBy("mention_ix")
    gap = F.col("mention_ix") - F.lag("mention_ix").over(w)
    new_seg = F.when(gap.isNull() | (gap > max_antecedents), 1).otherwise(0)
    seg = ordered.withColumn("_seg", F.sum(new_seg).over(w))
    w_seg = Window.partitionBy("conv_id", "surface", "_seg")
    rest = [c for c in ordered.columns if c not in ("conv_id", "mention_ix")]
    return seg.select(
        "conv_id",
        "mention_ix",
        *rest,
        F.min("mention_ix").over(w_seg).alias("cluster_id"),
    )


def coref_clusters_global(mentions: DataFrame) -> DataFrame:
    """Distance-free same-surface clustering: cluster id = first mention_ix
    of the surface within the conversation (what the windowed rule would
    produce with an unbounded antecedent window). Serves as the 'gold'
    clustering for the G5 metrics — it differs from :func:`coref_clusters`
    exactly where a same-surface gap exceeds the antecedent window."""
    ordered = mention_order(mentions)
    w = Window.partitionBy("conv_id", "surface")
    return ordered.withColumn("cluster_id", F.min("mention_ix").over(w))


def muc_score(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """G5 MUC (the link-based CoNLL metric the reference imports from
    allennlp_models — coref.py:15-16, use :355-361) as pure joins.

    Inputs: (conv_id, mention_ix, cluster_id) frames over the SAME mention
    set. Recall = sum(|g| - partitions(g)) / sum(|g| - 1) over gold
    clusters, where partitions(g) = number of distinct pred clusters g's
    mentions fall into; precision is symmetric. All sums are integer sums
    (exact, order-free); P/R/F1 are single IEEE divisions. One lazy row
    out: the two sums are one-row aggregates, cross-joined.
    """
    j = pred.select(
        "conv_id", "mention_ix", F.col("cluster_id").alias("pc")
    ).join(
        gold.select("conv_id", "mention_ix", F.col("cluster_id").alias("gc")),
        ["conv_id", "mention_ix"],
    )

    def link_sums(own: str, other: str, prefix: str) -> DataFrame:
        # per cluster on the `own` side: size n and the number p of
        # `other`-side clusters its mentions fall into
        per = j.groupBy("conv_id", own).agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct(other).alias("p")
        )
        return per.agg(
            F.sum(F.col("n") - F.col("p")).alias(f"{prefix}_num"),
            F.sum(F.col("n") - 1).alias(f"{prefix}_den"),
        )

    row = link_sums("pc", "gc", "prec").crossJoin(link_sums("gc", "pc", "rec"))
    return row.select(
        "*",
        *prf_columns(
            F.col("prec_num"), F.col("prec_den"), F.col("rec_num"), F.col("rec_den")
        ),
    )


def b3_counts(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """G5 B-cubed sufficient statistics, integer-exact: per overlapping
    (pred_cluster, gold_cluster) pair the overlap size and both cluster
    sizes. The scalar B3 = (1/N) sum n_pg^2 / n_p (precision side) is a
    sum of ratios — order-dependent in floating point — so the ENGINE
    emits the exact integer table and the caller folds it (numpy/pandas at
    metric-report time), keeping the distributed part hash-verifiable.
    """
    j = pred.select(
        "conv_id", "mention_ix", F.col("cluster_id").alias("pc")
    ).join(
        gold.select("conv_id", "mention_ix", F.col("cluster_id").alias("gc")),
        ["conv_id", "mention_ix"],
    )
    pair = j.groupBy("conv_id", "pc", "gc").agg(F.count(F.lit(1)).alias("n_pg"))
    np_ = j.groupBy("conv_id", "pc").agg(F.count(F.lit(1)).alias("n_p"))
    ng_ = j.groupBy("conv_id", "gc").agg(F.count(F.lit(1)).alias("n_g"))
    return pair.join(np_, ["conv_id", "pc"]).join(ng_, ["conv_id", "gc"]).select(
        "conv_id", "pc", "gc", "n_pg", "n_p", "n_g"
    )


def b3_scores(counts) -> tuple[float, float, float]:
    """Fold of :func:`b3_counts` output -> (P, R, F1).

    Fully distributed: the ratio sums ``sum(n_pg²/n_p)`` / ``sum(n_pg²/n_g)``
    are computed as ONE aggregate row (map-side partial sums), never by
    collecting the (pred × gold) overlap pairs to the driver — at corpus
    scale that table is huge. Floating-point sum order is partition-
    dependent, so results agree with a sequential fold to ~1e-12 relative
    (the hash-verified artifact remains the integer b3_counts table).
    """
    row = counts.agg(
        F.sum("n_pg").alias("n"),
        F.sum(
            (F.col("n_pg") * F.col("n_pg")).cast("double")
            / F.col("n_p").cast("double")
        ).alias("sp"),
        F.sum(
            (F.col("n_pg") * F.col("n_pg")).cast("double")
            / F.col("n_g").cast("double")
        ).alias("sr"),
    ).collect()[0]
    n = row["n"] or 0
    if n == 0:
        return 0.0, 0.0, 0.0
    p = row["sp"] / n
    r_ = row["sr"] / n
    f1 = 2 * p * r_ / (p + r_) if p + r_ > 0 else 0.0
    return p, r_, f1


def ceafe_stats(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """G5 CEAF-e sufficient statistics (completes the CoNLL triple the
    reference averages — dygie/models/coref.py:15-16, use :355-361).

    Per conversation, solves the optimal one-to-one alignment of pred to
    gold clusters under φ4 = 2·|p∩g|/(|p|+|g|) with an EXACT-rational
    Kuhn–Munkres kernel (:mod:`dygiepp_spark.kernels.assignment`) inside
    ``applyInPandas`` over the integer overlap table — documents align
    independently, so the expensive step is embarrassingly parallel and
    each group is beam-bounded.

    Output: one row per matched gold cluster —
    (conv_id, gc, phi_num = 2·n_pg, phi_den = n_p+n_g), integer-exact like
    :func:`b3_counts` so the result is hash-verifiable; the float division
    happens only in :func:`ceafe_score`.
    """
    import pandas as pd

    from dygiepp_spark.kernels.assignment import (
        ceafe_phi4,
        max_weight_assignment,
    )

    counts = b3_counts(pred, gold)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        conv = pdf["conv_id"].iloc[0]
        pcs = sorted(pdf["pc"].unique().tolist())
        gcs = sorted(pdf["gc"].unique().tolist())
        p_ix = {c: i for i, c in enumerate(pcs)}
        g_ix = {c: i for i, c in enumerate(gcs)}
        zero = ceafe_phi4(0, 1, 1)
        w = [[zero] * len(gcs) for _ in pcs]
        npg = {}
        for r in pdf.itertuples(index=False):
            w[p_ix[r.pc]][g_ix[r.gc]] = ceafe_phi4(r.n_pg, r.n_p, r.n_g)
            npg[(p_ix[r.pc], g_ix[r.gc])] = (int(r.n_pg), int(r.n_p), int(r.n_g))
        rows = []
        for (pi, gi) in max_weight_assignment(w):
            n_pg, n_p, n_g = npg[(pi, gi)]
            rows.append((conv, int(gcs[gi]), 2 * n_pg, n_p + n_g))
        return pd.DataFrame(
            rows, columns=["conv_id", "gc", "phi_num", "phi_den"]
        )

    return counts.groupBy("conv_id").applyInPandas(
        kernel, "conv_id string, gc bigint, phi_num bigint, phi_den bigint"
    )


def ceafe_score(pred: DataFrame, gold: DataFrame) -> tuple[float, float, float]:
    """CEAF-e (P, R, F1): P = Σφ4 / #pred clusters, R = Σφ4 / #gold
    clusters over the optimal alignment. One aggregate per term."""
    stats = ceafe_stats(pred, gold)
    s = stats.agg(
        F.sum(
            F.col("phi_num").cast("double") / F.col("phi_den").cast("double")
        ).alias("phi")
    ).collect()[0]["phi"] or 0.0
    n_p = pred.select("conv_id", "cluster_id").distinct().count()
    n_g = gold.select("conv_id", "cluster_id").distinct().count()
    p = s / n_p if n_p else 0.0
    r = s / n_g if n_g else 0.0
    f1 = 2 * p * r / (p + r) if p + r > 0 else 0.0
    return p, r, f1


def conll_score(pred: DataFrame, gold: DataFrame) -> dict:
    """The reference's headline coref number: the CoNLL average of MUC,
    B³ and CEAF-e F1 (allennlp ConllCorefScores semantics; coref.py:355-361
    logs the three and their mean)."""
    muc = muc_score(pred, gold).collect()[0]
    b3 = b3_scores(b3_counts(pred, gold))
    ceafe = ceafe_score(pred, gold)
    f1s = (muc["f1"], b3[2], ceafe[2])
    return {
        "muc_f1": f1s[0],
        "b3_f1": f1s[1],
        "ceafe_f1": f1s[2],
        "conll_f1": sum(f1s) / 3.0,
    }


def mention_recall(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """G5 MentionRecall (imported by the reference next to
    ConllCorefScores, dygie/models/coref.py:15-16; AllenNLP
    ``MentionRecall``): the fraction of gold cluster mentions that the
    predicted clustering also treats as mentions.

    Mentions = spans belonging to a NON-SINGLETON cluster on their side
    (a cluster in the CoNLL sense has >= 2 members; the band-limited
    predicted clustering drops long-range links, turning their mentions
    into singletons — exactly what this metric exists to surface).

    Input frames: (conv_id, mention_ix, cluster_id). Output: one row per
    conversation that has gold mentions — (conv_id, n_gold, n_recalled,
    recall) — plus a ``__total__`` row with the corpus-level counts (the
    AllenNLP accumulator semantics: recalled and total summed over docs,
    one division at the end).

    Plan: two map-side-combinable size aggregations + one semi-join on
    (conv_id, mention_ix) + one rollup — all keyed on conv_id.
    """

    def ns_mentions(df: DataFrame) -> DataFrame:
        sizes = df.groupBy("conv_id", "cluster_id").agg(
            F.count(F.lit(1)).alias("_n")
        )
        return (
            df.join(sizes.filter(F.col("_n") >= 2), ["conv_id", "cluster_id"])
            .select("conv_id", "mention_ix")
        )

    g = ns_mentions(gold)
    p = ns_mentions(pred)
    flagged = g.join(
        p.withColumn("_hit", F.lit(1)), ["conv_id", "mention_ix"], "left"
    )
    per_conv = flagged.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_gold"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_recalled"),
    )
    total = per_conv.agg(
        F.lit("__total__").alias("conv_id"),
        F.sum("n_gold").cast("bigint").alias("n_gold"),
        F.sum("n_recalled").cast("bigint").alias("n_recalled"),
    )
    rec = F.col("n_recalled").cast("double") / F.greatest(
        F.col("n_gold"), F.lit(1)
    ).cast("double")
    return (
        per_conv.unionByName(total)
        .select("conv_id", "n_gold", "n_recalled", rec.alias("recall"))
    )


def canonicalize_clusters(clustered: DataFrame) -> DataFrame:
    """K11: exemplar = longest member span; first occurrence breaks ties.

    Output: (conv_id, cluster_id, exemplar_text, n_members).
    """
    # maximize span length, then minimize mention_ix: single map-side-combinable agg
    pref = (F.col("end") - F.col("start")) * 1_000_000 - F.col("mention_ix")
    return clustered.groupBy("conv_id", "cluster_id").agg(
        F.max_by(F.col("surface"), pref).alias("exemplar_text"),
        F.count(F.lit(1)).cast("int").alias("n_members"),
    )


def cluster_size_hist(clusters: DataFrame) -> DataFrame:
    """Coreference-chain length distribution — one row per cluster size
    with the cluster count and the total mentions that size accounts
    for: the anaphora-density report that says whether coref
    propagation is worth its cost on a corpus (all-singletons -> skip
    the stage) and flags degenerate giant chains (a surface-form
    collision melting conversations together).

    Scale: one (conv, cluster) count then one agg over the tiny
    size domain — both map-side combinable.
    """
    per = clusters.groupBy("conv_id", "cluster_id").agg(
        F.count(F.lit(1)).alias("size")
    )
    return (
        per.groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "size", "n_clusters",
            (F.col("size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_mentions"),
        )
    )
