"""Entity linking: mention surface -> canonical entity id (broadcast join).

The dictionary side is small (at production: an Iceberg dim table of
canonical entities, still orders of magnitude under the broadcast
threshold), so the join is an explicit ``F.broadcast`` — zero shuffle on
the 100 TB mention side. Analog of the fork's surface->label maps
(/root/reference/eval_utils.py:55-145) combined with the coref-exemplar
canonical-entity rule (dw-experiments/shared/coref_to_tsv.py:11-33).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def normalize_surface(col) -> Column:
    """K1 'exact' matching normalization: strip + lower
    (eval_utils.py:183-189)."""
    return F.lower(F.trim(col))


def link_mentions(mentions: DataFrame, entity_dict: DataFrame) -> DataFrame:
    """Broadcast-join mentions to the canonical-entity dictionary.

    Unlinked mentions (no dictionary hit) keep a deterministic surface-keyed
    id ``S:<normalized surface>`` so downstream canonicalization can still
    cluster them; linked ones get the dictionary entity_id.
    """
    dict_norm = entity_dict.select(
        normalize_surface(F.col("surface")).alias("_k"),
        "entity_id",
        "canonical_text",
        "type",
    )
    m = mentions.withColumn("_k", normalize_surface(F.col("surface")))
    out = m.join(F.broadcast(dict_norm), on="_k", how="left")
    return (
        out.withColumn(
            "entity_id",
            F.coalesce(F.col("entity_id"), F.concat(F.lit("S:"), F.col("_k"))),
        )
        .withColumn("canonical_text", F.coalesce(F.col("canonical_text"), F.col("surface")))
        .withColumn("type", F.coalesce(F.col("type"), F.lit("UNKNOWN")))
        .drop("_k")
    )


def mention_contexts(
    turns: DataFrame, entity_dict: DataFrame, k: int = 3
) -> DataFrame:
    """Entity-linker training-data export: every linked mention with its
    ±``k``-token context windows, space-joined — the (surface, context)
    -> entity_id supervision a neural linker trains on, and the frame a
    human audits for dictionary collisions.

    Window semantics: ``k`` tokens of ``extraction.turn_tokens`` (the list
    the mention positions index) either side of the mention, with the
    same '/.' '/?' normalization the tokenizer applies — identical
    arithmetic in both engines, no UDF.

    Scale: one broadcast dict join (inside link_mentions) + one
    conv/turn-keyed join back to the turn text; all context math is
    JVM array expressions on the already-loaded row.
    """
    from dygiepp_spark.operators.extraction import detect_mentions, turn_tokens

    if k < 1:
        raise ValueError("k must be >= 1")
    linked = link_mentions(detect_mentions(turns), entity_dict).select(
        "conv_id", "turn_idx", "start", "surface", "entity_id"
    )
    j = linked.join(
        turns.select("conv_id", "turn_idx", turn_tokens(F.col("text")).alias("toks")),
        ["conv_id", "turn_idx"],
    )
    ctx = (
        "array_join(transform(slice(toks, {a}, {n}), "
        "t -> CASE WHEN t IN ('/.', '/?') THEN substring(t, 2) ELSE t END), ' ')"
    )
    left = ctx.format(a=f"greatest(1, start + 1 - {k})", n=f"least({k}, start)")
    right = ctx.format(a="start + 2", n=str(k))
    return j.select(
        "conv_id", "turn_idx", "start", "surface", "entity_id",
        F.expr(left).alias("left_ctx"),
        F.expr(right).alias("right_ctx"),
    )
