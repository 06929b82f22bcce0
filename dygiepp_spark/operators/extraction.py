"""Relational (Catalyst-side) extraction: mentions, triples, events.

This module is the *relational skeleton* of the DyGIE++ decode path,
expressed entirely in DataFrame ops so Catalyst can push filters into the
scan and keep everything in whole-stage codegen. The scores here come from
the deterministic rule scorer (planted entities/triggers of
``dygiepp_spark.tables``); the neural path swaps in the Arrow kernel of
``dygiepp_spark.kernels`` which must produce the identical frame shapes
(pytest asserts kernel == relational on the rule scorer).

Reference semantics re-expressed:

* mention detection -> the NER module's non-null argmax per span
  (/root/reference/dygie/models/ner.py:92-120).
* triple emission -> ``predict.py:22-42``: key (doc_key, sent_text, arg0,
  arg1, label) deduped with last-write-wins over (i, j) pair order; value =
  softmax score. TSV variant ``dygie_pred_to_tsv.py:23-34`` maps
  USED-FOR -> MECHANISM and drops all other labels.
* events -> single-token triggers with role-labelled argument spans
  (doc/data.md:59-72); binary decode ``decode.py:10-43`` (ARG0 x ARG1
  cross product per trigger).

Scale notes: every mention and pair fact comes from one per-turn array
expression, :func:`entity_positions`. Mentions explode it; triples, gold
triples and KG edges pair it row-locally (``_pair_rows``: beamed for
triples and gold, unbeamed for edges), so none of them joins mention rows
to each other. Only the event decode self-joins tokens, *within*
(conv_id, turn_idx) with a band predicate (distance cap), so its shuffle
key is (conv_id, turn_idx) — high cardinality and uniform (turns are
bounded at TURN_TOKENS tokens), no skew. AQE handles residual imbalance.

Plan-shape invariants (tests/test_plan_shapes.py):

* ``_pair_rows`` — tokenize, vocab filter, positional beam and band pairs
  — is array expressions over each turn row: it scans the source once and
  shuffles nothing. ``emit_triples``' one shuffle is its triple-dedup
  aggregation; ``kg_eval.gold_triples``/``gold_triples_ctx``'s one shuffle
  is their first-occurrence aggregation. None of them has a window.
* ``graph.build_edges`` is the unbeamed pairs plus two broadcast
  dictionary lookups: no shuffle and no other join, even with broadcasts
  off.
* ``extract_events``' token explode carries ``n_tokens``, so its beam is a
  ranking window with no join back to the turns.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from dygiepp_spark.tables import (
    ENTITY_VOCAB,
    EVENT_ARG_MAX_DIST,
    RELATION_LABELS,
    RELATION_MAX_DIST,
    TRIGGER_VOCAB,
)


def turn_tokens(text: Column) -> Column:
    """The non-empty tokens of a turn's text split on single spaces — the
    one token rule of every extractor: mention, pair and span positions
    index this array, as the Arrow kernel's do (``kernels/extract.py``)."""
    return F.array_remove(F.split(text, " "), "")


def _token_frame(turns: DataFrame) -> DataFrame:
    """Token explode that carries the turn's ``n_tokens`` on every token
    row, so a beam over it is a ranking window with no join back;
    ``tok_ix`` indexes :func:`turn_tokens`."""
    toks = turn_tokens(F.col("text"))
    return turns.select(
        "conv_id",
        "turn_idx",
        F.size(toks).alias("n_tokens"),
        F.posexplode(toks).alias("tok_ix", "token"),
    ).withColumn(
        "token",
        F.when(F.col("token").isin("/.", "/?"), F.expr("substring(token, 2)"))
        .otherwise(F.col("token")),
    )


def entity_positions(text: Column) -> Column:
    """The entity-vocab tokens of :func:`turn_tokens`, in text order, as
    ``(pos, tok)`` structs — the one generator of every mention and pair
    fact: :func:`detect_mentions` explodes it, :func:`_pair_rows` pairs
    it, ``graph.build_edges`` links those pairs. The ``'/.'``/``'/?'``
    rewrite of :func:`_token_frame` is left out: it rewrites only those
    two tokens, neither of which can become an entity word, and it cost
    ~20% of emit_triples' wall (interleaved A/B at sf0.1, BENCH/PLANS.md
    round 3)."""
    return F.filter(
        F.transform(
            turn_tokens(text), lambda t, i: F.struct(i.alias("pos"), t.alias("tok"))
        ),
        lambda s: s["tok"].isin(*ENTITY_VOCAB),
    )


def detect_mentions(turns: DataFrame) -> DataFrame:
    """Rule-based single-token entity mentions.

    Output: (conv_id, turn_idx, start, end, surface) — sentence-relative
    inclusive offsets like the reference's per-sentence ner lists
    (doc/data.md:29-37).
    """
    return turns.select(
        "conv_id",
        "turn_idx",
        F.explode(entity_positions(F.col("text"))).alias("m"),
    ).select(
        "conv_id",
        "turn_idx",
        F.col("m.pos").alias("start"),
        F.col("m.pos").alias("end"),
        F.col("m.tok").alias("surface"),
    )


def detect_triggers(turns: DataFrame) -> DataFrame:
    """Rule-based single-token event triggers (doc/data.md:59)."""
    toks = _token_frame(turns)
    return toks.filter(F.col("token").isin(*TRIGGER_VOCAB)).select(
        "conv_id",
        "turn_idx",
        F.col("tok_ix").alias("trigger_ix"),
        F.concat(F.lit("op_"), F.col("token")).alias("event_type"),
    )


def _rule_label(arg0: Column, arg1: Column) -> Column:
    """label = RELATION_LABELS[(len(arg0) + 2*len(arg1)) % 3]."""
    label_arr = F.array(*[F.lit(x) for x in RELATION_LABELS])
    return F.element_at(
        label_arr,
        ((F.length(arg0) + 2 * F.length(arg1)) % len(RELATION_LABELS)).cast("int")
        + 1,
    )


def _pair_rows(turns: DataFrame, max_dist: int, beam: bool = True) -> DataFrame:
    """Every relation pair of every turn, one row each: (conv_id, turn_idx,
    sent_text, s1, s2, arg0, arg1, label, conf) — the pair rule that
    :func:`emit_triples`, the gold builders of ``kg_eval`` and
    ``graph.build_edges`` share.

    Mentions are :func:`entity_positions`; with ``beam`` they pass the
    reference's relation beam (the first k = ceil(0.5 * sentence_len) in
    textual order, template.libsonnet:99), and KG edges take them all. A
    pair is an ordered mention pair with ``0 < s2 - s1 <= max_dist``;
    label = RELATION_LABELS[(len(arg0) + 2*len(arg1)) % 3], conf =
    1 / (1 + distance).

    Every step is an array expression over the turn row, so the generator
    shuffles nothing. A positional beam as a ranking window shuffles every
    mention row instead (measured: 0.39 scaling efficiency at 4x cores
    against this form, BENCH/PLANS.md round 3), and so does a band
    self-join of mention rows on (conv_id, turn_idx).
    """
    ments = entity_positions(F.col("text"))
    if beam:
        n = F.size(turn_tokens(F.col("text")))
        k = F.greatest(F.ceil(F.lit(0.5) * n), F.lit(1)).cast("int")
        ments = F.slice(ments, 1, k)
    pairs_arr = F.flatten(
        F.transform(
            ments,
            lambda a: F.transform(
                F.filter(
                    ments,
                    lambda b: (b["pos"] > a["pos"])
                    & (b["pos"] - a["pos"] <= max_dist),
                ),
                lambda b: F.struct(
                    a["pos"].alias("s1"),
                    b["pos"].alias("s2"),
                    a["tok"].alias("arg0"),
                    b["tok"].alias("arg1"),
                ),
            ),
        )
    )
    return turns.select(
        "conv_id",
        "turn_idx",
        F.col("text").alias("sent_text"),
        F.explode(pairs_arr).alias("p"),
    ).select(
        "conv_id",
        "turn_idx",
        "sent_text",
        F.col("p.s1").alias("s1"),
        F.col("p.s2").alias("s2"),
        F.col("p.arg0").alias("arg0"),
        F.col("p.arg1").alias("arg1"),
        _rule_label(F.col("p.arg0"), F.col("p.arg1")).alias("label"),
        (
            F.lit(1.0) / (F.lit(1.0) + (F.col("p.s2") - F.col("p.s1")))
        ).alias("conf"),
    )


def emit_triples(turns: DataFrame, max_dist: int = RELATION_MAX_DIST) -> DataFrame:
    """The flagship query: predict.py triple emission.

    (conv_id, sent_text, arg0, arg1, label) deduped with last-write-wins in
    (s1, s2) iteration order — the dict-overwrite semantics of
    ``get_doc_key_info`` (predict.py:22-34) — carrying the softmax score.
    ``max_by(conf, s1 * 1000 + s2)`` reproduces "last wins" because pairs
    are generated in ascending (i, j) order and turns are < 1000 tokens.

    The pairs come from :func:`_pair_rows`, which emits exactly what the
    Arrow kernel emits with the RuleScorer. The ONLY shuffle is this
    triple-dedup aggregation (map-side partial agg).
    """
    # Dedup key: hash the sentence text instead of grouping on the raw
    # string — a ~70-char string in a hash-agg key costs ~4x the whole
    # aggregation (measured); the 64-bit surrogate keeps key compare cheap
    # and sent_text rides along via max() (all values in a group are equal
    # up to a 2^-64 collision).
    return (
        _pair_rows(turns, max_dist)
        .groupBy(
            "conv_id",
            F.xxhash64("sent_text").alias("_sh"),
            "arg0",
            "arg1",
            "label",
        )
        .agg(
            F.max("sent_text").alias("sent_text"),
            F.max_by(F.col("conf"), F.col("s1") * 1000 + F.col("s2")).alias("conf"),
        )
        .select("conv_id", "sent_text", "arg0", "arg1", "label", "conf")
    )


def triples_to_mechanism(triples: DataFrame) -> DataFrame:
    """dygie_pred_to_tsv.py:28-32 — keep USED-FOR as MECHANISM, drop rest."""
    return triples.filter(F.col("label") == "USED-FOR").withColumn(
        "label", F.lit("MECHANISM")
    )


def extract_events(turns: DataFrame, max_dist: int = EVENT_ARG_MAX_DIST) -> DataFrame:
    """Rule-based event extraction: trigger + role-labelled args.

    Args are entity mentions within ``max_dist`` tokens of the trigger
    (distance 0 impossible — vocabularies are disjoint); role = 'arg0' if
    the mention precedes the trigger else 'arg1'. Mirrors the reference's
    trigger-gated argument decode shape (events.py:251-279): an argument
    row exists only for predicted (non-null) triggers, and argument pairs
    are restricted to the trigger beam (floor 0.3/word cap 15) x the
    argument-span beam (floor 0.8/word cap 30), events.py:133-152.

    Plan shape: mentions and triggers come out of ONE token scan and ONE
    shared beam window partitioned by (conv_id, turn_idx, kind) — the two
    per-kind beam sizes are a conditional k inside the same window, so the
    self-join's two sides differ only by a post-window filter and the
    exchange is reusable.
    """
    toks = _token_frame(turns)
    cands = toks.withColumn(
        "kind",
        F.when(F.col("token").isin(*ENTITY_VOCAB), F.lit("m"))
        .when(F.col("token").isin(*TRIGGER_VOCAB), F.lit("t")),
    ).filter(F.col("kind").isNotNull())
    k = F.when(
        F.col("kind") == "m",
        F.least(
            F.greatest(F.floor(F.lit(0.8) * F.col("n_tokens")), F.lit(1)),
            F.lit(30),
        ),
    ).otherwise(
        F.least(
            F.greatest(F.floor(F.lit(0.3) * F.col("n_tokens")), F.lit(1)),
            F.lit(15),
        )
    )
    w = Window.partitionBy("conv_id", "turn_idx", "kind").orderBy("tok_ix")
    beamed = (
        cands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("conv_id", "turn_idx", "tok_ix", "token", "kind")
    )
    m = beamed.filter(F.col("kind") == "m").alias("m")
    t = beamed.filter(F.col("kind") == "t").alias("t")
    return t.join(
        m,
        on=[
            F.col("t.conv_id") == F.col("m.conv_id"),
            F.col("t.turn_idx") == F.col("m.turn_idx"),
            F.abs(F.col("m.tok_ix") - F.col("t.tok_ix")) <= max_dist,
        ],
    ).select(
        F.col("t.conv_id").alias("conv_id"),
        F.col("t.turn_idx").alias("turn_idx"),
        F.col("t.tok_ix").alias("trigger_ix"),
        F.concat(F.lit("op_"), F.col("t.token")).alias("event_type"),
        F.col("m.tok_ix").alias("arg_start"),
        F.col("m.tok_ix").alias("arg_end"),
        F.when(F.col("m.tok_ix") < F.col("t.tok_ix"), F.lit("arg0"))
        .otherwise(F.lit("arg1"))
        .alias("role"),
        F.col("m.token").alias("arg_text"),
    )


def events_binary_decode(events: DataFrame) -> DataFrame:
    """K10 (decode.py:10-43): per trigger, ARG0 x ARG1 cross product.

    Emits (conv_id, turn_idx, trigger_ix, event_type, arg0, arg1); a row
    requires both an arg0 and an arg1 for the trigger.

    Implemented as ONE aggregation per trigger (collect arg0/arg1 lists)
    followed by a nested explode — one pass over the events frame instead
    of a filtered self-join (which would recompute the whole upstream
    extraction for each side). Per-trigger arg counts are beam-capped
    (<= 30), so the collected lists are bounded.
    """
    per_trigger = events.groupBy(
        "conv_id", "turn_idx", "trigger_ix", "event_type"
    ).agg(
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("role") == "arg0",
                    F.struct(F.col("arg_start").alias("s"), F.col("arg_text").alias("t")),
                )
            )
        ).alias("a0s"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("role") == "arg1",
                    F.struct(F.col("arg_start").alias("s"), F.col("arg_text").alias("t")),
                )
            )
        ).alias("a1s"),
    )
    return (
        per_trigger.select(
            "conv_id", "turn_idx", "trigger_ix", "event_type",
            F.explode("a0s").alias("a0"), "a1s",
        )
        .select(
            "conv_id", "turn_idx", "trigger_ix", "event_type",
            "a0", F.explode("a1s").alias("a1"),
        )
        .select(
            "conv_id", "turn_idx", "trigger_ix", "event_type",
            F.col("a0.t").alias("arg0"), F.col("a0.s").alias("a0_start"),
            F.col("a1.t").alias("arg1"), F.col("a1.s").alias("a1_start"),
        )
    )


def event_schema_profile(events: DataFrame) -> DataFrame:
    """Event-ontology profile: one row per (event_type, role) with the
    argument count, distinct-conversation support, and the role's share
    within its event type — the schema-induction table for the event
    half of the KG (an event type whose role mix shifts between corpus
    slices signals extractor drift, the event analog of
    graph.schema_profile).

    Scale: one map-side-combinable agg on the tiny type x role domain
    plus a broadcast of per-type totals; share is one exact-integer
    division.
    """
    per = events.groupBy("event_type", "role").agg(
        F.count(F.lit(1)).alias("n_args"),
        F.count_distinct("conv_id").alias("n_convs"),
    )
    tot = per.groupBy("event_type").agg(F.sum("n_args").alias("_t"))
    return per.join(F.broadcast(tot), "event_type").select(
        "event_type", "role", "n_args", "n_convs",
        (
            F.col("n_args").cast("double") / F.col("_t").cast("double")
        ).alias("role_share"),
    )
