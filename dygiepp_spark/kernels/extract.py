"""The Arrow extraction kernel: applyInPandas over conversation chunks.

This is the production path for neural scoring at 100 TB: turns are
chunk-bounded (doc_assembly.assign_chunks, <=500 tokens/group like the
reference's Document.split), grouped by chunk_key, and each group flows
through one Arrow batch where the injected Scorer produces logits and the
numpy decode (kernels.decode) reproduces the reference's prediction
semantics. Only decoded survivors leave the kernel — the O(n*W) candidate
span set never hits a shuffle (SURVEY.md §4: beam pruning is the load-
bearing optimization).

Model distribution: the scorer object is pickled into the UDF closure
(small scorers) — a real transformer backend would instead load weights
from SparkFiles on first use per executor.

Output: one long-format frame with ``row_type`` in
{mention, relation, trigger, argument}; split it with filters AFTER a
persist/checkpoint so the kernel runs once.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from dygiepp_spark.kernels import decode as D
from dygiepp_spark.kernels.batched import decode_batch_rule
from dygiepp_spark.kernels.scorer import RuleScorer, Scorer
from dygiepp_spark.operators.doc_assembly import assign_chunks
from dygiepp_spark.operators.extraction import turn_tokens

EXTRACT_SCHEMA = (
    "conv_id string, turn_idx int, row_type string, "
    "s1 int, e1 int, s2 int, e2 int, "
    "label string, raw_score double, softmax_score double"
)

#: reference beam hyper-parameters (template.libsonnet:99, coref.py:241,
#: events.py:133-152)
RELATION_SPANS_PER_WORD = 0.5
TRIGGER_SPANS_PER_WORD = 0.3
TRIGGER_CAP = 15
ARG_SPANS_PER_WORD = 0.8
ARG_CAP = 30


#: EXTRACT_SCHEMA columns and the numpy dtype each is built in
_OUT_COLS = [
    ("conv_id", object), ("turn_idx", np.int64), ("row_type", object),
    ("s1", np.int64), ("e1", np.int64), ("s2", np.int64), ("e2", np.int64),
    ("label", object), ("raw_score", np.float64), ("softmax_score", np.float64),
]


class RowSink:
    """Decoded rows as column chunks, in EXTRACT_SCHEMA order.

    Each :meth:`add` appends one chunk: an array per column, or a scalar
    that stands for the whole chunk (a sentence's conv_id, a row type, the
    -1 of an absent span). :meth:`frame` concatenates every column once."""

    def __init__(self):
        self._chunks: list[tuple] = []

    def add(self, conv_id, turn_idx, row_type, s1, e1, s2, e2, label, raw, soft):
        if len(s1):
            self._chunks.append(
                (conv_id, turn_idx, row_type, s1, e1, s2, e2, label, raw, soft)
            )

    def frame(self) -> pd.DataFrame:
        sizes = [len(c[3]) for c in self._chunks]
        cols = {}
        for j, (name, dtype) in enumerate(_OUT_COLS):
            vals = [c[j] for c in self._chunks]
            if not any(isinstance(v, np.ndarray) for v in vals):
                cols[name] = np.repeat(np.asarray(vals, dtype), sizes)
            else:
                cols[name] = np.concatenate([
                    v if isinstance(v, np.ndarray) else np.full(k, v, dtype)
                    for v, k in zip(vals, sizes)
                ])
        return pd.DataFrame(cols)


def _decode_sentence(scorer: Scorer, conv_id: str, turn_idx: int, tokens: list[str],
                     max_span_width: int, out: RowSink, coref_prop: int = 0,
                     ctx_seed: dict | None = None) -> None:
    n = len(tokens)
    if n == 0:
        return
    spans = D.enumerate_spans(n, max_span_width)
    ctx = {"conv_id": conv_id, "turn_idx": turn_idx, "tokens": tokens,
           "spans": spans}
    if ctx_seed:
        ctx.update(ctx_seed)

    # --- NER over all enumerated spans (ner.py:92-120)
    s, e, lab, raw, soft = D.decode_ner(
        spans, scorer.ner_logits(ctx, spans), scorer.ner_labels
    )
    out.add(conv_id, turn_idx, "mention", s, e, -1, -1, lab, raw, soft)

    # --- M17 coref propagation (dygie.py:227-235): for coref_prop > 0
    #     rounds, refresh span scores as a gated mix with their antecedent
    #     candidates' scores (coref.py:111-154) BEFORE the relation beam —
    #     the reference's primary consumer of the propagated embeddings is
    #     the relation pruner (relation.py:112-130); the event beams keep
    #     the un-propagated head, matching events' separate trigger/arg
    #     scorers
    base_prune = scorer.span_prune_scores(ctx, spans)
    prune = base_prune
    if coref_prop > 0:
        cands = scorer.coref_antecedents(ctx, spans)
        if cands is not None:
            prune = D.coref_propagate(
                prune, cands[0], cands[1], gate=0.5, rounds=coref_prop
            )
    # --- relation beam + pair decode (relation.py:112-177)
    kept_ix = D.topk_prune(prune, RELATION_SPANS_PER_WORD, n)
    kept = spans[kept_ix]
    out.add(conv_id, turn_idx, "relation", *D.decode_relations(
        kept, scorer.rel_logits(ctx, kept), scorer.relation_labels, keep=len(kept_ix)
    ))

    # --- events: trigger decode over all tokens; argument pairs restricted
    #     to (beamed triggers, beamed arg spans) — floor-mode beams with the
    #     reference's caps (events.py:132-163, :251-279)
    trig_logits = scorer.trigger_logits(ctx, n)
    trig_beam = D.topk_prune(
        scorer.trigger_prune_scores(ctx, n),
        TRIGGER_SPANS_PER_WORD, n, hard_cap=TRIGGER_CAP, mode="floor",
    )
    # the event beams keep the UN-propagated span scores (separate
    # trigger/arg scorers in the reference) — reuse the base computation
    arg_ix = D.topk_prune(
        base_prune, ARG_SPANS_PER_WORD, n, hard_cap=ARG_CAP, mode="floor"
    )
    arg_spans = spans[arg_ix]
    triggers, arguments = D.decode_events(
        trig_logits,
        scorer.trigger_labels,
        arg_spans,
        scorer.arg_logits(ctx, arg_spans, n),
        scorer.role_labels,
        trig_beam=trig_beam,
    )
    ix, lab, raw, soft = triggers
    out.add(conv_id, turn_idx, "trigger", ix, ix, -1, -1, lab, raw, soft)
    tix, s, e, role, raw, soft = arguments
    out.add(conv_id, turn_idx, "argument", tix, tix, s, e, role, raw, soft)


def _tokens(text: str) -> list[str]:
    """The non-empty tokens of a turn; spans index this list."""
    return [t for t in text.split(" ") if t != ""]


def _length_groups(pdf: pd.DataFrame) -> dict:
    """Turns grouped by non-empty token count: {n: (conv_ids, turn_idxs,
    token lists)}, each list in frame order."""
    groups: dict[int, tuple[list, list, list]] = {}
    for conv_id, turn_idx, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
        tokens = _tokens(text)
        g = groups.setdefault(len(tokens), ([], [], []))
        g[0].append(conv_id)
        g[1].append(int(turn_idx))
        g[2].append(tokens)
    return groups


def decode_rows(
    pdf: pd.DataFrame,
    scorer: Scorer,
    max_span_width: int = D.MAX_SPAN_WIDTH,
    coref_prop: int = 0,
    batched: bool = True,
) -> pd.DataFrame:
    """Decode one pandas frame of turns (``conv_id``, ``turn_idx``,
    ``text``) into EXTRACT_SCHEMA rows — the body of both Arrow kernels in
    :func:`extract`, callable without a Spark session.

    Every scorer emits through one :class:`RowSink`, so the frame is built
    once from column chunks. ``batched`` selects the cross-sentence forms
    described in :func:`extract`; the rows are the same either way."""
    rows = RowSink()
    if batched and type(scorer) is RuleScorer and coref_prop == 0:
        for _, (cids, tixs, toks) in sorted(_length_groups(pdf).items()):
            decode_batch_rule(scorer, cids, tixs, toks, max_span_width, rows)
    elif batched and hasattr(scorer, "forward_batch"):
        for n, (cids, tixs, toks) in sorted(_length_groups(pdf).items()):
            if n == 0:
                continue
            vecs = scorer.forward_batch(toks)               # (B, n, d)
            for b in range(len(cids)):
                _decode_sentence(
                    scorer, cids[b], tixs[b], toks[b], max_span_width, rows,
                    coref_prop=coref_prop, ctx_seed={"_tok_vecs": vecs[b]},
                )
    else:
        for conv_id, turn_idx, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
            tokens = _tokens(text)
            _decode_sentence(
                scorer, conv_id, int(turn_idx), tokens, max_span_width, rows,
                coref_prop=coref_prop,
            )
    return rows.frame()


def extract(
    turns: DataFrame,
    scorer: Scorer,
    max_span_width: int = D.MAX_SPAN_WIDTH,
    max_tokens_per_chunk: int = 500,
    coref_prop: int = 0,
    doc_grouped: bool = False,
    batched: bool = True,
) -> DataFrame:
    """Run the extraction kernel over all conversations.

    One shuffle (on chunk_key); group sizes bounded by
    ``max_tokens_per_chunk`` so no conversation stragglers.
    ``coref_prop``: rounds of M17 coref propagation applied to the span
    scores before the relation beam (reference default 0/1,
    template.libsonnet:95, scierc.jsonnet:17-23).

    Two physical forms, identical output (measured and exceptAll-checked):

    * ``doc_grouped=False`` (default) — ``mapInPandas`` over partitions
      repartitioned on chunk_key and SORTED (chunk_key, turn_idx), so
      sentences still arrive doc-contiguous and in order (the B1
      invariant) but one Arrow batch carries thousands of sentences
      instead of one tiny pandas frame per chunk. The per-group pandas
      overhead of applyInPandas dominated the kernel wall (measured 28 s
      -> 9 s at sf0.1, ~5k small chunks): every in-tree scorer is
      sentence-local, so whole-chunk materialization buys nothing.
    * ``doc_grouped=True`` — the original ``applyInPandas`` per-chunk
      grouping. REQUIRED for a scorer with cross-sentence state (e.g. a
      transformer consuming chunk context), because an Arrow batch split
      can straddle a chunk in the mapInPandas form.

    ``batched=True`` (default) additionally vectorizes ACROSS sentences in
    the streamed form when the scorer is exactly :class:`RuleScorer` with
    no coref propagation: sentences are grouped by token count inside each
    Arrow batch and decoded as rectangular (B, ...) tensors
    (kernels.batched) — same rows bit-for-bit (the grouped-vs-streamed
    test cross-checks the two implementations), ~3x less numpy small-array
    overhead. Subclasses (CorefRuleScorer) and Replay scorers take the
    per-sentence path. A scorer exposing ``forward_batch`` (the numpy
    transformer, kernels/transformer.py) gets its FORWARD batched over
    same-length groups as (B, n, d) tensors; each sentence then decodes
    its slice of the batch (span grid represented once, beams served by
    row gather). Every path appends column chunks to one
    :class:`RowSink` and the kernel builds one pandas frame per Arrow
    batch (:func:`decode_rows`).
    """
    chunked = assign_chunks(turns, max_tokens_per_chunk)
    args = (scorer, max_span_width, coref_prop, batched)

    if doc_grouped:

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            return decode_rows(pdf.sort_values("turn_idx"), *args)

        return chunked.groupBy("chunk_key").applyInPandas(kernel, EXTRACT_SCHEMA)

    stream = chunked.repartition("chunk_key").sortWithinPartitions(
        "chunk_key", "turn_idx"
    )

    def kernel_stream(batches):
        for pdf in batches:
            yield decode_rows(pdf, *args)

    return stream.mapInPandas(kernel_stream, EXTRACT_SCHEMA)


def kernel_triples(extracted: DataFrame, turns: DataFrame) -> DataFrame:
    """predict.py triple emission from kernel output (same dedup semantics
    as operators.extraction.emit_triples: last (s1, s2) pair wins).

    Spans index the non-empty tokens the kernel decoded, so the surfaces
    are sliced from that same list (``extraction.turn_tokens``)."""
    rels = extracted.filter(F.col("row_type") == "relation")
    toks = turns.select("conv_id", "turn_idx", F.col("text").alias("sent_text"),
                        turn_tokens(F.col("text")).alias("_toks"))
    span_text = lambda s, e: F.array_join(  # noqa: E731
        F.slice(F.col("_toks"), s + 1, e - s + 1), " "
    )
    with_text = rels.join(toks, ["conv_id", "turn_idx"]).select(
        "conv_id",
        "sent_text",
        span_text(F.col("s1"), F.col("e1")).alias("arg0"),
        span_text(F.col("s2"), F.col("e2")).alias("arg1"),
        "label",
        F.col("softmax_score").alias("conf"),
        "s1",
        "s2",
    )
    return with_text.groupBy("conv_id", "sent_text", "arg0", "arg1", "label").agg(
        F.max_by(F.col("conf"), F.col("s1") * 1000 + F.col("s2")).alias("conf")
    )
