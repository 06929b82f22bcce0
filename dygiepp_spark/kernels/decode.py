"""Pure-numpy decode kernels — the reference's tensor decode re-expressed.

These functions run INSIDE Arrow batches (applyInPandas); they never touch
Spark. The three ``decode_*`` emitters return column arrays — one array
per output field, gathered by fancy indexing — never per-row tuples, so
the kernel builds its pandas frame without touching rows in Python.
Each mirrors a reference kernel bit-for-bit:

* :func:`enumerate_spans` — AllenNLP ``enumerate_spans`` order (start asc,
  end asc), width cap 8 (dygie.py:120-125, template.libsonnet:34).
* :func:`topk_prune` — ``Pruner.forward``
  (/root/reference/dygie/models/entity_beam_pruner.py:104-192):
  k = ceil(spans_per_word * sentence_length) (relation.py:117),
  always >= 1 (:139), ties resolved to the lower index (torch.topk
  behavior), survivors re-sorted ASCENDING so downstream pair enumeration
  stays in textual order (:171-173).
* :func:`decode_relations` — ``RelationExtractor._predict_sentence``
  (relation.py:147-177): argmax over label scores incl. the prepended
  null column, ``label -= 1`` so null -> -1, keep-mask over the beam,
  raw = max logit, softmax = max of row softmax.
* :func:`decode_ner` — NER argmax-with-null (ner.py:92-120).
* :func:`decode_events` — trigger argmax + trigger-gated argument decode
  (events.py:251-279): an argument is emitted only when its trigger
  decodes non-null.
* :func:`decode_antecedents` — coref argmax over previous-span scores with
  the dummy-zero no-antecedent column (coref.py:312-322, :602-649).
"""

from __future__ import annotations

import math

import numpy as np

MAX_SPAN_WIDTH = 8


_SPAN_CACHE: dict = {}


def enumerate_spans(n_tokens: int, max_width: int = MAX_SPAN_WIDTH) -> np.ndarray:
    """(S, 2) int array of inclusive spans in (start asc, end asc) order.

    Memoized per (n_tokens, max_width): sentence lengths repeat heavily
    (the kernel decodes thousands of short sentences per task), so the
    grid is built once per distinct length. Callers treat it read-only
    (fancy indexing copies)."""
    key = (n_tokens, max_width)
    cached = _SPAN_CACHE.get(key)
    if cached is None:
        out = [
            (s, e)
            for s in range(n_tokens)
            for e in range(s, min(s + max_width, n_tokens))
        ]
        cached = np.asarray(out, dtype=np.int64).reshape(-1, 2)
        if len(_SPAN_CACHE) < 4096:
            _SPAN_CACHE[key] = cached
    return cached


def topk_prune(scores: np.ndarray, spans_per_word: float, n_tokens: int,
               hard_cap: int | None = None, mode: str = "ceil") -> np.ndarray:
    """Indices of the top-k items, re-sorted ascending. Ties -> lower index.

    ``mode``: relations use ceil (relation.py:117 ``torch.ceil``); events
    use floor with a min of 1 (events.py:133-152 ``torch.floor`` then
    ``torch.max(..., 1)``).
    """
    n_items = scores.shape[0]
    if n_items == 0:
        return np.empty(0, dtype=np.int64)
    rounder = math.ceil if mode == "ceil" else math.floor
    k = max(int(rounder(spans_per_word * n_tokens)), 1)
    if hard_cap is not None:
        k = min(k, hard_cap)
    k = min(k, n_items)
    # stable sort on -score keeps lower indices first among ties,
    # matching torch.topk's deterministic tie behavior
    order = np.argsort(-scores, kind="stable")
    return np.sort(order[:k])


def softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    m = np.max(x, axis=axis, keepdims=True)
    e = np.exp(x - m)
    return e / np.sum(e, axis=axis, keepdims=True)


def decode_ner(spans: np.ndarray, ner_logits: np.ndarray, labels: list[str]) -> tuple:
    """Argmax incl. null column at index 0; emit non-null predictions.

    Returns columns ``(start, end, label, raw, softmax)``, one entry per
    emitted span, in span order."""
    pred = np.argmax(ner_logits, axis=-1)
    raw = np.max(ner_logits, axis=-1)
    soft = np.max(softmax(ner_logits, axis=-1), axis=-1)
    ix = np.nonzero(pred > 0)[0]
    return (spans[ix, 0], spans[ix, 1], np.asarray(labels, dtype=object)[pred[ix] - 1],
            raw[ix], soft[ix])


def decode_relations(
    kept_spans: np.ndarray, rel_logits: np.ndarray, labels: list[str], keep: int
) -> tuple:
    """relation.py:147-177. ``rel_logits``: (k, k, L+1), null at 0.

    ``keep`` = num_spans_to_keep for the sentence; rows/cols past it are
    masked out (keep_mask — only relevant when the beam was padded; we
    don't pad, so keep == k in practice).

    Returns columns ``(s1, e1, s2, e2, label, raw, softmax)`` in the
    nested (i, j) loop order: ``np.nonzero`` walks row-major.
    """
    pred = np.argmax(rel_logits, axis=-1) - 1          # null -> -1
    raw = np.max(rel_logits, axis=-1)
    soft = np.max(softmax(rel_logits, axis=-1), axis=-1)
    kk = min(kept_spans.shape[0], keep)
    ii, jj = np.nonzero(pred[:kk, :kk] >= 0)
    return (
        kept_spans[ii, 0], kept_spans[ii, 1],
        kept_spans[jj, 0], kept_spans[jj, 1],
        np.asarray(labels, dtype=object)[pred[ii, jj]], raw[ii, jj], soft[ii, jj],
    )


def decode_events(
    trigger_logits: np.ndarray,
    trigger_labels: list[str],
    arg_spans: np.ndarray,
    arg_logits: np.ndarray | None,
    role_labels: list[str],
    trig_beam: np.ndarray | None = None,
) -> tuple[tuple, tuple]:
    """events.py:236-279.

    Trigger *prediction* is argmax over ALL tokens (``_decode_trigger``);
    argument pairs are scored only for (beamed trigger, beamed arg span)
    and an argument survives iff its beamed trigger is also a predicted
    trigger (:265 "Only include the argument if its putative trigger is
    predicted as a real trigger"). ``arg_logits``:
    (n_tokens, n_arg_spans, R+1); ``trig_beam``: token indices eligible
    for argument attachment (default: all tokens).

    Returns two column tuples: triggers ``(token, label, raw, softmax)``
    in token order, and arguments ``(token, arg_start, arg_end, role,
    raw, softmax)`` in (trigger, arg span) order.
    """
    n_tok = trigger_logits.shape[0]
    t_pred = np.argmax(trigger_logits, axis=-1)
    t_raw = np.max(trigger_logits, axis=-1)
    t_soft = np.max(softmax(trigger_logits, axis=-1), axis=-1)
    t_ix = np.nonzero(t_pred > 0)[0]
    triggers = (t_ix, np.asarray(trigger_labels, dtype=object)[t_pred[t_ix] - 1],
                t_raw[t_ix], t_soft[t_ix])
    if arg_logits is None:
        arg_logits = np.zeros((n_tok, 0, len(role_labels) + 1))
    a_pred = np.argmax(arg_logits, axis=-1) - 1
    a_raw = np.max(arg_logits, axis=-1)
    a_soft = np.max(softmax(arg_logits, axis=-1), axis=-1)
    trig_mask = np.zeros(n_tok, dtype=bool)
    trig_mask[t_ix] = True
    beam = (
        np.arange(n_tok, dtype=np.int64)
        if trig_beam is None
        else np.asarray(trig_beam, dtype=np.int64)
    )
    # (eligible trigger, arg span) pairs; elig ascending and nonzero
    # row-major -> the nested loop order
    elig = beam[trig_mask[beam]]
    rows, cols = np.nonzero(a_pred[elig] >= 0)
    tok = elig[rows]
    arguments = (
        tok, arg_spans[cols, 0], arg_spans[cols, 1],
        np.asarray(role_labels, dtype=object)[a_pred[tok, cols]],
        a_raw[tok, cols], a_soft[tok, cols],
    )
    return triggers, arguments


def decode_antecedents(pair_scores: np.ndarray) -> np.ndarray:
    """coref.py:312-322: per anaphor, argmax over [dummy0 | antecedents].

    ``pair_scores``: (n, n) lower-triangular scores (row i = anaphor i,
    col j<i = antecedent j); returns antecedent index per span or -1.
    """
    n = pair_scores.shape[0]
    out = np.full(n, -1, dtype=np.int64)
    for i in range(n):
        if i == 0:
            continue
        cand = pair_scores[i, :i]
        best = int(np.argmax(cand))
        if cand[best] > 0.0:  # dummy score is 0 (coref.py:635-644)
            out[i] = best
    return out


def coref_propagate(
    span_scores: np.ndarray,
    ante_ix: np.ndarray,
    ante_scores: np.ndarray,
    gate: float = 0.5,
    rounds: int = 1,
) -> np.ndarray:
    """M17 coref propagation (coref.py:111-154 ``coref_propagation_doc``):
    for ``rounds`` iterations, each span's representation is refreshed as a
    gated mix of itself and the attention-weighted combination of its
    antecedent candidates.

    Scalar-score form of the reference's vector update
    (``emb' = f * emb + (1 - f) * sum_a attn_a * emb_a``; gate network
    ``_f_network`` coref.py:84-88 collapses to the scalar ``gate`` here):

    * ``ante_ix``    (S, A) int — candidate antecedent indices, -1 = pad
      (AdjacencyFieldAssym padding convention);
    * ``ante_scores`` (S, A) float — pair scores; pads are masked to -inf
      before the softmax (util.replace_masked_values semantics);
    * spans with NO candidates keep their score unchanged (the reference's
      log-mask leaves the dummy antecedent, coref.py:451-506).

    Bounded iterations (default 1, reference default 0/1 —
    template.libsonnet:95, scierc.jsonnet:17-23); runs entirely inside the
    per-document Arrow kernel, never as Spark rows.
    """
    scores = span_scores.astype(np.float64).copy()
    pad = ante_ix < 0
    for _ in range(rounds):
        masked = np.where(pad, -np.inf, ante_scores)
        has_any = ~pad.all(axis=1)
        attn = np.zeros_like(ante_scores, dtype=np.float64)
        if has_any.any():
            attn[has_any] = softmax(masked[has_any], axis=-1)
        ante_vals = scores[np.clip(ante_ix, 0, None)]
        mixed = (attn * np.where(pad, 0.0, ante_vals)).sum(axis=1)
        scores = np.where(
            has_any, gate * scores + (1.0 - gate) * mixed, scores
        )
    return scores
