"""Cross-sentence batched decode for the extraction kernel.

The per-sentence kernel (`kernels.extract._decode_sentence`) is already
vectorized WITHIN a sentence, but at sf0.1 the wall is dominated by numpy
small-array overhead: ~25k sentences × ~10 tiny array ops each. This
module batches ACROSS sentences: sentences of equal token count share
identical shapes everywhere downstream —

* the enumerated span grid is the same (S, 2) array,
* every beam size is a function of n alone (k = ceil/floor(r*n), capped),

so a length-group of B sentences decodes as rectangular (B, ...) tensors
with NO padding and NO masks beyond what the per-sentence path computes.
The emission order differs from the per-sentence path (grouped by length,
then batch-major), but every consumer is set-semantic (aggregations,
order-insensitive parity hashes) and `tests/test_kernel.py` pins exact
row-set equality between the two paths.

Only :class:`~dygiepp_spark.kernels.scorer.RuleScorer` (exactly — not
subclasses, whose overridden heads the batched twin would silently
ignore) takes this path; Replay/Coref scorers keep the per-sentence
kernel. :class:`~dygiepp_spark.kernels.transformer.NumpyTransformerScorer`
batches its forward pass over the same (B, n) same-length groups.
"""

from __future__ import annotations

import numpy as np

from dygiepp_spark.kernels import decode as D
from dygiepp_spark.kernels.scorer import NEG, POS, RuleScorer
from dygiepp_spark.tables import EVENT_ARG_MAX_DIST, RELATION_MAX_DIST


def _batched_topk(scores: np.ndarray, spans_per_word: float, n_tokens: int,
                  hard_cap: int | None = None, mode: str = "ceil") -> np.ndarray:
    """(B, k) ascending indices — batched twin of decode.topk_prune.
    Shapes are uniform because every sentence in the batch has the same
    n_tokens (and therefore the same k and item count)."""
    import math

    rounder = math.ceil if mode == "ceil" else math.floor
    k = max(int(rounder(spans_per_word * n_tokens)), 1)
    if hard_cap is not None:
        k = min(k, hard_cap)
    k = min(k, scores.shape[1])
    order = np.argsort(-scores, axis=1, kind="stable")
    return np.sort(order[:, :k], axis=1)


def _rule_masks_batch(scorer: RuleScorer, tok_mat: np.ndarray):
    """Batched twin of RuleScorer._masks over a (B, n) unicode matrix."""
    ent = np.isin(tok_mat, sorted(scorer._ents))
    trig = np.isin(tok_mat, sorted(scorer._trigs))
    lens = np.char.str_len(tok_mat).astype(np.int64)
    trig_sorted = sorted(scorer._trigs)
    if trig_sorted:
        lab_of = np.asarray(
            [scorer.trigger_labels.index("op_" + t) for t in trig_sorted],
            dtype=np.int64,
        )
        pos = np.searchsorted(trig_sorted, tok_mat)
        pos = np.clip(pos, 0, len(trig_sorted) - 1)
        tlab = np.where(trig, lab_of[pos], -1)
    else:
        tlab = np.full(tok_mat.shape, -1, dtype=np.int64)
    return ent, trig, lens, tlab


def decode_batch_rule(
    scorer: RuleScorer,
    conv_ids: list,
    turn_idxs: list,
    tokens_list: list[list[str]],
    max_span_width: int,
    out,
) -> None:
    """Decode B same-length sentences in one shot; append one column chunk
    per row type to the ``extract.RowSink`` ``out`` (the chunks
    extract._decode_sentence appends, for B sentences at once)."""
    # beam hyper-parameters live next to the per-sentence kernel; the
    # lazy import avoids the extract <-> batched module cycle
    from dygiepp_spark.kernels.extract import (
        ARG_CAP,
        ARG_SPANS_PER_WORD,
        RELATION_SPANS_PER_WORD,
        TRIGGER_CAP,
        TRIGGER_SPANS_PER_WORD,
    )

    B = len(tokens_list)
    n = len(tokens_list[0])
    if n == 0:
        return
    tok_mat = np.asarray(tokens_list)                      # (B, n) '<U*'
    ent, trig, lens, tlab = _rule_masks_batch(scorer, tok_mat)
    spans = D.enumerate_spans(n, max_span_width)           # (S, 2) shared
    S = spans.shape[0]
    starts, ends = spans[:, 0], spans[:, 1]
    width1 = starts == ends                                # (S,)
    m = width1[None, :] & ent[:, starts]                   # (B, S) mention mask

    cid = np.asarray(conv_ids, dtype=object)               # (B,)
    tix = np.asarray(turn_idxs, dtype=np.int64)

    # --- NER (argmax over [null, CONCEPT]); label CONCEPT iff mention
    bb, ss = np.nonzero(m)
    out.add(cid[bb], tix[bb], "mention", starts[ss], ends[ss], -1, -1,
            "CONCEPT", POS, _winner_softmax(2, 1))

    # --- relation beam over prune scores (B, S)
    prune = np.where(m, POS, NEG)
    kept_ix = _batched_topk(prune, RELATION_SPANS_PER_WORD, n)   # (B, k)
    kept_start = starts[kept_ix]                           # (B, k)
    kept_end = ends[kept_ix]
    km = np.take_along_axis(m, kept_ix, axis=1)            # (B, k)
    d = kept_start[:, None, :] - kept_start[:, :, None]    # (B, k, k)
    valid = (
        km[:, :, None] & km[:, None, :] & (d > 0) & (d <= RELATION_MAX_DIST)
    )
    L = len(scorer.relation_labels)
    lab = (
        lens[np.arange(B)[:, None], kept_start][:, :, None]
        + 2 * lens[np.arange(B)[:, None], kept_start][:, None, :]
    ) % L                                                  # (B, k, k)
    rb, ri, rj = np.nonzero(valid)
    li = lab[rb, ri, rj]
    rel_soft = np.asarray([_winner_softmax(L + 1, 1 + i) for i in range(L)])
    out.add(cid[rb], tix[rb], "relation",
            kept_start[rb, ri], kept_end[rb, ri],
            kept_start[rb, rj], kept_end[rb, rj],
            np.asarray(scorer.relation_labels, dtype=object)[li], POS, rel_soft[li])

    # --- triggers (argmax over [null | op_*])
    Lt = len(scorer.trigger_labels)
    t_soft = np.asarray([_winner_softmax(Lt + 1, 1 + i) for i in range(Lt)])
    tb, tt = np.nonzero(trig)
    tl = tlab[tb, tt]
    out.add(cid[tb], tix[tb], "trigger", tt, tt, -1, -1,
            np.asarray(scorer.trigger_labels, dtype=object)[tl], POS, t_soft[tl])

    # --- event argument decode, trigger-gated
    trig_prune = np.where(trig, POS, 0.0)                  # max over logits
    trig_beam = _batched_topk(
        trig_prune, TRIGGER_SPANS_PER_WORD, n, hard_cap=TRIGGER_CAP,
        mode="floor",
    )                                                      # (B, kt)
    arg_ix = _batched_topk(
        prune, ARG_SPANS_PER_WORD, n, hard_cap=ARG_CAP, mode="floor"
    )                                                      # (B, ka)
    a_start = starts[arg_ix]                               # (B, ka)
    a_end = ends[arg_ix]
    am = np.take_along_axis(m, arg_ix, axis=1)             # (B, ka)
    in_beam = np.zeros((B, n), dtype=bool)
    np.put_along_axis(in_beam, trig_beam, True, axis=1)
    elig = trig & in_beam                                  # (B, n)
    near = (
        np.abs(a_start[:, None, :] - np.arange(n)[None, :, None])
        <= EVENT_ARG_MAX_DIST
    )                                                      # (B, n, ka)
    valid_arg = elig[:, :, None] & near & am[:, None, :]   # (B, n, ka)
    role_soft = np.asarray([_winner_softmax(3, 1), _winner_softmax(3, 2)])
    ab, at, aa = np.nonzero(valid_arg)
    # role 1 ('arg1') iff the arg starts at or after the trigger
    role = (a_start[ab, aa] >= at).astype(np.int64)
    out.add(cid[ab], tix[ab], "argument", at, at,
            a_start[ab, aa], a_end[ab, aa],
            np.asarray(scorer.role_labels, dtype=object)[role], POS, role_soft[role])


_WS_CACHE: dict[tuple[int, int], float] = {}


def _winner_softmax(n_classes: int, winner_pos: int = 1) -> float:
    """softmax probability of a POS logit at ``winner_pos`` in a row of
    [0.0 null | NEG fillers] — BIT-identical to the per-sentence path's
    ``np.max(softmax(row))``, which is why the row is materialized with
    the winner at its true column: float summation order depends on the
    position, and the grouped-vs-streamed exceptAll tests compare raw
    doubles."""
    key = (n_classes, winner_pos)
    v = _WS_CACHE.get(key)
    if v is None:
        logits = np.full(n_classes, NEG)
        logits[0] = 0.0
        logits[winner_pos] = POS
        v = float(np.max(D.softmax(logits)))
        _WS_CACHE[key] = v
    return v
