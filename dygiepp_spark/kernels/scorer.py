"""Pluggable scoring backends for the extraction kernel.

The reference's "scorer" is a trained PyTorch model (BERT embeddings +
FFNN heads, /root/reference/dygie/models/dygie.py:196-271). We keep the
exact decode path (dygiepp_spark.kernels.decode) and make the scorer an
injected function with three implementations:

* :class:`RuleScorer` — deterministic planted-pattern logits; used by
  unit tests and the bench. Produces the same predictions as the
  relational extraction in dygiepp_spark.operators.extraction (asserted
  by tests/test_kernel.py).
* :class:`ReplayScorer` — replays scores from a DyGIE-format prediction
  (or gold) JSONL so the Spark decode path can be compared
  triple-for-triple against the reference's emitted set — the honest
  boundary for the P/R>=0.95 gate (SURVEY.md §7 "What's hard").
* :class:`~dygiepp_spark.kernels.transformer.NumpyTransformerScorer` —
  the transformer slot: a full forward pass in numpy with deterministic
  synthetic weights; a trained deployment loads its weights from
  SparkFiles and keeps the same Arrow plumbing.

Score conventions (match the reference):
* classification logits have the NULL CLASS PREPENDED at index 0 with
  logit 0.0 (ner.py:97-99: "dummy_scores" zero column).
* pruning scores are unary logits; masked items use -1e20
  (entity_beam_pruner.py:147).
"""

from __future__ import annotations

import numpy as np

from dygiepp_spark.kernels import decode as D
from dygiepp_spark.tables import (
    ENTITY_VOCAB,
    EVENT_ARG_MAX_DIST,
    RELATION_LABELS,
    RELATION_MAX_DIST,
    TRIGGER_VOCAB,
)

NEG = -20.0
POS = 10.0


def bucket_width(width: int, num_identity: int = 4, num_total: int = 10) -> int:
    """AllenNLP ``util.bucket_values``: identity buckets for values BELOW
    ``num_identity``, else ``floor(log2(v)) + (num_identity - 1)``, clamped
    to ``num_total`` buckets. (The reference model itself constructs its
    span-width embedding with ``bucket_widths=False`` — dygie.py:77-79 —
    i.e. raw widths; this helper exists for the bucketed variant of the
    extractor and follows the AllenNLP formula exactly.)"""
    import math

    if width < num_identity:
        ix = width
    else:
        ix = int(math.floor(math.log(width, 2))) + num_identity - 1
    return max(0, min(ix, num_total - 1))


def span_representation(
    token_vecs: np.ndarray, spans: np.ndarray, num_width_buckets: int = 10
) -> np.ndarray:
    """M2 span representation (dygie.py:74-89, :218:
    ``EndpointSpanExtractor`` with a width embedding): per span, the
    concatenation of

    * start-endpoint vector, end-endpoint vector (x,y of the extractor),
    * the span-interior mean (uniform-attention stand-in for the learned
      ``SelfAttentiveSpanExtractor`` head — swap in real attention weights
      with a trained model),
    * a one-hot width-bucket feature (the ``span_width_embedding`` slot).

    Runs inside the Arrow kernel on numpy arrays — this is the
    representation a transformer scorer feeds its FFNN heads; the
    rule/replay scorers bypass it because their logits are planted.
    Output: (S, 3*d + num_width_buckets) float64.

    Vectorized per span width: the interior sum adds the token vectors
    in textual order and then divides by the width — the operation order
    of ``token_vecs[s:e+1].mean(axis=0)``, so every double is identical
    to the per-span form (tests/test_kernel.py keeps that form as its
    reference).
    """
    S = spans.shape[0]
    d = token_vecs.shape[1] if token_vecs.ndim == 2 else 0
    out = np.zeros((S, 3 * d + num_width_buckets), dtype=np.float64)
    if S == 0:
        return out
    starts, ends = spans[:, 0], spans[:, 1]
    widths = ends - starts + 1
    out[:, :d] = token_vecs[starts]
    out[:, d: 2 * d] = token_vecs[ends]
    for w in np.unique(widths).tolist():
        rows = np.nonzero(widths == w)[0]
        s = starts[rows]
        acc = token_vecs[s]
        for off in range(1, w):
            acc += token_vecs[s + off]
        out[rows, 2 * d: 3 * d] = acc / w
    buckets = np.asarray(
        [bucket_width(w, num_total=num_width_buckets)
         for w in range(int(widths.max()) + 1)],
        dtype=np.int64,
    )
    out[np.arange(S), 3 * d + buckets[widths]] = 1.0
    return out


class Scorer:
    """Interface. ``spans`` is an (S, 2) int array; logits are numpy.

    ``ctx`` is the per-sentence dict the kernel builds: ``conv_id``,
    ``turn_idx``, ``tokens`` and ``spans`` — the sentence's
    ``enumerate_spans`` grid. Every span array a head receives is that
    grid or a subset of its rows (a beam)."""

    ner_labels: list[str]
    relation_labels: list[str]
    trigger_labels: list[str]
    role_labels: list[str]

    def span_prune_scores(self, ctx, spans: np.ndarray) -> np.ndarray:
        raise NotImplementedError

    def ner_logits(self, ctx, spans: np.ndarray) -> np.ndarray:
        raise NotImplementedError

    def rel_logits(self, ctx, kept_spans: np.ndarray) -> np.ndarray:
        raise NotImplementedError

    def trigger_logits(self, ctx, n_tokens: int) -> np.ndarray:
        raise NotImplementedError

    def trigger_prune_scores(self, ctx, n_tokens: int) -> np.ndarray:
        """Trigger beam scores. The reference's trigger pruner runs in
        entity-beam mode — score = max over class logits incl. the null
        column (entity_beam_pruner.py:116-118)."""
        return np.max(self.trigger_logits(ctx, n_tokens), axis=-1)

    def arg_logits(self, ctx, arg_spans: np.ndarray, n_tokens: int) -> np.ndarray:
        raise NotImplementedError

    def coref_antecedents(self, ctx, spans: np.ndarray):
        """M17 hook: antecedent candidates for coref propagation —
        ``(ante_ix, ante_scores)`` arrays of shape (S, A) with -1 padding
        (AdjacencyFieldAssym convention), or ``None`` when the scorer has
        no coref head (propagation is then a no-op, matching the
        reference's ``coref_prop: 0`` configuration)."""
        return None


class RuleScorer(Scorer):
    """Planted-pattern logits reproducing the relational rule extraction.

    All logit builders are fully vectorized (broadcast index math, no
    per-token/per-pair Python loops) and share ONE per-sentence mask
    computation cached in the ctx dict — the profile showed the repeated
    token-membership list comprehension at ~30% of kernel decode time and
    the nested rel/arg loops at another ~25% before this.
    """

    def __init__(self):
        self.ner_labels = ["CONCEPT"]
        self.relation_labels = list(RELATION_LABELS)
        self.trigger_labels = ["op_" + t for t in TRIGGER_VOCAB]
        self.role_labels = ["arg0", "arg1"]
        self._ents = set(ENTITY_VOCAB)
        self._trigs = set(TRIGGER_VOCAB)

    def _masks(self, ctx):
        """Per-sentence token masks, computed once per ctx: (entity mask,
        trigger mask, token lengths, trigger label index per token)."""
        m = ctx.get("_rule_masks")
        if m is None:
            tokens = ctx["tokens"]
            n = len(tokens)
            ent = np.fromiter((t in self._ents for t in tokens), bool, n)
            trig = np.fromiter((t in self._trigs for t in tokens), bool, n)
            lens = np.fromiter((len(t) for t in tokens), np.int64, n)
            tlab = np.fromiter(
                (
                    self.trigger_labels.index("op_" + t) if t in self._trigs else -1
                    for t in tokens
                ),
                np.int64,
                n,
            )
            ctx["_rule_masks"] = m = (ent, trig, lens, tlab)
        return m

    def _is_mention(self, ctx, spans):
        ent, _, _, _ = self._masks(ctx)
        if spans.shape[0] == 0:
            return np.zeros(0, dtype=bool)
        return (spans[:, 0] == spans[:, 1]) & ent[spans[:, 0]]

    def span_prune_scores(self, ctx, spans):
        m = self._is_mention(ctx, spans)
        return np.where(m, POS, NEG)

    def ner_logits(self, ctx, spans):
        m = self._is_mention(ctx, spans)
        out = np.zeros((spans.shape[0], 2))
        out[:, 1] = np.where(m, POS, NEG)
        return out

    def rel_logits(self, ctx, kept):
        _, _, lens, _ = self._masks(ctx)
        k = kept.shape[0]
        L = len(self.relation_labels)
        out = np.zeros((k, k, L + 1))
        out[:, :, 1:] = NEG
        if k == 0:
            return out
        m = self._is_mention(ctx, kept)
        starts = kept[:, 0]
        d = starts[None, :] - starts[:, None]      # d[i, j] = s_j - s_i
        valid = m[:, None] & m[None, :] & (d > 0) & (d <= RELATION_MAX_DIST)
        ii, jj = np.nonzero(valid)
        if ii.size:
            lab = (lens[starts[ii]] + 2 * lens[starts[jj]]) % L
            out[ii, jj, 1 + lab] = POS
        return out

    def trigger_logits(self, ctx, n_tokens):
        _, trig, _, tlab = self._masks(ctx)
        L = len(self.trigger_labels)
        out = np.zeros((n_tokens, L + 1))
        out[:, 1:] = NEG
        ix = np.nonzero(trig)[0]
        if ix.size:
            out[ix, 1 + tlab[ix]] = POS
        return out

    def arg_logits(self, ctx, arg_spans, n_tokens):
        _, trig, _, _ = self._masks(ctx)
        A = arg_spans.shape[0]
        out = np.zeros((n_tokens, A, 3))
        out[:, :, 1:] = NEG
        t_ix = np.nonzero(trig)[0]
        if A == 0 or t_ix.size == 0:
            return out
        m = self._is_mention(ctx, arg_spans)
        s = arg_spans[:, 0]
        near = np.abs(s[None, :] - t_ix[:, None]) <= EVENT_ARG_MAX_DIST
        valid = near & m[None, :]                  # (T, A)
        tt, aa = np.nonzero(valid)
        if tt.size:
            # role 0 ('arg0') iff the arg precedes the trigger
            role = (s[aa] >= t_ix[tt]).astype(np.int64)
            out[t_ix[tt], aa, 1 + role] = POS
        return out


class CorefRuleScorer(RuleScorer):
    """RuleScorer variant exercising M17 coref propagation end-to-end
    (dygie.py:227-235 feeds ``coref_propagation`` output into the
    downstream span consumers; coref.py:111-154).

    Differences from :class:`RuleScorer`, chosen so every float the decode
    compares is EXACTLY representable (sums/halves of small integers) and
    the DuckDB oracle can reproduce the beam bit-for-bit:

    * span-prune head is GRADED: mention spans score ``100 - start``
      (earlier mentions rank higher) instead of a constant, so propagation
      observably re-ranks the relation beam;
    * coref head: each mention span's single antecedent candidate is its
      NEAREST PREVIOUS same-surface mention in the sentence (the argmax
      convention of ``decode_antecedents`` — one antecedent per span),
      pair score 1.0.

    With gate 0.5 and one round, a repeated mention's score becomes
    ``100 - (s + p)/2`` — between its antecedent's and its own — which can
    overtake mentions positioned after the midpoint (tests pin a fixture
    where the beam changes).
    """

    def coref_antecedents(self, ctx, spans):
        tokens = ctx["tokens"]
        m = self._is_mention(ctx, spans)
        S = spans.shape[0]
        ix = np.full((S, 1), -1, dtype=np.int64)
        last_seen: dict = {}
        for i in range(S):
            if not m[i]:
                continue
            t = tokens[spans[i, 0]]
            if t in last_seen:
                ix[i, 0] = last_seen[t]
            last_seen[t] = i
        return ix, np.where(ix >= 0, 1.0, 0.0)

    def span_prune_scores(self, ctx, spans):
        m = self._is_mention(ctx, spans)
        return np.where(m, 100.0 - spans[:, 0], NEG)


class ReplayScorer(Scorer):
    """Replay reference predictions (or gold annotations) as logits.

    ``predictions``: {(conv_id, turn_idx): {"ner": [(s,e,label[,raw,soft])...],
    "relations": [(s1,e1,s2,e2,label[,raw,soft])...],
    "events": [...]}} with SENTENCE-RELATIVE offsets. Label vocabularies
    are built from the prediction set (dynamic vocab, dygie.py:139-158),
    sorted for determinism; null label keeps index 0 (ner.py:49-51).

    Logit construction: predicted label gets ``log(p)`` and the other
    labels share ``log1p(-p)`` mass, so decode's softmax returns ~p for
    the winner — emitted (span, label) sets match the source EXACTLY and
    confidences match to float precision.
    """

    def __init__(self, predictions: dict):
        self.pred = predictions
        ner, rel, trig, role = set(), set(), set(), set()
        for v in predictions.values():
            for r in v.get("ner", []):
                ner.add(r[2])
            for r in v.get("relations", []):
                rel.add(r[4])
            for ev in v.get("events", []):
                trig.add(ev["event_type"])
                for a in ev.get("args", []):
                    role.add(a[2])
        self.ner_labels = sorted(ner) or ["ENT"]
        self.relation_labels = sorted(rel) or ["REL"]
        self.trigger_labels = sorted(trig) or ["EVT"]
        self.role_labels = sorted(role) or ["ARG"]

    @staticmethod
    def _logits(n_rows_shape, labels, hits):
        """hits: {row_key: (label_index, prob)}; row_key indexes axis 0
        (or a tuple for 2-d). Returns logits with null col 0 = 0.0."""
        L = len(labels)
        out = np.zeros(n_rows_shape + (L + 1,))
        out[..., 1:] = NEG
        for key, (li, p) in hits.items():
            p = min(max(p, 1e-6), 1 - 1e-9)
            out[key][0] = np.log1p(-p) if p < 1 else NEG
            out[key][1:] = np.log((1 - p) / max(L - 1, 1)) if L > 1 else NEG
            out[key][1 + li] = np.log(p)
        return out

    def _sent(self, ctx):
        return self.pred.get((ctx["conv_id"], ctx["turn_idx"]), {})

    def span_prune_scores(self, ctx, spans):
        sent = self._sent(ctx)
        keep = (
            {(r[0], r[1]) for r in sent.get("ner", [])}
            | {(r[0], r[1]) for r in sent.get("relations", [])}
            | {(r[2], r[3]) for r in sent.get("relations", [])}
            | {
                (a[0], a[1])
                for ev in sent.get("events", [])
                for a in ev.get("args", [])
            }
        )
        return np.asarray(
            [POS if (int(s), int(e)) in keep else NEG for s, e in spans]
        )

    def ner_logits(self, ctx, spans):
        hits = {}
        idx = {(int(s), int(e)): i for i, (s, e) in enumerate(spans)}
        for r in self._sent(ctx).get("ner", []):
            key = (r[0], r[1])
            if key in idx:
                p = r[4] if len(r) > 4 else 0.99
                hits[idx[key]] = (self.ner_labels.index(r[2]), p)
        return self._logits((spans.shape[0],), self.ner_labels, hits)

    def rel_logits(self, ctx, kept):
        idx = {(int(s), int(e)): i for i, (s, e) in enumerate(kept)}
        hits = {}
        for r in self._sent(ctx).get("relations", []):
            k1, k2 = (r[0], r[1]), (r[2], r[3])
            if k1 in idx and k2 in idx:
                p = r[6] if len(r) > 6 else 0.99
                hits[(idx[k1], idx[k2])] = (self.relation_labels.index(r[4]), p)
        return self._logits((kept.shape[0], kept.shape[0]), self.relation_labels, hits)

    def trigger_logits(self, ctx, n_tokens):
        hits = {}
        for ev in self._sent(ctx).get("events", []):
            hits[ev["trigger_ix"]] = (
                self.trigger_labels.index(ev["event_type"]),
                ev.get("prob", 0.99),
            )
        return self._logits((n_tokens,), self.trigger_labels, hits)

    def trigger_prune_scores(self, ctx, n_tokens):
        # replay hits must out-rank the zero null scores of non-hits
        # (the log-prob logits of hits are slightly negative, so the
        # entity-beam default would invert the beam)
        hit = {ev["trigger_ix"] for ev in self._sent(ctx).get("events", [])}
        return np.asarray([POS if i in hit else NEG for i in range(n_tokens)])

    def arg_logits(self, ctx, arg_spans, n_tokens):
        idx = {(int(s), int(e)): i for i, (s, e) in enumerate(arg_spans)}
        hits = {}
        for ev in self._sent(ctx).get("events", []):
            for (s, e, role) in ev.get("args", []):
                if (s, e) in idx:
                    hits[(ev["trigger_ix"], idx[(s, e)])] = (
                        self.role_labels.index(role),
                        0.99,
                    )
        return self._logits((n_tokens, arg_spans.shape[0]), self.role_labels, hits)

