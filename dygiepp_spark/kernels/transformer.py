"""A real (numpy) transformer scorer for the extraction kernel.

The reference's scoring backbone is a pretrained transformer + FFNN heads
(dygie/models/dygie.py:196-271: BERT embeddings -> span extractor ->
per-task heads). torch/transformers are not a dependency here, and the
INFERENCE MATH itself needs no framework: this module implements the
full forward pass in numpy with deterministic, seed-derived weights:

* hash-derived token embeddings + sinusoidal position encodings,
* one pre-LN self-attention block (single head) with residuals,
* one GELU-free (ReLU) feed-forward block with residual,
* span representations via :func:`kernels.scorer.span_representation`
  (M2: endpoints + interior mean + width bucket),
* factored-bilinear heads for span pruning / NER / relations / triggers /
  arguments, all following the reference's logit conventions (null class
  prepended at index 0 with logit 0.0).

The weights are synthetic (PCG64 streams keyed by layer name), NOT
trained — predictions are structurally valid but semantically arbitrary,
which is exactly what the plumbing gate needs: the decode path, beam
math, batching and Arrow flow are all exercised with transformer-shaped
tensors. A production deployment replaces ``_weight`` with checkpoint
loading from SparkFiles and keeps EVERYTHING else.

Batching: the expensive part of the forward — (n, d) @ (d, d) matmuls —
runs rectangularly over same-length sentence groups as (B, n, d) tensors
(``forward_batch``), the batch layout ``kernels.batched`` established for
the rule path. Each sentence then decodes its slice of the batch result:
the span representation of its whole ``enumerate_spans`` grid is built
once (vectorized, no per-span Python), the prune / NER heads read it
whole and the relation / argument beams gather their rows. One Arrow
batch therefore costs a handful of large matmuls instead of thousands of
small ones.
"""

from __future__ import annotations

import hashlib

import numpy as np

from dygiepp_spark.kernels.scorer import Scorer, span_representation
from dygiepp_spark.tables import RELATION_LABELS, TRIGGER_VOCAB

D_MODEL = 32
D_FF = 64
#: span_representation width: 3*d + 10 width buckets
D_SPAN = 3 * D_MODEL + 10


def _seed(name: str) -> int:
    return int.from_bytes(hashlib.md5(name.encode()).digest()[:8], "big")


def _layernorm(x: np.ndarray, eps: float = 1e-5) -> np.ndarray:
    mu = x.mean(axis=-1, keepdims=True)
    var = x.var(axis=-1, keepdims=True)
    return (x - mu) / np.sqrt(var + eps)


def _softmax(x: np.ndarray) -> np.ndarray:
    m = x.max(axis=-1, keepdims=True)
    e = np.exp(x - m)
    return e / e.sum(axis=-1, keepdims=True)


class NumpyTransformerScorer(Scorer):
    """Deterministic numpy transformer forward + task heads.

    ``seed`` keys every weight stream, so two instances with the same
    seed are bit-identical — on a cluster the scorer pickles into the UDF
    closure and every executor regenerates the same weights (a real
    checkpoint ships via ``--files`` + SparkFiles instead).
    """

    def __init__(self, seed: str = "kg-transformer-v1"):
        self.ner_labels = ["CONCEPT"]
        self.relation_labels = list(RELATION_LABELS)
        self.trigger_labels = ["op_" + t for t in TRIGGER_VOCAB]
        self.role_labels = ["arg0", "arg1"]
        self.seed = seed
        self._w: dict[str, np.ndarray] = {}
        self._emb_cache: dict[str, np.ndarray] = {}
        d, f, s = D_MODEL, D_FF, D_SPAN
        L, T = len(self.relation_labels), len(self.trigger_labels)
        for name, shape in [
            ("wq", (d, d)), ("wk", (d, d)), ("wv", (d, d)), ("wo", (d, d)),
            ("ff1", (d, f)), ("ff2", (f, d)),
            ("prune", (s,)),
            ("ner", (s, 1)),
            ("rel_a", (s, L)), ("rel_b", (s, L)),
            ("rel_u", (s, L)), ("rel_v", (s, L)),
            ("trig", (d, T)),
            ("arg_t", (d, 2)), ("arg_s", (s, 2)),
            ("arg_u", (d, 2)), ("arg_v", (s, 2)),
        ]:
            rng = np.random.Generator(
                np.random.PCG64(_seed(f"{seed}:{name}"))
            )
            self._w[name] = rng.normal(0.0, 1.0 / np.sqrt(shape[0]), shape)

    # ---------------------------------------------------------------- embed

    def _embed_token(self, tok: str) -> np.ndarray:
        v = self._emb_cache.get(tok)
        if v is None:
            raw = (
                hashlib.md5(f"e1:{tok}".encode()).digest()
                + hashlib.md5(f"e2:{tok}".encode()).digest()
            )
            v = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) / 255.0
                 - 0.5)
            self._emb_cache[tok] = v
        return v

    @staticmethod
    def _positions(n: int, d: int = D_MODEL) -> np.ndarray:
        pos = np.arange(n, dtype=np.float64)[:, None]
        dim = np.arange(d // 2, dtype=np.float64)[None, :]
        angle = pos / np.power(10000.0, 2.0 * dim / d)
        out = np.empty((n, d), dtype=np.float64)
        out[:, 0::2] = np.sin(angle)
        out[:, 1::2] = np.cos(angle)
        return out

    # -------------------------------------------------------------- forward

    def forward_batch(self, tokens_list: list[list[str]]) -> np.ndarray:
        """(B, n, d) contextual vectors for B SAME-LENGTH sentences — one
        rectangular matmul stack for the whole group."""
        n = len(tokens_list[0])
        x = np.stack(
            [
                np.stack([self._embed_token(t) for t in toks])
                for toks in tokens_list
            ]
        )  # (B, n, d)
        x = x + self._positions(n)[None, :, :]
        w = self._w
        h = _layernorm(x)
        q, k, v = h @ w["wq"], h @ w["wk"], h @ w["wv"]
        att = _softmax(q @ np.swapaxes(k, -1, -2) / np.sqrt(D_MODEL))
        x = x + (att @ v) @ w["wo"]
        h = _layernorm(x)
        x = x + np.maximum(h @ w["ff1"], 0.0) @ w["ff2"]
        return _layernorm(x)

    def _vecs(self, ctx) -> np.ndarray:
        """Per-sentence contextual vectors; reuses the batch-precomputed
        slice when the kernel ran :func:`forward_batch` for this group."""
        v = ctx.get("_tok_vecs")
        if v is None:
            ctx["_tok_vecs"] = v = self.forward_batch([ctx["tokens"]])[0]
        return v

    def _span_reps(self, ctx, spans: np.ndarray) -> np.ndarray:
        """Representations of ``spans``, rows of the sentence's span grid
        ``ctx["spans"]``: the grid is represented once per sentence and
        the relation / argument beams are served by row gather."""
        grid = ctx["spans"]
        g = ctx.get("_grid_reps")
        if g is None:
            n = len(ctx["tokens"])
            row = np.full((n, n), -1, dtype=np.int64)
            row[grid[:, 0], grid[:, 1]] = np.arange(grid.shape[0])
            ctx["_grid_reps"] = g = (row, span_representation(self._vecs(ctx), grid))
        row, reps = g
        if spans is grid:
            return reps
        return reps[row[spans[:, 0], spans[:, 1]]]

    # ---------------------------------------------------------------- heads

    def span_prune_scores(self, ctx, spans):
        if spans.shape[0] == 0:
            return np.zeros(0)
        return self._span_reps(ctx, spans) @ self._w["prune"]

    def ner_logits(self, ctx, spans):
        S = spans.shape[0]
        out = np.zeros((S, 2))
        if S:
            out[:, 1:] = self._span_reps(ctx, spans) @ self._w["ner"]
        return out

    def rel_logits(self, ctx, kept):
        k = kept.shape[0]
        L = len(self.relation_labels)
        out = np.zeros((k, k, L + 1))
        if k == 0:
            return out
        r = self._span_reps(ctx, kept)
        a, b = r @ self._w["rel_a"], r @ self._w["rel_b"]      # (k, L)
        p, q = r @ self._w["rel_u"], r @ self._w["rel_v"]      # (k, L)
        out[:, :, 1:] = (
            a[:, None, :] + b[None, :, :] + p[:, None, :] * q[None, :, :]
        )
        return out

    def trigger_logits(self, ctx, n_tokens):
        T = len(self.trigger_labels)
        out = np.zeros((n_tokens, T + 1))
        out[:, 1:] = self._vecs(ctx) @ self._w["trig"]
        return out

    def arg_logits(self, ctx, arg_spans, n_tokens):
        A = arg_spans.shape[0]
        out = np.zeros((n_tokens, A, 3))
        if A == 0:
            return out
        t = self._vecs(ctx)                                     # (n, d)
        r = self._span_reps(ctx, arg_spans)                     # (A, s)
        lin = (t @ self._w["arg_t"])[:, None, :] + (r @ self._w["arg_s"])[None, :, :]
        bil = (t @ self._w["arg_u"])[:, None, :] * (r @ self._w["arg_v"])[None, :, :]
        out[:, :, 1:] = lin + bil
        return out
