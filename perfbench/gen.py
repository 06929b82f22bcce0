"""Seeded input generator for the benchmark workloads.

numpy + pyarrow in one process, no Spark: program changes cannot move the
inputs or the time it takes to make them. Only the vocabulary constants
come from ``dygiepp_spark.tables``, so the generated text exercises the
same entity / trigger surfaces the extraction rules look for.

Every generator takes the workload seed and returns Arrow tables; the same
seed gives byte-identical tables, which ``digest`` fingerprints.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dygiepp_spark.tables import ENTITY_VOCAB, TURN_TOKENS, VOCAB

# Turns per conversation follow FIXTURES.md section 7, which gives 2-20 at
# smoke scale, 2-200 at correctness scale and 2-2,000 with a Zipf tail at
# bench scale. Conversation counts are scaled down from that table to fit
# one run into the benchmark's time budget.

#: kg_batch documents table. Lengths: the correctness-scale range with the
#: bench scale's Zipf tail. The exponent and the three shares have no
#: source; each share is large enough that its curation stage does work.
DOCS = dict(
    n_docs=520,
    turns=(2, 200),      # FIXTURES.md section 7, correctness scale
    zipf_a=1.8,          # mean ~6 turns, a few conversations of 100+
    dup_share=0.08,      # exact (or case-folded) copies of earlier docs
    pii_share=0.12,      # docs carrying an email / phone / long number
    bad_share=0.06,      # docs composite_filter must drop
    n_files=8,
)

#: extract_transformer turns table: smoke-scale turns per conversation;
#: turn lengths of 1-40 tokens cover the fixture sentences' 14-36
#: (FIXTURES.md section 2) and the short turns of a chat.
TURNS = dict(n_convs=20, turns_per_conv=(2, 20), tokens=(1, 40), n_files=8)

#: stream_ingest drop files: one whole conversation per file, the turn
#: counts spread evenly over the smoke-scale 2-20
STREAM = dict(turns_per_conv=(2, 20), n_files=100)

_STOP = ["the", "a"]
_PLAIN = [w for w in VOCAB if w not in ENTITY_VOCAB]
_FILLER_ROOTS = [w for w in _PLAIN if w not in _STOP and w != "dup"]
_LANGS = ["en", "es", "de", "fr", "zh"]


def digest(*tables: pa.Table) -> str:
    """Digest of the tables' Arrow buffers: equal tables, equal digests."""
    h = hashlib.sha256()
    for t in tables:
        for batch in t.to_batches():
            for col in batch.columns:
                for buf in col.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()[:16]


def _tokens(rng: np.random.Generator, n: int) -> list[str]:
    """n tokens: ~18% entity surfaces, ~27% plain vocabulary (triggers,
    stopwords), ~55% near-unique filler (``<word><k>``) so long documents
    keep a distinct-token share the repetition filter accepts. Every
    TURN_TOKENS-th token is a stopword, so each turn carries one."""
    kind = rng.random(n)
    ent = rng.integers(0, len(ENTITY_VOCAB), n)
    plain = rng.integers(0, len(_PLAIN), n)
    root = rng.integers(0, len(_FILLER_ROOTS), n)
    suffix = rng.integers(0, 100_000, n)
    stop = rng.integers(0, 2, n)
    out = []
    for i in range(n):
        if i % TURN_TOKENS == 0:
            out.append(_STOP[stop[i]])
        elif kind[i] < 0.18:
            out.append(ENTITY_VOCAB[ent[i]])
        elif kind[i] < 0.45:
            out.append(_PLAIN[plain[i]])
        else:
            out.append(f"{_FILLER_ROOTS[root[i]]}{suffix[i]}")
    return out


def _pii(rng: np.random.Generator, doc_id: int) -> list[str]:
    kind = int(rng.integers(0, 3))
    if kind == 0:
        return [f"user{doc_id}@example.com"]
    if kind == 1:
        return ["+1", f"555-{int(rng.integers(0, 10_000)):04d}"]
    return [str(int(rng.integers(10**9, 10**12)))]


def zipf_profile(n: int, a: float, lo: int, hi: int) -> np.ndarray:
    """n lengths in [lo, hi] at evenly spaced quantiles of a Zipf(a) over
    ranks 1..hi-lo+1, shifted to start at lo: every seed gets the same
    multiset of lengths (so the same amount of work), only their
    assignment to ids differs."""
    k = np.arange(1, hi - lo + 2, dtype=np.float64)
    cdf = np.cumsum(k ** -a)
    cdf /= cdf[-1]
    return np.searchsorted(cdf, (np.arange(n) + 0.5) / n) + lo


def _exact_classes(rng: np.random.Generator, n: int, shares: dict) -> np.ndarray:
    """A class label per id with exactly round(share * n) of each class
    (label 0 = plain), assigned to ids by the seed."""
    labels = np.zeros(n, dtype=np.int8)
    at = 0
    for label, share in enumerate(shares.values(), start=1):
        k = int(round(share * n))
        labels[at : at + k] = label
        at += k
    return rng.permutation(labels)


def documents(seed: int, p: dict = DOCS) -> pa.Table:
    """The kg_batch ``documents`` table (doc_id, text, lang, source,
    n_chars)."""
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    n = p["n_docs"]
    cls = _exact_classes(
        rng, n, {"dup": p["dup_share"], "bad": p["bad_share"], "pii": p["pii_share"]}
    )
    if cls[0] != 0:  # doc 0 has nothing earlier to copy
        j = int(np.flatnonzero(cls == 0)[0])
        cls[0], cls[j] = cls[j], cls[0]
    # the length profile goes to the documents curation keeps, so every
    # seed sends the same number of turns into extraction
    kept = np.flatnonzero((cls == 0) | (cls == 3))
    n_turns = np.zeros(n, dtype=np.int64)
    n_turns[kept] = rng.permutation(zipf_profile(len(kept), p["zipf_a"], *p["turns"]))
    texts: list[str] = []
    for i in range(n):
        if cls[i] == 1:  # copy of an earlier kept doc, half of them upper-cased
            src = texts[int(kept[rng.integers(0, np.searchsorted(kept, i))])]
            texts.append(src.upper() if rng.random() < 0.5 else src)
        elif cls[i] == 2 and i % 2 == 0:  # too short for the filter
            texts.append(" ".join(_tokens(rng, int(rng.integers(8, 19)))))
        elif cls[i] == 2:  # repetitive: fails the duplicate-token rule
            texts.append(" ".join(["the"] + ["dup"] * int(rng.integers(30, 90))))
        else:
            toks = _tokens(rng, int(n_turns[i]) * TURN_TOKENS)
            if cls[i] == 3:
                at = int(rng.integers(1, len(toks)))
                toks[at:at] = _pii(rng, i)
            texts.append(" ".join(toks))
    tbl = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[int(x)] for x in rng.integers(0, len(_LANGS), n)],
            "source": [f"src{int(x)}" for x in rng.integers(0, 8, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return tbl


def _turn_rows(rng, conv_ids, turns_per_conv, tokens_per_turn) -> pa.Table:
    """Turn rows for ``conv_ids``: conversation i gets ``turns_per_conv[i]``
    turns, and the turns take their token counts from ``tokens_per_turn``
    in order."""
    cids, tix, roles, texts = [], [], [], []
    lengths = iter(tokens_per_turn)
    for cid, n in zip(conv_ids, turns_per_conv):
        for t in range(int(n)):
            cids.append(cid)
            tix.append(t)
            roles.append("user" if t % 2 == 0 else "assistant")
            texts.append(" ".join(_tokens(rng, int(next(lengths)))))
    return pa.table(
        {
            "conv_id": pa.array(cids, pa.string()),
            "turn_idx": pa.array(tix, pa.int32()),
            "role": pa.array(roles, pa.string()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.nulls(len(cids), pa.string()),
        }
    )


def turns(seed: int, p: dict = TURNS) -> pa.Table:
    """The extract_transformer turns table. Turns per conversation are
    spread evenly over ``p['turns_per_conv']`` and turn lengths evenly over
    ``p['tokens']``, so the kernel's same-length groups vary in size; the
    seed only permutes them, so every seed has the same shape."""
    rng = np.random.Generator(np.random.PCG64([seed, 2]))
    lo, hi = p["turns_per_conv"]
    per_conv = rng.permutation(np.linspace(lo, hi, p["n_convs"]).round().astype(int))
    lengths = rng.permutation(np.resize(np.arange(p["tokens"][0], p["tokens"][1] + 1), per_conv.sum()))
    return _turn_rows(rng, [f"c{i}" for i in range(p["n_convs"])], per_conv, lengths)


def stream_files(seed: int, p: dict = STREAM) -> list[pa.Table]:
    """Conversation-partitioned drop files: file k holds the whole
    conversation ``f{k}``. Turn counts are spread evenly over
    ``p['turns_per_conv']`` and the seed permutes them over the files; each
    turn is TURN_TOKENS tokens long."""
    rng = np.random.Generator(np.random.PCG64([seed, 3]))
    lo, hi = p["turns_per_conv"]
    per_file = rng.permutation(np.linspace(lo, hi, p["n_files"]).round().astype(int))
    return [
        _turn_rows(rng, [f"f{k}"], [n], [TURN_TOKENS] * int(n))
        for k, n in enumerate(per_file)
    ]


def write_split(tbl: pa.Table, path: str, n_files: int) -> None:
    """Write ``tbl`` as a parquet directory of ``n_files`` contiguous
    slices, so the scan parallelism does not depend on one file's splits."""
    os.makedirs(path, exist_ok=True)
    step = -(-tbl.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(
            tbl.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet")
        )
