"""Numpy transformer scorer: determinism, batching equivalence, and the
end-to-end Spark kernel path."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from dygiepp_spark.kernels import extract as KX
from dygiepp_spark.kernels.transformer import (
    D_MODEL,
    NumpyTransformerScorer,
)

TOKS = "the scan reads value rows from table fast and the merge sorts".split()


def test_weights_and_forward_deterministic_across_instances():
    a, b = NumpyTransformerScorer(), NumpyTransformerScorer()
    for k in a._w:
        assert np.array_equal(a._w[k], b._w[k]), k
    va, vb = a.forward_batch([TOKS]), b.forward_batch([TOKS])
    assert np.array_equal(va, vb)
    assert va.shape == (1, len(TOKS), D_MODEL)


def test_forward_batch_slices_match_single_sentence():
    sc = NumpyTransformerScorer()
    other = list(reversed(TOKS))
    batch = sc.forward_batch([TOKS, other])
    assert np.array_equal(batch[0], sc.forward_batch([TOKS])[0])
    assert np.array_equal(batch[1], sc.forward_batch([other])[0])


def test_contextual_not_bag_of_words():
    """Same token in different positions/context must get different
    vectors — the point of the attention layer."""
    sc = NumpyTransformerScorer()
    v = sc.forward_batch([TOKS])[0]
    # 'the' appears at positions 0 and 9
    assert TOKS[0] == TOKS[9] == "the"
    assert not np.allclose(v[0], v[9])


def test_decode_emits_all_row_types_on_a_corpus_sample():
    import random

    random.seed(7)
    vocab = ("the a scan reads value rows from table fast spark merge "
             "key hash sort window part batch line").split()
    sc = NumpyTransformerScorer()
    rows = KX.RowSink()
    for i in range(40):
        toks = random.choices(vocab, k=random.randint(5, 30))
        KX._decode_sentence(sc, f"c{i}", 0, toks, 8, rows)
    types = set(rows.frame()["row_type"])
    assert types == {"mention", "relation", "trigger", "argument"}


def test_decode_forward_batched_equals_per_sentence_lengths_1_to_40():
    """Without Spark: random-vocab sentences of every length 1..40, several
    per length, decode to the same row multiset — raw doubles included —
    through the forward-batched form and the per-sentence form."""
    from collections import Counter

    import pandas as pd

    rng = np.random.default_rng(11)
    vocab = np.array(("the a scan reads value rows from table fast spark "
                      "merge key hash sort window part batch line").split())
    turns = [
        (f"c{n}", k, " ".join(rng.choice(vocab, size=n)))
        for n in range(1, 41)
        for k in range(3)
    ]
    pdf = pd.DataFrame(turns, columns=["conv_id", "turn_idx", "text"])
    sc = NumpyTransformerScorer()
    batched = KX.decode_rows(pdf, sc, batched=True)
    single = KX.decode_rows(pdf, sc, batched=False)
    assert list(batched.columns) == list(single.columns)
    assert len(batched) > 0 and set(batched["row_type"]) == {
        "mention", "relation", "trigger", "argument"
    }
    assert batched["turn_idx"].max() == 2 and batched["s1"].max() > 30

    def rows(df):
        return Counter(df.itertuples(index=False, name=None))

    assert rows(batched) == rows(single)


def test_spark_kernel_batched_equals_per_sentence(spark, sf_dir):
    from dygiepp_spark import tables as TT

    turns = TT.turns_from_documents(spark, sf_dir, with_ts=False).filter(
        F.col("conv_id").cast("bigint") < 40
    )
    sc = NumpyTransformerScorer()
    batched = KX.extract(turns, sc, batched=True)
    single = KX.extract(turns, sc, batched=False)
    assert batched.exceptAll(single).count() == 0
    assert single.exceptAll(batched).count() == 0
    assert batched.count() > 0


def test_spark_transformer_triples_deterministic(spark, sf_dir):
    from dygiepp_spark import tables as TT

    turns = TT.turns_from_documents(spark, sf_dir, with_ts=False).filter(
        F.col("conv_id").cast("bigint") < 40
    )
    t1 = KX.kernel_triples(
        KX.extract(turns, NumpyTransformerScorer()), turns
    )
    t2 = KX.kernel_triples(
        KX.extract(turns, NumpyTransformerScorer()), turns
    )
    assert t1.exceptAll(t2).count() == 0 and t2.exceptAll(t1).count() == 0
    cols = set(t1.columns)
    assert {"conv_id", "sent_text", "arg0", "arg1", "label", "conf"} <= cols
