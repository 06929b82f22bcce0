"""Property-based cross-check: emit_triples vs an independent pure-Python
model of the decode semantics (third implementation besides the Spark
DataFrame plan and the DuckDB oracle), over hypothesis-generated corpora.

The Python model mirrors predict.py's dict semantics directly; disagreement
on ANY generated corpus is a real bug in one of the three.
"""

from __future__ import annotations

import math

import pytest
import pyspark.sql.functions as F
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from dygiepp_spark import tables as TT
from dygiepp_spark.operators import extraction as EX
from dygiepp_spark.operators import graph as GR
from dygiepp_spark.operators import kg_eval as KE

VOCAB = TT.VOCAB
ENTS = set(TT.ENTITY_VOCAB)
LABELS = TT.RELATION_LABELS
MAX_DIST = TT.RELATION_MAX_DIST


def _positions(text: str) -> list[tuple[int, str]]:
    """(position, token) of the entity words, positions over the non-empty
    tokens of the single-space split."""
    toks = [t for t in text.split(" ") if t != ""]
    return [(i, t) for i, t in enumerate(toks) if t in ENTS]


def _n_tokens(text: str) -> int:
    return len([t for t in text.split(" ") if t != ""])


def _label(ta: str, tb: str) -> str:
    return LABELS[(len(ta) + 2 * len(tb)) % len(LABELS)]


def python_model_triples(convs: dict[str, list[str]]) -> dict:
    """Reference semantics in plain Python (predict.py:22-42 +
    template.libsonnet:99 beam)."""
    out: dict = {}
    for conv_id, turns in convs.items():
        for text in turns:
            beamed = _positions(text)[: max(1, math.ceil(0.5 * _n_tokens(text)))]
            for ai, (pa, ta) in enumerate(beamed):
                for pb, tb in beamed[ai + 1 :]:
                    d = pb - pa
                    if 0 < d <= MAX_DIST:
                        # dict overwrite: last (s1, s2) pair wins
                        out[(conv_id, text, ta, tb, _label(ta, tb))] = 1.0 / (1.0 + d)
    return out


def python_model_gold(convs: dict[str, list[str]], max_dist: int = 3) -> dict:
    """Gold semantics in plain Python: the same beam and band as
    :func:`python_model_triples`, keeping (label, conf) of the first pair
    in (turn_idx, s1, s2) order per (conv_id, arg0, arg1) —
    ``goldrels.drop_duplicates(["id","arg0","arg1"])``, eval_utils.py:755-756."""
    out: dict = {}
    for conv_id, turns in convs.items():
        for text in turns:
            beamed = _positions(text)[: max(1, math.ceil(0.5 * _n_tokens(text)))]
            for ai, (pa, ta) in enumerate(beamed):
                for pb, tb in beamed[ai + 1 :]:
                    d = pb - pa
                    if 0 < d <= max_dist:
                        out.setdefault((conv_id, ta, tb), (_label(ta, tb), 1.0 / (1.0 + d)))
    return out


def python_model_mentions(convs: dict[str, list[str]]) -> list[tuple]:
    """(conv_id, turn_idx, start, end, surface) of every entity word."""
    return sorted(
        (conv_id, ix, pos, pos, tok)
        for conv_id, turns in convs.items()
        for ix, text in enumerate(turns)
        for pos, tok in _positions(text)
    )


def python_model_edges(convs: dict[str, list[str]]) -> list[tuple]:
    """KG edge occurrences in plain Python: every ordered pair of entity
    words within ``MAX_DIST`` (no beam), both ends linked to the
    dictionary id, one row per pair."""
    ids = {w: f"E{ix:03d}" for ix, w in enumerate(TT.ENTITY_VOCAB)}
    out = []
    for conv_id, turns in convs.items():
        for ix, text in enumerate(turns):
            ments = _positions(text)
            for ai, (pa, ta) in enumerate(ments):
                for pb, tb in ments[ai + 1 :]:
                    d = pb - pa
                    if d <= MAX_DIST:
                        out.append((
                            ids[ta], _label(ta, tb), ids[tb], conv_id, ix,
                            1.0 / (1.0 + d), f"extract:{conv_id}:{ix}:{pa}:{pb}",
                        ))
    return sorted(out)


@st.composite
def text_strategy(draw):
    """A turn's text: vocab tokens joined by 1-3 spaces, with optional
    leading and trailing spaces."""
    toks = draw(st.lists(st.sampled_from(VOCAB), min_size=1, max_size=25))
    gaps = draw(st.lists(st.integers(1, 3), min_size=len(toks), max_size=len(toks)))
    lead, trail = draw(st.integers(0, 2)), draw(st.integers(0, 2))
    body = "".join(t + " " * g for t, g in zip(toks, gaps[:-1] + [0]))
    return " " * lead + body + " " * trail


corpus_strategy = st.dictionaries(
    keys=st.sampled_from([f"c{i}" for i in range(6)]),
    values=st.lists(text_strategy(), min_size=1, max_size=5),
    min_size=1,
    max_size=4,
)

#: two entity words that are within MAX_DIST of each other only when
#: positions count the non-empty tokens
SPACED = {"c0": ["  spark  hash   hash hash  hash hash  table row ", "window"]}


@pytest.fixture(scope="module")
def sess(spark):
    return spark


def _turns_frame(sess, corpus):
    rows = [
        (cid, ix, "user", text, None)
        for cid, turns in corpus.items()
        for ix, text in enumerate(turns)
    ]
    return sess.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=corpus_strategy)
@example(corpus=SPACED)
def test_emit_triples_matches_python_model(sess, corpus):
    turns = _turns_frame(sess, corpus)
    got = {
        (r["conv_id"], r["sent_text"], r["arg0"], r["arg1"], r["label"]): r["conf"]
        for r in EX.emit_triples(turns).collect()
    }
    want = python_model_triples(corpus)
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=corpus_strategy)
@example(corpus=SPACED)
def test_gold_triples_matches_python_model(sess, corpus):
    turns = _turns_frame(sess, corpus)
    got = {
        (r["conv_id"], r["arg0"], r["arg1"]): (r["label"], r["conf"])
        for r in KE.gold_triples(turns).collect()
    }
    assert got == python_model_gold(corpus)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=corpus_strategy)
@example(corpus=SPACED)
def test_detect_mentions_matches_python_model(sess, corpus):
    turns = _turns_frame(sess, corpus)
    got = sorted(tuple(r) for r in EX.detect_mentions(turns).collect())
    assert got == python_model_mentions(corpus)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=corpus_strategy)
@example(corpus=SPACED)
def test_build_edges_matches_python_model(sess, corpus):
    turns = _turns_frame(sess, corpus)
    edges = GR.build_edges(turns, TT.entity_dict(sess))
    assert sorted(tuple(r) for r in edges.collect()) == python_model_edges(corpus)


def python_model_set_eval(pred: list[tuple], gold: list[tuple]) -> dict:
    """The reference's set counting (``good_preds`` / ``found_from_gold``,
    eval_utils.py:753-863, folded by f1.py:6-17) in plain Python, over
    (conv_id, arg0, arg1, label) rows with SQL NULL semantics: a key with
    a None never matches. ``exact`` compares lower(strip) args; the counts
    are over the original keys."""

    def prf(tp, n_pred, tp_recall, n_gold):
        p = tp / n_pred if n_pred else 0.0
        r = tp_recall / n_gold if n_gold else 0.0
        return p, r, (2.0 * p * r / (p + r) if p + r > 0 else 0.0)

    def norm(s):
        return s.strip().lower()

    P, G = set(pred), set(gold)
    match = [
        (p, g) for p in P for g in G
        if None not in p + g and p[0] == g[0] and p[3] == g[3]
        and norm(p[1]) == norm(g[1]) and norm(p[2]) == norm(g[2])
    ]
    n_pred, n_gold = len({p[:3] for p in P}), len(G)
    tp, tp_recall = len({p[:3] for p, _ in match}), len({g[:3] for _, g in match})
    out = {"ie_eval": (n_pred, n_gold, tp, tp_recall, *prf(tp, n_pred, tp_recall, n_gold))}

    def key_prf(ps, gs):
        tp = len({k for k in ps & gs if None not in k})
        return (tp, len(ps) - tp, len(gs) - tp, *prf(tp, len(ps), tp, len(gs)))

    out["micro_prf"] = out["ie_eval_event"] = key_prf(P, G)
    ps = {(r[0], a) for r in P for a in r[1:3]}
    gs = {(r[0], a) for r in G for a in r[1:3]}
    tp, _, _, *rates = key_prf(ps, gs)
    out["ie_span_eval"] = (len(ps), len(gs), tp, *rates)
    return out


eval_row = st.tuples(
    st.sampled_from(["1", "2", None]),
    st.sampled_from(["a", " a", "A ", "b", "B", None]),
    st.sampled_from(["b", "b ", " B", "c", None]),
    st.sampled_from(["L", "M", None]),
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pred=st.lists(eval_row, max_size=8),
    gold=st.lists(eval_row, max_size=8),
)
# two pred pairs match one gold pair: tp 2, tp_recall 1
@example(pred=[("1", "a", "b", "L"), ("1", " A", "b", "L")], gold=[("1", "a", "B", "L")])
def test_set_eval_matches_python_model(sess, pred, gold):
    """ie_eval(exact), micro_prf, ie_eval_event and ie_span_eval against the
    pure-Python set model: empty sides, NULL key columns, duplicate rows
    and padded or mixed-case args."""
    schema = "conv_id string, arg0 string, arg1 string, label string"
    p = sess.createDataFrame(pred, schema).withColumn("conf", F.lit(0.5))
    g = sess.createDataFrame(gold, schema)

    def event(df):
        return df.withColumnRenamed("label", "event_type")

    got = {
        "ie_eval": KE.ie_eval(p, g, "exact"),
        "micro_prf": KE.micro_prf(p, g),
        "ie_eval_event": KE.ie_eval_event(event(p), event(g)),
        "ie_span_eval": KE.ie_span_eval(p, g),
    }
    want = python_model_set_eval(pred, gold)
    for name, df in got.items():
        assert tuple(df.collect()[0]) == want[name], name


# --------------------------------------------------------------------------
# round-2 property tests (pure-python kernels)
# --------------------------------------------------------------------------

@given(
    a=st.lists(st.sampled_from("abcde"), max_size=7),
    b=st.lists(st.sampled_from("abcde"), max_size=7),
)
@settings(max_examples=200, deadline=None)
def test_rouge_lcs_property(a, b):
    """_rouge_l_f_py's DP LCS equals the brute-force subsequence maximum,
    and the F formula is symmetric in its inputs only through P/R."""
    import itertools

    from dygiepp_spark.operators.kg_eval import _rouge_l_f_py

    def brute_lcs(x, y):
        best = 0
        for r in range(len(x), 0, -1):
            for sub in itertools.combinations(x, r):
                it = iter(y)
                if all(tok in it for tok in sub):
                    return r
        return best

    sa, sb = " ".join(a), " ".join(b)
    got = _rouge_l_f_py(sa, sb)
    if not a or not b:
        assert got == 0.0
        return
    llcs = brute_lcs(a, b)
    p, r = llcs / len(a), llcs / len(b)
    beta = p / (r + 1e-12)
    expect = ((1 + beta**2) * r * p) / ((r + beta**2 * p) + 1e-8)
    assert got == expect


@given(
    w=st.lists(
        st.lists(st.fractions(min_value=0, max_value=3), min_size=1, max_size=4),
        min_size=1,
        max_size=4,
    ).filter(lambda rows: len({len(r) for r in rows}) == 1)
)
@settings(max_examples=150, deadline=None)
def test_hungarian_optimality_property(w):
    """Exact Kuhn-Munkres total equals the brute-force permutation max."""
    import itertools
    from fractions import Fraction

    from dygiepp_spark.kernels.assignment import max_weight_assignment

    got = max_weight_assignment(w)
    got_total = sum((w[i][j] for i, j in got), Fraction(0))
    n_r, n_c = len(w), len(w[0])
    best = Fraction(0)
    for r_sel in range(min(n_r, n_c), -1, -1):
        for rows in itertools.combinations(range(n_r), r_sel):
            for perm in itertools.permutations(range(n_c), r_sel):
                t = sum((w[i][j] for i, j in zip(rows, perm)), Fraction(0))
                best = max(best, t)
    assert got_total == best
    # validity: one-to-one
    assert len({i for i, _ in got}) == len(got)
    assert len({j for _, j in got}) == len(got)
