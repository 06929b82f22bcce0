"""Kernel-path tests: numpy decode semantics, kernel==relational parity,
and the fixture replay gate (reference triples reproduced at P/R = 1.0)."""

from __future__ import annotations

import json

import numpy as np
import pytest
import pyspark.sql.functions as F

from dygiepp_spark import tables as TT
from dygiepp_spark.kernels import decode as D
from dygiepp_spark.kernels import extract as K
from dygiepp_spark.kernels.scorer import ReplayScorer, RuleScorer
from dygiepp_spark.operators import extraction as EX
from dygiepp_spark.sources import jsonl as J

SCIERC_FIXTURE = "/root/reference/dygie/tests/fixtures/scierc_article.json"
ACE_FIXTURE = "/root/reference/dygie/tests/fixtures/ace_event_article.json"


# ---------------------------------------------------------------- decode unit

def test_topk_prune_resorts_ascending():
    scores = np.array([1.0, 9.0, 5.0, 7.0])
    # k = ceil(0.5*4) = 2 -> indices {1, 3}, returned ASCENDING
    kept = D.topk_prune(scores, 0.5, 4)
    assert kept.tolist() == [1, 3]


def test_topk_prune_tie_prefers_lower_index():
    scores = np.array([5.0, 5.0, 5.0])
    # k = ceil(0.4 * 3) = 2; equal scores -> lower indices win
    assert D.topk_prune(scores, 0.4, 3).tolist() == [0, 1]


def test_topk_prune_always_keeps_one():
    assert D.topk_prune(np.array([-1e20, -1e20]), 0.0001, 1).tolist() == [0]


def test_decode_relations_null_shift():
    spans = np.array([[0, 0], [2, 2]])
    logits = np.zeros((2, 2, 3))       # null col 0
    logits[0, 1, 1] = 5.0              # label index 0 after shift
    logits[1, 0, 2] = 3.0              # label index 1
    s1, _, s2, _, label, _, _ = D.decode_relations(spans, logits, ["A", "B"], keep=2)
    keys = set(zip(s1.tolist(), s2.tolist(), label.tolist()))
    assert keys == {(0, 2, "A"), (2, 0, "B")}


def test_decode_events_trigger_gated():
    trig = np.zeros((3, 2))
    trig[1, 1] = 5.0                    # token 1 is a trigger
    arg_spans = np.array([[0, 0], [2, 2]])
    arg_logits = np.zeros((3, 2, 2))
    arg_logits[1, 0, 1] = 4.0           # arg for the real trigger
    arg_logits[2, 1, 1] = 4.0           # arg for a NON-trigger token -> dropped
    triggers, arguments = D.decode_events(trig, ["EVT"], arg_spans, arg_logits, ["R"])
    assert triggers[0].tolist() == [1]
    assert list(zip(arguments[0].tolist(), arguments[1].tolist())) == [(1, 0)]


def test_decode_antecedents_dummy_zero():
    scores = np.full((3, 3), -5.0)
    scores[2, 0] = 2.0
    out = D.decode_antecedents(scores)
    assert out.tolist() == [-1, -1, 0]  # span1's best (-5) loses to dummy 0


# ------------------------------------------------------- kernel == relational

@pytest.fixture(scope="module")
def small_turns(spark):
    return TT.turns_from_documents(spark, "/root/testdata/sf0.001").filter(
        F.col("conv_id").cast("int") < 60
    ).cache()


def test_kernel_matches_relational_triples(spark, small_turns):
    extracted = K.extract(small_turns, RuleScorer()).cache()
    kern = {
        (r["conv_id"], r["sent_text"], r["arg0"], r["arg1"], r["label"])
        for r in K.kernel_triples(extracted, small_turns).collect()
    }
    rel = {
        (r["conv_id"], r["sent_text"], r["arg0"], r["arg1"], r["label"])
        for r in EX.emit_triples(small_turns).collect()
    }
    assert kern == rel


def test_kernel_grouped_form_matches_streamed_form(spark, small_turns):
    """The applyInPandas per-chunk form (doc_grouped=True, for
    cross-sentence scorers) and the default mapInPandas streamed form must
    produce identical rows."""
    a = K.extract(small_turns, RuleScorer())
    b = K.extract(small_turns, RuleScorer(), doc_grouped=True)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_kernel_matches_relational_mentions(spark, small_turns):
    extracted = K.extract(small_turns, RuleScorer())
    kern = {
        (r["conv_id"], r["turn_idx"], r["s1"], r["e1"])
        for r in extracted.filter(F.col("row_type") == "mention").collect()
    }
    rel = {
        (r["conv_id"], r["turn_idx"], r["start"], r["end"])
        for r in EX.detect_mentions(small_turns).collect()
    }
    assert kern == rel


def test_kernel_matches_relational_events(spark, small_turns):
    extracted = K.extract(small_turns, RuleScorer())
    kern = {
        (r["conv_id"], r["turn_idx"], r["s1"], r["s2"], r["label"])
        for r in extracted.filter(F.col("row_type") == "argument").collect()
    }
    rel = {
        (r["conv_id"], r["turn_idx"], r["trigger_ix"], r["arg_start"], r["role"])
        for r in EX.extract_events(small_turns).collect()
    }
    assert kern == rel


def test_kernel_triples_surfaces_on_irregular_spacing(spark):
    """Kernel spans index the non-empty tokens, so on turns with a
    repeated or leading space every argument is still an entity word."""
    texts = [
        "the spark  reads a table row",
        " spark table window",
        "row   column  a  vector ",
    ]
    turns = spark.createDataFrame(
        [("c0", i, "user", t, None) for i, t in enumerate(texts)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    got = K.kernel_triples(K.extract(turns, RuleScorer()), turns).collect()
    assert got
    for r in got:
        assert r["arg0"] in TT.ENTITY_VOCAB and r["arg1"] in TT.ENTITY_VOCAB, r


def test_kernel_matches_relational_on_irregular_spacing(spark):
    """Every extractor numbers positions over the non-empty tokens, so the
    kernel and the relational path agree on repeated, leading and
    trailing spaces. On the second text ``table`` is token 5 but raw split
    position 9, beyond the relation distance cap."""
    texts = [
        "spark  table x y",
        "spark x  x  x  x  table x x x x x x x x",
        "  spark table x y  ",
    ]
    turns = spark.createDataFrame(
        [("c0", i, "user", t, None) for i, t in enumerate(texts)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    extracted = K.extract(turns, RuleScorer()).cache()
    kern_mentions = {
        (r["turn_idx"], r["s1"], r["e1"])
        for r in extracted.filter(F.col("row_type") == "mention").collect()
    }
    rel_mentions = {
        (r["turn_idx"], r["start"], r["end"])
        for r in EX.detect_mentions(turns).collect()
    }
    assert kern_mentions == rel_mentions
    assert (0, 1, 1) in rel_mentions
    triple = lambda r: (r["sent_text"], r["arg0"], r["arg1"], r["label"])  # noqa: E731
    kern_triples = {triple(r) for r in K.kernel_triples(extracted, turns).collect()}
    rel_triples = {triple(r) for r in EX.emit_triples(turns).collect()}
    assert kern_triples == rel_triples
    assert {(t[0], t[1], t[2]) for t in rel_triples} == {
        (text, "spark", "table") for text in texts
    }


# ------------------------------------------------------- fixture replay gate

def _replay_triples(spark, fixture_path, use_predicted=False):
    docs = J.load_jsonl(fixture_path)
    turns = J.turns_from_jsonl(spark, fixture_path)
    preds: dict = {}
    expected: set = set()
    for doc in docs:
        preds.update(J.doc_predictions(doc, use_predicted))
        expected |= J.expected_triples(
            doc, use_predicted, max_span_width=D.MAX_SPAN_WIDTH
        )
    scorer = ReplayScorer(preds)
    extracted = K.extract(turns, scorer)
    got = {
        (r["conv_id"], r["sent_text"], r["arg0"], r["arg1"], r["label"])
        for r in K.kernel_triples(extracted, turns).collect()
    }
    return got, expected


def test_scierc_fixture_replay_exact(spark):
    """Decode path reproduces the reference's triple set on the SciERC
    fixture at P = R = 1.0 (north-rule gate; scores replayed, decode ours)."""
    got, expected = _replay_triples(spark, SCIERC_FIXTURE)
    assert got == expected
    assert len(expected) > 0


def test_ace_fixture_event_replay(spark):
    """Event decode reproduces the ACE fixture's (trigger, type, arg, role)
    tuples exactly."""
    docs = J.load_jsonl(ACE_FIXTURE)
    turns = J.turns_from_jsonl(spark, ACE_FIXTURE)
    preds: dict = {}
    for doc in docs:
        preds.update(J.doc_predictions(doc))
    expected = {
        (key[0], key[1], ev["trigger_ix"], ev["event_type"], s, e, role)
        for key, v in preds.items()
        for ev in v["events"]
        for (s, e, role) in ev["args"]
        if e - s + 1 <= D.MAX_SPAN_WIDTH  # enumeration cap domain
    }
    extracted = K.extract(turns, ReplayScorer(preds)).cache()
    trig_rows = {
        (r["conv_id"], r["turn_idx"], r["s1"]): r["label"]
        for r in extracted.filter(F.col("row_type") == "trigger").collect()
    }
    arg_rows = extracted.filter(F.col("row_type") == "argument").collect()
    got = {
        (
            r["conv_id"], r["turn_idx"], r["s1"],
            trig_rows.get((r["conv_id"], r["turn_idx"], r["s1"])),
            r["s2"], r["e2"], r["label"],
        )
        for r in arg_rows
    }
    assert got == expected
    assert len(expected) > 10


def test_gold_ner_replay_exact(spark):
    docs = J.load_jsonl(SCIERC_FIXTURE)
    turns = J.turns_from_jsonl(spark, SCIERC_FIXTURE)
    preds: dict = {}
    for doc in docs:
        preds.update(J.doc_predictions(doc))
    expected = {
        (k[0], k[1], r[0], r[1], r[2])
        for k, v in preds.items()
        for r in v["ner"]
        if r[1] - r[0] + 1 <= D.MAX_SPAN_WIDTH
    }
    extracted = K.extract(turns, ReplayScorer(preds))
    got = {
        (r["conv_id"], r["turn_idx"], r["s1"], r["e1"], r["label"])
        for r in extracted.filter(F.col("row_type") == "mention").collect()
    }
    assert got == expected


# ------------------------------------------------------- coref propagation

def test_coref_propagate_gated_mix():
    scores = np.array([1.0, 3.0, 5.0])
    # span 2 has antecedents {0, 1} with equal pair scores -> attn 0.5/0.5
    ante_ix = np.array([[-1, -1], [-1, -1], [0, 1]])
    ante_sc = np.array([[0.0, 0.0], [0.0, 0.0], [2.0, 2.0]])
    out = D.coref_propagate(scores, ante_ix, ante_sc, gate=0.5, rounds=1)
    # spans without candidates unchanged; span 2: 0.5*5 + 0.5*(0.5*1 + 0.5*3)
    assert out[0] == 1.0 and out[1] == 3.0
    assert out[2] == pytest.approx(0.5 * 5.0 + 0.5 * 2.0)


def test_coref_propagate_attention_prefers_higher_score():
    scores = np.array([10.0, 0.0, 4.0])
    ante_ix = np.array([[-1, -1], [-1, -1], [0, 1]])
    ante_sc = np.array([[0.0, 0.0], [0.0, 0.0], [9.0, -9.0]])
    out = D.coref_propagate(scores, ante_ix, ante_sc, gate=0.5, rounds=1)
    # attention is ~all on antecedent 0 -> blended toward 10
    assert out[2] > 6.9


def test_coref_propagate_zero_rounds_identity():
    scores = np.array([1.0, 2.0])
    ante_ix = np.array([[-1], [0]])
    ante_sc = np.array([[0.0], [5.0]])
    out = D.coref_propagate(scores, ante_ix, ante_sc, rounds=0)
    assert out.tolist() == [1.0, 2.0]


# --------------------------------------------------------------------------
# M17 wired end-to-end (round 2)
# --------------------------------------------------------------------------

def _one_turn(spark, text):
    return spark.createDataFrame(
        [("c0", 0, "user", text, None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )


def test_coref_prop_changes_relation_beam(spark):
    """Crafted fixture where one propagation round changes the decode:
    'spark table beta row spark' — n=5, beam k=3. Without propagation the
    graded scores (100-start) keep {spark@0, table@1, row@3}; with one
    round, spark@4 inherits half of spark@0's score (98 > row@3's 97) and
    displaces row from the beam."""
    from dygiepp_spark.kernels.scorer import CorefRuleScorer

    turns = _one_turn(spark, "spark table beta row spark")
    scorer = CorefRuleScorer()

    def triple_set(coref_prop):
        ext = K.extract(turns, scorer, coref_prop=coref_prop)
        return {
            (r["arg0"], r["arg1"], r["label"])
            for r in K.kernel_triples(ext, turns).collect()
        }

    no_prop = triple_set(0)
    prop = triple_set(1)
    assert no_prop == {
        ("spark", "table", "USED-FOR"),
        ("spark", "row", "FEATURE-OF"),
        ("table", "row", "FEATURE-OF"),
    }
    assert prop == {
        ("spark", "table", "USED-FOR"),
        ("spark", "spark", "USED-FOR"),   # (0,4) within RELATION_MAX_DIST=6
        ("table", "spark", "USED-FOR"),
    }
    assert no_prop != prop


def test_coref_prop_noop_without_coref_head(spark, small_turns):
    # RuleScorer has no coref head -> coref_prop must be a no-op
    base = K.kernel_triples(K.extract(small_turns, RuleScorer()), small_turns)
    prop = K.kernel_triples(
        K.extract(small_turns, RuleScorer(), coref_prop=1), small_turns
    )
    assert base.exceptAll(prop).count() == 0
    assert prop.exceptAll(base).count() == 0


def test_coref_rule_scorer_antecedent_is_nearest_previous():
    from dygiepp_spark.kernels.scorer import CorefRuleScorer

    s = CorefRuleScorer()
    tokens = "spark beta spark spark".split()
    spans = D.enumerate_spans(len(tokens), 8)
    ix, sc = s.coref_antecedents({"tokens": tokens}, spans)
    span_list = [tuple(x) for x in spans.tolist()]
    i0, i2, i3 = (span_list.index((p, p)) for p in (0, 2, 3))
    assert ix[i0, 0] == -1 and sc[i0, 0] == 0.0
    assert ix[i2, 0] == i0 and sc[i2, 0] == 1.0
    assert ix[i3, 0] == i2  # nearest previous, not first


# --------------------------------------------------------------------------
# S2 JSONL sink roundtrip + P1 field whitelist + M2 span representation
# --------------------------------------------------------------------------

def test_jsonl_sink_roundtrip(spark, tmp_path):
    src = J.turns_from_jsonl(spark, SCIERC_FIXTURE).select(
        "conv_id", "turn_idx", "text"
    )
    out = str(tmp_path / "docs_jsonl")
    J.write_dygie_jsonl(
        J.turns_from_jsonl(spark, SCIERC_FIXTURE), out
    )
    back = J.read_dygie_jsonl(spark, out + "/part-*").select(
        "conv_id", "turn_idx", "text"
    )
    assert back.exceptAll(src).count() == 0 and src.exceptAll(back).count() == 0


def test_check_fields_whitelist(spark, tmp_path):
    import json as _json

    good = {"doc_key": "a", "dataset": "x", "sentences": [["hi"]],
            "_meta": {"ok": 1}, "predicted_ner": []}
    bad = {"doc_key": "b", "sentences": [["yo"]], "rogue_field": 1,
           "another_bad": 2}
    p = tmp_path / "docs.jsonl"
    p.write_text(_json.dumps(good) + "\n" + _json.dumps(bad) + "\n")
    rows = {(r["doc_key"], r["bad_field"])
            for r in J.check_fields(spark, str(p)).collect()}
    assert rows == {("b", "rogue_field"), ("b", "another_bad")}


def test_span_representation_shape_and_features():
    from dygiepp_spark.kernels.scorer import bucket_width, span_representation

    vecs = np.arange(12, dtype=np.float64).reshape(4, 3)  # 4 tokens, d=3
    spans = np.array([[0, 0], [0, 2], [1, 3]])
    rep = span_representation(vecs, spans)
    assert rep.shape == (3, 3 * 3 + 10)
    # endpoints
    assert np.allclose(rep[1, :3], vecs[0]) and np.allclose(rep[1, 3:6], vecs[2])
    # interior mean
    assert np.allclose(rep[1, 6:9], vecs[0:3].mean(axis=0))
    # width one-hot: width 3 -> bucket 3 (identity range)
    assert rep[1, 9 + bucket_width(3)] == 1.0 and rep[1, 9:].sum() == 1.0
    # AllenNLP bucket_values: identity strictly below 4, then
    # floor(log2(v)) + (num_identity - 1), clamped to num_total
    assert [bucket_width(w) for w in (1, 2, 3)] == [1, 2, 3]
    assert [bucket_width(w) for w in (4, 5, 6, 7)] == [5, 5, 5, 5]
    assert bucket_width(8) == int(np.floor(np.log2(8))) + 3
    assert bucket_width(10 ** 6) == 9

    # the vectorized form is bit-identical to the per-span form over every
    # span (all widths) of random vectors, so a change in summation order
    # cannot pass unseen
    def per_span(token_vecs, spans, num_width_buckets=10):
        d = token_vecs.shape[1]
        out = np.zeros((spans.shape[0], 3 * d + num_width_buckets))
        for s_ix in range(spans.shape[0]):
            s, e = int(spans[s_ix, 0]), int(spans[s_ix, 1])
            out[s_ix, :d] = token_vecs[s]
            out[s_ix, d: 2 * d] = token_vecs[e]
            out[s_ix, 2 * d: 3 * d] = token_vecs[s: e + 1].mean(axis=0)
            out[s_ix, 3 * d + bucket_width(e - s + 1, num_total=num_width_buckets)] = 1.0
        return out

    rng = np.random.default_rng(0)
    for n in range(1, 41):
        vecs = rng.normal(size=(n, 8))
        spans = np.array([(s, e) for s in range(n) for e in range(s, n)])
        assert np.array_equal(span_representation(vecs, spans), per_span(vecs, spans)), n
