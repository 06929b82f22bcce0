"""Unit tests for the eval layer (K1-K7, G1), text analysis, multimodal
plumbing, and the streaming wrapper — semantic checks independent of the
DuckDB oracle parity gate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dygiepp_spark import tables as TT
from dygiepp_spark.functions import text as TX
from dygiepp_spark.operators import extraction as EX
from dygiepp_spark.operators import kg_eval as KE
from dygiepp_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def turns(spark, sf_dir):
    return TT.turns_from_documents(spark, sf_dir, with_ts=False).cache()


def _triples(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, arg0 string, arg1 string, label string, conf double"
    )


def test_ie_eval_perfect_match(spark):
    g = _triples(spark, [("c1", "a", "b", "R", 1.0), ("c2", "x", "y", "S", 0.5)])
    out = KE.ie_eval(g, g, "exact").collect()[0]
    assert out["precision"] == 1.0 and out["recall"] == 1.0 and out["f1"] == 1.0


def test_ie_eval_label_mismatch_not_counted(spark):
    p = _triples(spark, [("c1", "a", "b", "WRONG", 1.0)])
    g = _triples(spark, [("c1", "a", "b", "R", 1.0)])
    out = KE.ie_eval(p, g, "exact").collect()[0]
    assert out["tp"] == 0 and out["f1"] == 0.0


def test_ie_eval_substring_matches_partial(spark):
    p = _triples(spark, [("c1", "the table", "row", "R", 1.0)])
    g = _triples(spark, [("c1", "table", "row", "R", 1.0)])
    exact = KE.ie_eval(p, g, "exact").collect()[0]
    sub = KE.ie_eval(p, g, "substring").collect()[0]
    assert exact["tp"] == 0 and sub["tp"] == 1


def test_ie_eval_topk_cuts_by_confidence(spark):
    p = _triples(
        spark,
        [("c1", "a", "b", "R", 0.9), ("c1", "bad", "bad", "R", 0.1)],
    )
    g = _triples(spark, [("c1", "a", "b", "R", 1.0)])
    out = KE.ie_eval(p, g, "exact", topk=1).collect()[0]
    # the low-confidence wrong triple is cut, so precision is 1.0
    assert out["tp"] == 1 and out["precision"] == 1.0


def test_gold_first_occurrence_label(spark, turns):
    gold = KE.gold_triples(turns)
    # deduped per (conv, arg0, arg1)
    assert (
        gold.groupBy("conv_id", "arg0", "arg1").count().filter("count > 1").count()
        == 0
    )


def test_transitive_closure_adds_composed_edges(spark):
    g = _triples(
        spark, [("c1", "a", "b", "R", 0.5), ("c1", "b", "c", "R", 0.5)]
    ).select("conv_id", "arg0", "arg1", "conf")
    out = KE.transitive_closure(g, rounds=2)
    rows = {(r["arg0"], r["arg1"]): r["conf"] for r in out.collect()}
    assert rows[("a", "c")] == 0.25
    assert len(rows) == 3


def test_transitive_closure_max_conf_on_multiple_paths(spark):
    g = spark.createDataFrame(
        [
            ("c1", "a", "b", 0.9),
            ("c1", "b", "c", 0.9),
            ("c1", "a", "x", 0.1),
            ("c1", "x", "c", 0.1),
        ],
        "conv_id string, arg0 string, arg1 string, conf double",
    )
    out = KE.transitive_closure(g, rounds=2)
    ac = [r["conf"] for r in out.filter("arg0 = 'a' and arg1 = 'c'").collect()]
    assert ac == [pytest.approx(0.81)]


def test_micro_prf_counts(spark):
    p = _triples(spark, [("c1", "a", "b", "R", 1.0), ("c1", "q", "w", "R", 1.0)])
    g = _triples(spark, [("c1", "a", "b", "R", 1.0), ("c1", "z", "z", "R", 1.0)])
    out = KE.micro_prf(p, g).collect()[0]
    assert (out["tp"], out["fp"], out["fn"]) == (1, 1, 1)
    assert out["precision"] == 0.5 and out["recall"] == 0.5


# ------------------------------------------------------------------
# text analysis
# ------------------------------------------------------------------

def test_token_counts(spark):
    df = spark.createDataFrame([(1, "alpha beta gamma")], "doc_id bigint, text string")
    out = TX.bpe_ish_token_count(TX.word_token_count(df)).collect()[0]
    assert out["n_tokens"] == 3
    # ceil(5/4)+ceil(4/4)+ceil(5/4) = 2+1+2
    assert out["n_bpe_tokens"] == 5


def test_langid_picks_english(spark):
    df = spark.createDataFrame(
        [(1, "the cat is on the mat"), (2, "zzz qqq www")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in TX.langid(df).collect()}
    assert out[1] == "en"
    assert out[2] == "und"


def test_quality_monotone_in_length(spark):
    df = spark.createDataFrame(
        [(1, "the a of and is table row join" * 3), (2, "x")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r["quality"] for r in TX.quality_score(df).collect()}
    assert out[1] > out[2]


def test_fingerprint_stable_and_discriminative(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "completely different content here")],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: (r["fp_0"], r["fp_1"], r["fp_2"], r["fp_3"])
            for r in TX.fingerprint(df).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


# ------------------------------------------------------------------
# multimodal plumbing
# ------------------------------------------------------------------

def test_image_meta_matches_python(spark):
    df = spark.createDataFrame([(7, "Hello world payload")], "doc_id bigint, text string")
    out = MM.image_metadata(df).collect()[0]
    raw = "Hello world payload".encode()
    assert out["n_bytes"] == len(raw)
    assert out["width"] == 1 + raw[0] % 64
    assert out["height"] == 1 + raw[1] % 64
    assert out["checksum"] == sum(raw[::16]) % 256


def test_decode_image_is_explicit_stub():
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"xxx")


def test_frame_samples_stride(spark):
    df = spark.createDataFrame([(1, "a" * 33)], "doc_id bigint, text string")
    out = MM.frame_samples(df).collect()[0]
    assert out["n_frames"] == 3  # bytes 0, 16, 32


# ------------------------------------------------------------------
# streaming == batch for stateless stages
# ------------------------------------------------------------------

def test_streaming_mentions_equals_batch(spark, sf_dir, tmp_path):
    from dygiepp_spark.streaming import stream as ST

    turns = TT.turns_from_documents(spark, sf_dir, with_ts=False)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    turns.write.mode("overwrite").parquet(in_dir)
    ST.run_mentions_stream(spark, in_dir, out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    want = EX.detect_mentions(turns)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


# --------------------------------------------------------------------------
# K1 rouge-L / head + K2 reverse (round 2)
# --------------------------------------------------------------------------

def _lcs_bruteforce(a: list[str], b: list[str]) -> int:
    """Independent LCS: enumerate all subsequences of the shorter side."""
    import itertools

    if len(a) > len(b):
        a, b = b, a
    best = 0
    for r in range(len(a), 0, -1):
        for sub in itertools.combinations(a, r):
            # is `sub` a subsequence of b?
            it = iter(b)
            if all(tok in it for tok in sub):
                return r
    return best


def test_rouge_l_f_matches_bruteforce_lcs():
    cases = [
        ("the fast join algorithm", "a fast algorithm for join"),
        ("spark sql engine", "engine sql spark"),
        ("a b c d", "a b c d"),
        ("x", "y"),
        ("one two", "two one two two"),
        ("", "nonempty"),
    ]
    for a, b in cases:
        ta, tb = a.split(), b.split()
        if not ta or not tb:
            assert KE._rouge_l_f_py(a, b) == 0.0
            continue
        llcs = _lcs_bruteforce(ta, tb)
        p, r = llcs / len(ta), llcs / len(tb)
        beta = p / (r + 1e-12)
        expect = ((1 + beta**2) * r * p) / ((r + beta**2 * p) + 1e-8)
        assert KE._rouge_l_f_py(a, b) == pytest.approx(expect, abs=1e-12)


def test_match_rouge_thresholds(spark):
    p = _triples(spark, [("c1", "join algorithm", "the sort phase", "R", 1.0)])
    g = _triples(spark, [("c1", "fast join algorithm", "sort phase", "R", 1.0)])
    hit = KE.ie_eval(p, g, "rouge").collect()[0]
    assert hit["tp"] == 1  # f(2-of-2 vs 2-of-3) and f(2-of-3 vs 2-of-2) > 0.3
    miss = KE.ie_eval(
        _triples(spark, [("c1", "alpha", "beta", "R", 1.0)]), g, "rouge"
    ).collect()[0]
    assert miss["tp"] == 0


def test_jaccard_ratio_ignores_inner_spacing(spark):
    """Spark ratio and its DuckDB twin count the non-empty tokens only:
    repeated inner spaces do not change the score, and two sides with no
    tokens score 0.0 (empty union), not 1.0."""
    import duckdb

    from dygiepp_spark.oracles_kg import _jac_sql

    cases = [
        ("a  b", "a b", 1.0),
        (" A b ", "a  c", 1 / 3),
        ("", "", 0.0),
        ("  ", "x", 0.0),
    ]
    df = spark.createDataFrame(
        [(a, b) for a, b, _ in cases], "a string, b string"
    )
    got = [r[0] for r in df.select(
        KE.jaccard_ratio(F.col("a"), F.col("b"))
    ).collect()]
    assert got == [want for _, _, want in cases]
    con = duckdb.connect()
    twin = [
        con.execute(
            f"SELECT {_jac_sql('a', 'b')} FROM (VALUES (?, ?)) t(a, b)", [a, b]
        ).fetchone()[0]
        for a, b, _ in cases
    ]
    assert twin == got


def test_match_head_last_token_standin(spark):
    p = _triples(spark, [("c1", "the merge join", "hash TABLE", "R", 1.0)])
    g = _triples(spark, [("c1", "a blocked merge join", "table", "R", 1.0)])
    out = KE.ie_eval(p, g, "head").collect()[0]
    assert out["tp"] == 1  # heads: join==join, table==table (case-folded)
    out2 = KE.ie_eval(p, _triples(spark, [("c1", "join plan", "table", "R", 1.0)]), "head").collect()[0]
    assert out2["tp"] == 0  # head 'plan' != 'join'


def test_ie_eval_reverse_swapped_args(spark):
    p = _triples(spark, [("c1", "a", "b", "R", 1.0)])
    g = _triples(spark, [("c1", "b", "a", "R", 1.0)])
    fwd = KE.ie_eval(p, g, "exact").collect()[0]
    rev = KE.ie_eval(p, g, "exact", consider_reverse=True).collect()[0]
    assert fwd["tp"] == 0 and rev["tp"] == 1


def test_ie_eval_reverse_label_gate(spark):
    p = _triples(spark, [("c1", "a", "b", "R", 1.0)])
    g = _triples(spark, [("c1", "b", "a", "R", 1.0)])
    gated_out = KE.ie_eval(
        p, g, "exact", consider_reverse=True, reverse_labels=["OTHER"]
    ).collect()[0]
    gated_in = KE.ie_eval(
        p, g, "exact", consider_reverse=True, reverse_labels=["R"]
    ).collect()[0]
    assert gated_out["tp"] == 0 and gated_in["tp"] == 1


def test_gold_triples_ctx_widens_and_clips(spark):
    # 'spark' and 'table' are planted entities; 'alpha'/'beta' are context
    turns = spark.createDataFrame(
        [("c1", 0, "u", "alpha spark table beta", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    got = KE.gold_triples_ctx(turns, max_dist=3, window=1).collect()
    assert len(got) == 1
    assert got[0]["arg0"] == "alpha spark table"   # clipped at left edge +1
    assert got[0]["arg1"] == "spark table beta"    # clipped at right edge

    # edge clipping: mention at position 0 keeps only right context
    turns2 = spark.createDataFrame(
        [("c1", 0, "u", "spark table beta", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    got2 = KE.gold_triples_ctx(turns2, max_dist=3, window=1).collect()
    assert got2[0]["arg0"] == "spark table"
    assert got2[0]["arg1"] == "spark table beta"


def test_greedy_match_fallback_to_next_gold(spark):
    # advisor case: pred B's first-choice gold X is taken by the earlier
    # pred A; the sequential greedy then matches B to its next gold Y —
    # a two-pass (non-iterated) formulation would drop B entirely
    pred = _triples(spark, [("c", "ax", "z", "R", 1.0), ("c", "x", "z", "R", 1.0)])
    gold = _triples(spark, [("c", "ax", "z", "R", 1.0), ("c", "xq", "z", "R", 1.0)])
    got = {
        (r["p_arg0"], r["g_arg0"])
        for r in KE.greedy_match(pred, gold, "substring").collect()
    }
    assert got == {("ax", "ax"), ("x", "xq")}


def test_greedy_match_equals_sequential_scan(spark):
    # randomized check vs a literal sequential seen_pred/seen_gold scan
    import random

    random.seed(11)
    toks = ["a", "ab", "abc", "b", "bc", "c", "ca"]
    pred_rows = [
        ("c%d" % (i % 3), random.choice(toks), random.choice(toks), "R", 1.0)
        for i in range(30)
    ]
    gold_rows = [
        ("c%d" % (i % 3), random.choice(toks), random.choice(toks), "R", 1.0)
        for i in range(30)
    ]
    pred = _triples(spark, pred_rows)
    gold = _triples(spark, gold_rows)

    def sub(a, b):
        return a in b or b in a

    p_keys = sorted({(r[0], r[1], r[2], r[3]) for r in pred_rows})
    g_keys = sorted({(r[0], r[1], r[2], r[3]) for r in gold_rows})
    seen_p, seen_g, expect = set(), set(), set()
    for pk in p_keys:
        for gk in g_keys:
            if pk[0] != gk[0] or pk[3] != gk[3]:
                continue
            if not (sub(pk[1], gk[1]) and sub(pk[2], gk[2])):
                continue
            if pk in seen_p or gk in seen_g:
                continue
            seen_p.add(pk)
            seen_g.add(gk)
            expect.add((pk, gk))
    got = {
        (
            (r["conv_id"], r["p_arg0"], r["p_arg1"], r["p_label"]),
            (r["conv_id"], r["g_arg0"], r["g_arg1"], r["g_label"]),
        )
        for r in KE.greedy_match(pred, gold, "substring").collect()
    }
    assert got == expect


def test_ie_eval_alias_expansion_recovers_shorthand(spark):
    from dygiepp_spark import tables as TT

    p = _triples(spark, [("c1", "spark", "table", "R", 1.0)])
    g = _triples(spark, [("c1", "sprk", "tbl", "R", 1.0)])  # shorthand gold
    plain = KE.ie_eval(p, g, "exact").collect()[0]
    expanded = KE.ie_eval(
        p, g, "exact", aliases=TT.alias_pairs(spark)
    ).collect()[0]
    assert plain["tp"] == 0 and expanded["tp"] == 1
    # counts stay in ORIGINAL pred-key space despite the variant fan-out
    assert expanded["n_pred"] == 1 and expanded["n_gold"] == 1


def test_ie_eval_alias_unknown_surface_falls_back_to_itself(spark):
    from dygiepp_spark import tables as TT

    p = _triples(spark, [("c1", "zzz", "qqq", "R", 1.0)])
    g = _triples(spark, [("c1", "zzz", "qqq", "R", 1.0)])
    out = KE.ie_eval(p, g, "exact", aliases=TT.alias_pairs(spark)).collect()[0]
    assert out["tp"] == 1


# ---------------------------------------------------------------------------
# repetition metrics + stratified sampling (functions/text.py round-3 adds)
# ---------------------------------------------------------------------------

def test_repetition_features_hand_case(spark):
    from dygiepp_spark.functions.text import repetition_features

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x"), (3, ""), (4, "c c c c")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in repetition_features(df).collect()}
    r1 = out[1]  # 2-grams: "a b","b a","a b","b a" -> tie at 2, min gram "a b"
    assert (r1.n_tokens, r1.n_distinct_tokens, r1.n_2grams) == (5, 2, 4)
    assert (r1.top_2gram, r1.top_2gram_count) == ("a b", 2)
    assert r1.top_2gram_frac == 0.5
    assert r1.dup_token_frac == 1.0 - 2.0 / 5.0
    r2 = out[2]  # single token: no 2-grams
    assert (r2.n_2grams, r2.top_2gram_count, r2.top_2gram_frac) == (0, 0, 0.0)
    assert r2.top_2gram is None
    assert out[3].n_tokens == 0 and out[3].dup_token_frac == 0.0
    r4 = out[4]  # fully repetitive
    assert r4.dup_token_frac == 0.75
    assert (r4.top_2gram, r4.top_2gram_frac) == ("c c", 1.0)


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    from dygiepp_spark.functions.text import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    kept = stratified_sample(df, rates={"en": 0.5}, default_rate=0.0)
    ids1 = sorted(r.doc_id for r in kept.collect())
    ids2 = sorted(r.doc_id for r in kept.collect())
    assert ids1 == ids2  # pure function of (stratum, key)
    assert all(i % 2 == 0 for i in ids1)  # default_rate=0 drops all de
    assert 400 <= len(ids1) <= 600  # ~50% of the 1000 en rows
    # repartitioning must not change the decision (no partition-seeded RNG)
    ids3 = sorted(
        r.doc_id
        for r in stratified_sample(
            df.repartition(17), rates={"en": 0.5}, default_rate=0.0
        ).collect()
    )
    assert ids3 == ids1


def test_stratified_sample_rate_one_and_zero(spark):
    from dygiepp_spark.functions.text import stratified_sample

    df = spark.createDataFrame(
        [(i, "en") for i in range(100)], "doc_id bigint, lang string"
    )
    assert stratified_sample(df, rates={"en": 1.0}).count() == 100
    assert stratified_sample(df, rates={"en": 0.0}).count() == 0


def test_sessionize_splits_on_gap(spark):
    from dygiepp_spark.operators.transcript import session_stats, sessionize

    rows = [
        ("c1", 0, 0), ("c1", 1, 5), ("c1", 2, 50),   # gap 45 -> new session
        ("c1", 3, 55), ("c2", 0, 100),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts_sec long")
    sess = sessionize(df, gap_sec=30)
    got = {(r.conv_id, r.turn_idx): (r.session_ix, r.gap_from_prev)
           for r in sess.collect()}
    assert got[("c1", 0)] == (0, None)
    assert got[("c1", 1)] == (0, 5)
    assert got[("c1", 2)] == (1, 45)
    assert got[("c1", 3)] == (1, 5)
    assert got[("c2", 0)] == (0, None)
    stats = {(r.conv_id, r.session_ix): (r.n_turns, r.duration_sec)
             for r in session_stats(sess).collect()}
    assert stats[("c1", 0)] == (2, 5)
    assert stats[("c1", 1)] == (2, 5)
    assert stats[("c2", 0)] == (1, 0)


def test_conv_stats_rollup(spark):
    from dygiepp_spark.operators.transcript import conv_stats

    rows = [
        ("c1", 0, "user", "a b c"), ("c1", 1, "assistant", "d e"),
        ("c2", 0, "user", "x"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    got = {r.conv_id: r for r in conv_stats(df).collect()}
    assert (got["c1"].n_turns, got["c1"].n_user_turns,
            got["c1"].n_assistant_turns) == (2, 1, 1)
    assert got["c1"].total_tokens == 5 and got["c1"].mean_turn_tokens == 2.5
    assert got["c2"].total_tokens == 1
