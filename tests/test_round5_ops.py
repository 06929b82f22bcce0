"""Round-5 operator tests: k-core fixpoint, dense-id negative sampling,
overflow-bounded weighted PageRank, per-doc domain token counting, and the
new eval-layer operators (partial-span metrics, filtered accept rate,
human-eval sheet)."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F


# ------------------------------------------------------------------ k-core


def _path_edges(spark, n):
    rows = [(f"n{i:02d}", "p", f"n{i + 1:02d}") for i in range(n - 1)]
    return spark.createDataFrame(
        rows, "subj_id string, pred string, obj_id string"
    )


def test_kcore_fixpoint_matches_deep_rounds_on_deep_peel(spark):
    from dygiepp_spark.operators.graph import kcore_fixpoint

    # triangle (the true 2-core) + a 10-node pendant chain: peeling eats
    # one chain node per round from the free end, so 3 rounds are NOT
    # enough — the fixpoint must fail loudly under that bound and peel
    # the whole chain under the default one.
    rows = [("a", "p", "b"), ("b", "p", "c"), ("a", "p", "c"),
            ("c", "p", "m0")]
    rows += [(f"m{i}", "p", f"m{i + 1}") for i in range(9)]
    edges = spark.createDataFrame(
        rows, "subj_id string, pred string, obj_id string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore_fixpoint(edges, k=2, max_rounds=3)
    fx = {r["node_id"]: r["deg"] for r in kcore_fixpoint(edges, k=2).collect()}
    assert fx == {"a": 2, "b": 2, "c": 2}


def test_kcore_fixpoint_empty_core(spark):
    from dygiepp_spark.operators.graph import kcore_fixpoint

    # a pure path has no 2-core; fixpoint must fully drain, not hang
    assert kcore_fixpoint(_path_edges(spark, 12), k=2).count() == 0


def test_kcore_fixpoint_degrees_are_in_core(spark):
    from dygiepp_spark.operators.graph import kcore_fixpoint

    # K4 plus a pendant on each corner: core = K4 with in-core degree 3
    # (the pendant edges must NOT inflate the reported degrees)
    corners = ["a", "b", "c", "d"]
    rows = [(x, "p", y) for i, x in enumerate(corners)
            for y in corners[i + 1:]]
    rows += [(x, "p", f"leaf_{x}") for x in corners]
    edges = spark.createDataFrame(
        rows, "subj_id string, pred string, obj_id string"
    )
    out = {r["node_id"]: r["deg"] for r in kcore_fixpoint(edges, k=3).collect()}
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3}


# ----------------------------------------------- negative_samples dense id


def test_negative_samples_dense_id_equals_ranked(spark):
    from dygiepp_spark.operators.graph import negative_samples

    edges = spark.createDataFrame(
        [("E001", "p", "E002"), ("E002", "q", "E003"), ("E000", "p", "E004")],
        "subj_id string, pred string, obj_id string",
    )
    ents = spark.createDataFrame(
        [(f"E{i:03d}",) for i in range(9)], "entity_id string"
    )
    ranked = sorted(map(tuple, negative_samples(edges, ents, k=4).collect()))
    dense = sorted(map(tuple, negative_samples(
        edges, ents, k=4,
        dense_id=F.expr("cast(substring(entity_id, 2) as bigint)"),
    ).collect()))
    assert ranked == dense and ranked


def test_negative_samples_dense_id_plan_has_no_window(spark):
    from dygiepp_spark.operators.graph import negative_samples

    edges = spark.createDataFrame(
        [("E001", "p", "E002")], "subj_id string, pred string, obj_id string"
    )
    ents = spark.createDataFrame(
        [(f"E{i:03d}",) for i in range(5)], "entity_id string"
    )
    dense = negative_samples(
        edges, ents, k=2,
        dense_id=F.expr("cast(substring(entity_id, 2) as bigint)"),
    )
    plan = dense._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "dense-id path must not sort the dim table"
    fallback = negative_samples(edges, ents, k=2)
    fplan = fallback._jdf.queryExecution().executedPlan().toString()
    assert "Window" in fplan  # the documented ranked fallback


# ------------------------------------------------------ weighted pagerank


def test_pagerank_weighted_share_split(spark):
    from dygiepp_spark.operators.graph import (
        PR_SCALE, SHARE_SCALE, pagerank_weighted,
    )

    # u -> v with weight 3, u -> w with weight 1: after one iteration
    # v gets 3/4 of u's damped rank, w gets 1/4 (fixed-point floored)
    agg = spark.createDataFrame(
        [("u", "p", "v", 3), ("u", "p", "w", 1)],
        "subj_id string, pred string, obj_id string, support long",
    )
    out = {r["node_id"]: r["rank"]
           for r in pagerank_weighted(agg, iterations=1).collect()}
    base = PR_SCALE * 15 // 100
    share_v = 3 * SHARE_SCALE // 4
    share_w = 1 * SHARE_SCALE // 4
    assert out["v"] == base + (PR_SCALE * share_v // SHARE_SCALE) * 85 // 100
    assert out["w"] == base + (PR_SCALE * share_w // SHARE_SCALE) * 85 // 100
    assert out["u"] == base


def test_pagerank_weighted_bounded_product(spark):
    from dygiepp_spark.operators.graph import pagerank_weighted

    # a support weight far beyond what rank*85*w could multiply without
    # wrapping: the share formulation must stay exact (share <= 1e6)
    big = 10**12
    agg = spark.createDataFrame(
        [("u", "p", "v", big), ("u", "p", "w", big)],
        "subj_id string, pred string, obj_id string, support long",
    )
    out = {r["node_id"]: r["rank"]
           for r in pagerank_weighted(agg, iterations=1).collect()}
    # equal weights -> equal (positive) contributions, no wraparound sign
    assert out["v"] == out["w"] > 150_000


# ------------------------------------------------------------ domain stats


def test_partial_span_score_reference_semantics(spark):
    from dygiepp_spark.operators.kg_eval import partial_span_score

    # refind: 'The Spark engine' -> ['spark','engine']; multiplicity kept
    # on span-1 side: 'spark spark x' vs 'the spark' -> 2 common / 3 max
    df = spark.createDataFrame(
        [
            ("The Spark engine", "a spark engine", 2 / 2),
            ("spark spark x", "the spark", 2 / 3),
            ("alpha ( beta )", "alpha beta )", None),  # digraph '( ' -> ' '
            ("x", "y", 0.0),
        ],
        "a string, b string, want double",
    )
    rows = df.select(
        "a", "b", "want", partial_span_score(F.col("a"), F.col("b")).alias("got")
    ).collect()
    for r in rows:
        if r["want"] is not None:
            assert abs(r["got"] - r["want"]) < 1e-12, (r["a"], r["b"], r["got"])


def test_match_partial_scores_gold_side_multiplicity(spark):
    """The reference scores partial_span_score(GOLD, PRED) — span-1
    multiplicity comes from the gold side — while K2 passes (pred, gold);
    match_partial must swap internally. gold='x x x y' vs pred='x z w q':
    common counted the reference way = [x,x,x] -> 3/4 >= 0.3 (match);
    unswapped it would be [x] -> 1/4 (miss)."""
    from dygiepp_spark.operators.kg_eval import match_partial

    df = spark.createDataFrame(
        [("x z w q", "x x x y")], "pred string, gold string"
    )
    got = df.select(
        match_partial(F.col("pred"), F.col("gold")).alias("m")
    ).collect()[0]["m"]
    assert got is True


def test_match_firsttok_strips_articles(spark):
    from dygiepp_spark.operators.kg_eval import match_firsttok

    df = spark.createDataFrame(
        [("The spark engine", "spark cluster", True),
         ("a dog", "the dog house", True),
         ("cat", "dog", False)],
        "a string, b string, want boolean",
    )
    got = df.select(
        "want", match_firsttok(F.col("a"), F.col("b")).alias("got")
    ).collect()
    assert all(r["got"] == r["want"] for r in got)


def test_stop_filtered_keeps_order_and_multiplicity(spark):
    from dygiepp_spark.operators.kg_eval import stop_filtered

    df = spark.createDataFrame(
        [("The quick the fox of doom doom",)], "a string"
    )
    out = df.select(stop_filtered(F.col("a")).alias("f")).collect()[0]["f"]
    assert out == "quick fox doom doom"


def test_human_eval_sheet_caps_and_intersects(spark):
    from dygiepp_spark.operators.kg_eval import human_eval_sheet

    # method m2 never covers conv 'c2', so c2 must not appear at all;
    # conv 'c1' has 3 m1 rows -> capped at 2
    m1 = spark.createDataFrame(
        [("c1", "a", "b"), ("c1", "a", "c"), ("c1", "a", "d"),
         ("c2", "x", "y")],
        "conv_id string, arg0 string, arg1 string",
    )
    m2 = spark.createDataFrame(
        [("c1", "p", "q")], "conv_id string, arg0 string, arg1 string"
    )
    docs = spark.createDataFrame(
        [("c1", "text one"), ("c2", "text two")],
        "conv_id string, doc_text string",
    )
    out = human_eval_sheet({"m1": m1, "m2": m2}, docs, n_docs=10).collect()
    convs = {r["conv_id"] for r in out}
    assert convs == {"c1"}
    per_method = {}
    for r in out:
        per_method.setdefault(r["method"], []).append(r)
        assert r["text"] == "text one" and 1 <= r["pick_ix"] <= 2
    assert len(per_method["m1"]) == 2 and len(per_method["m2"]) == 1


def test_accept_rate_filtered_fuzzy_beats_exact(spark):
    from dygiepp_spark.operators.kg_eval import (
        method_accept_rate, method_accept_rate_filtered,
    )

    # pred differs from gold only by a stopword + word order-insensitive
    # jaccard: exact accept misses it, the filtered knob set accepts it
    preds = {"m": spark.createDataFrame(
        [("c1", "the spark engine", "fast cluster")],
        "conv_id string, arg0 string, arg1 string",
    )}
    gold = spark.createDataFrame(
        [("c1", "spark engine", "a fast cluster")],
        "conv_id string, arg0 string, arg1 string",
    )
    exact = method_accept_rate(preds, gold).collect()[0]
    fuzzy = method_accept_rate_filtered(preds, gold, thresh=0.9).collect()[0]
    assert exact["n_accept"] == 0 and fuzzy["n_accept"] == 1
    # four-way confusion vs the exact-in-gold 'answer' stand-in: the pair
    # is fuzzy-accepted but NOT exactly in gold -> one false accept
    assert (
        fuzzy["n_true_accept"], fuzzy["n_false_accept"],
        fuzzy["n_false_reject"], fuzzy["n_true_reject"],
    ) == (0, 1, 0, 0)


def test_domain_stats_repeat_citer_counts_tokens_once(spark):
    from dygiepp_spark.functions.web import default_blocklist, domain_stats

    docs = spark.createDataFrame(
        [(1, "a b c https://x.good.org/p https://y.good.org/q")],
        "doc_id bigint, text string",
    )
    out = domain_stats(docs, default_blocklist(spark)).collect()
    assert len(out) == 1
    r = out[0]
    # 5 whitespace tokens, cited twice: tokens counted per citing DOC
    assert (r["n_docs"], r["n_mentions"], r["total_doc_tokens"]) == (1, 2, 5)


# ------------------------------------------------- late-round-5 operators


def test_bpe_train_matches_pure_python_reference(spark):
    """The distributed BPE trainer must learn the exact merge sequence of
    a pure-Python subword-nmt-style reference (freq-desc, pair-asc ties,
    left-to-right greedy application) on the same corpus."""
    from dygiepp_spark.functions.text import bpe_train

    corpus = [
        "low low low low low",
        "lower lower newest newest newest newest",
        "newest newest widest widest widest",
        "low lower newest widest",
    ]

    def py_bpe(texts, n_merges):
        from collections import Counter

        wf = Counter()
        for t in texts:
            for w in t.split():
                wf[tuple(w)] += 1
        merges = []
        for _ in range(n_merges):
            pairs = Counter()
            for sym, f in wf.items():
                for i in range(len(sym) - 1):
                    pairs[(sym[i], sym[i + 1])] += f
            if not pairs:
                break
            # max count, ties -> smallest "a b" string (the engine order)
            best = min(pairs.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))[0]
            merges.append(best)
            new_wf = Counter()
            for sym, f in wf.items():
                out, i = [], 0
                while i < len(sym):
                    if (
                        i < len(sym) - 1
                        and (sym[i], sym[i + 1]) == best
                    ):
                        out.append(sym[i] + sym[i + 1])
                        i += 2
                    else:
                        out.append(sym[i])
                        i += 1
                new_wf[tuple(out)] += f
            wf = new_wf
        return merges

    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = bpe_train(df, n_merges=6)
    want = py_bpe(corpus, 6)
    assert got == want, f"{got} != {want}"


def test_bpe_pair_counts_weights_by_word_freq(spark):
    from dygiepp_spark.functions.text import bpe_pair_counts

    # "ab ab ab cd" -> pair 'ab' n=3, 'cd' n=1; single-char words ignored
    df = spark.createDataFrame([("ab ab ab cd x",)], "text string")
    rows = {r["pair"]: (r["n"], r["rank"]) for r in bpe_pair_counts(df, k=5).collect()}
    assert rows == {"ab": (3, 0), "cd": (1, 1)}


def test_lpa_finds_two_communities(spark):
    """Two triangles joined by one bridge edge: LPA with min-label ties
    must converge to one label per triangle (the bridge can't outvote
    two in-triangle neighbors)."""
    from dygiepp_spark.operators.graph import lpa_fixpoint

    tri1 = [("a1", "a2"), ("a2", "a3"), ("a1", "a3")]
    tri2 = [("b1", "b2"), ("b2", "b3"), ("b1", "b3")]
    bridge = [("a3", "b1")]
    edges = spark.createDataFrame(
        [(s, "p", o) for s, o in tri1 + tri2 + bridge],
        "subj_id string, pred string, obj_id string",
    )
    out = {r["node_id"]: r["label"] for r in lpa_fixpoint(edges).collect()}
    assert set(out[n] for n in ("a1", "a2", "a3")) == {"a1"}
    # the b-triangle converges to ONE label of its own — two in-triangle
    # votes always beat the single bridge vote
    b_labels = set(out[n] for n in ("b1", "b2", "b3"))
    assert len(b_labels) == 1 and b_labels != {"a1"}


def test_lm_score_buckets_order_by_surprisal(spark):
    """head docs must carry <= bits_per_kt than middle, middle <= tail,
    and common-word docs land in head (low surprisal)."""
    from dygiepp_spark.functions.text import lm_score

    common = " ".join(["the"] * 20)
    mixed = "the the the rare1 rare2 " * 4
    rare = "zeta1 zeta2 zeta3 zeta4 zeta5"
    df = spark.createDataFrame(
        [(0, common), (1, mixed), (2, rare)], "doc_id bigint, text string"
    )
    rows = {r["doc_id"]: r for r in lm_score(df).collect()}
    assert rows[0]["bucket"] == "head"
    assert rows[2]["bucket"] == "tail"
    assert (
        rows[0]["bits_per_kt"] <= rows[1]["bits_per_kt"] <= rows[2]["bits_per_kt"]
    )


def test_source_mix_flattens_toward_small_sources(spark):
    """alpha=1/2 smoothing must give the minority source a mix share
    ABOVE its natural share and the majority source one below."""
    from dygiepp_spark.functions.text import source_mix

    rows = [(i, "w " * 100, "big") for i in range(9)] + [(99, "w " * 100, "small")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = {r["source"]: r for r in source_mix(df).collect()}
    assert out["small"]["mix_ppm"] > out["small"]["natural_ppm"]
    assert out["big"]["mix_ppm"] < out["big"]["natural_ppm"]
    assert out["big"]["n_tok"] == 900 and out["small"]["n_tok"] == 100


def test_intra_doc_dedup_strips_repeated_blocks(spark):
    from dygiepp_spark.operators.dedup import intra_doc_dedup

    blk_a = "a1 a2 a3 a4 a5 a6 a7 a8"
    blk_b = "b1 b2 b3 b4 b5 b6 b7 b8"
    text = " ".join([blk_a, blk_b, blk_a, blk_a])  # a repeated 3x
    df = spark.createDataFrame([(7, text)], "doc_id bigint, text string")
    r = intra_doc_dedup(df, block=8).collect()[0]
    assert (r["n_blocks"], r["n_kept"]) == (4, 2)
    assert r["text_dedup"] == f"{blk_a} {blk_b}"


def test_pack_sequences_offsets_are_end_to_end(spark):
    from dygiepp_spark.functions.text import pack_sequences

    rows = [(0, "w " * 10), (1, "w " * 5), (2, "w " * 7), (3, "w " * 3)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in pack_sequences(df, budget=12).collect()}
    assert [out[i]["g_offset"] for i in range(4)] == [0, 10, 15, 22]
    assert [out[i]["pack_id"] for i in range(4)] == [0, 0, 1, 1]
    assert [out[i]["pack_offset"] for i in range(4)] == [0, 10, 3, 10]


def test_dsir_prefers_target_like_docs(spark):
    """Docs sharing the target (en) vocabulary must score ABOVE docs in
    the off-target vocabulary — the selection ordering DSIR promises."""
    from dygiepp_spark.functions.text import dsir_weights

    en = [(i, "alpha beta gamma delta " * 5, "en") for i in range(8)]
    fr = [(100 + i, "rouge bleu vert jaune " * 5, "fr") for i in range(2)]
    probe_en = [(200, "alpha beta gamma delta", "fr")]  # en-vocab, fr-labeled
    df = spark.createDataFrame(
        en + fr + probe_en, "doc_id bigint, text string, lang string"
    )
    out = {r["doc_id"]: r["dsir_bits"] for r in dsir_weights(df).collect()}
    assert out[200] > out[100], "target-vocab doc must outrank off-target"
    assert out[0] > out[100]


def test_kg_components_two_islands(spark):
    from dygiepp_spark.operators.graph import kg_components

    tri1 = [("a1", "a2"), ("a2", "a3")]
    tri2 = [("b1", "b2"), ("b2", "b3")]
    edges = spark.createDataFrame(
        [(s, "p", o) for s, o in tri1 + tri2],
        "subj_id string, pred string, obj_id string",
    )
    out = {r["node_id"]: r["label"] for r in kg_components(edges).collect()}
    assert all(out[n] == "a1" for n in ("a1", "a2", "a3"))
    assert all(out[n] == "b1" for n in ("b1", "b2", "b3"))


def test_bpe_apply_matches_python_applier(spark):
    """bpe_train + bpe_apply must reproduce the pure-Python greedy
    left-to-right merge application word by word."""
    from dygiepp_spark.functions.text import bpe_apply, bpe_train

    corpus = [
        "low low lower lowest newest newest",
        "widest newest low wide wider",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id bigint, text string"
    )
    merges = bpe_train(df, n_merges=5)
    assert merges

    def apply_word(w):
        sym = list(w)
        for a, b in merges:
            out, i = [], 0
            while i < len(sym):
                if i < len(sym) - 1 and (sym[i], sym[i + 1]) == (a, b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            sym = out
        return sym

    got = {r["doc_id"]: r for r in bpe_apply(df, merges).collect()}
    for i, t in enumerate(corpus):
        want = [p for w in t.split() for p in apply_word(w)]
        assert got[i]["subwords"] == want
        assert got[i]["n_subwords"] == len(want)
        assert got[i]["n_tok"] == len(t.split())


def test_pmi_ranks_collocations_over_chance_pairs(spark):
    from dygiepp_spark.functions.text import pmi_pairs

    # "new york" always adjacent; "the" ubiquitous, so ("the", x) pairs
    # have high counts but low PMI
    text = " ".join(["new york is the city the place the spot"] * 10)
    df = spark.createDataFrame([(text,)], "text string")
    out = pmi_pairs(df, k=3, min_count=2).collect()
    assert (out[0]["a"], out[0]["b"]) == ("new", "york")
    assert out[0]["pmi_q"] == max(r["pmi_q"] for r in out)


def test_degree_hist_star_graph(spark):
    from dygiepp_spark.operators.graph import degree_hist

    # star: hub degree 5 (log2 bin 2), five leaves degree 1 (bin 0)
    edges = spark.createDataFrame(
        [("hub", "p", f"l{i}") for i in range(5)],
        "subj_id string, pred string, obj_id string",
    )
    out = {r["deg"]: (r["n_nodes"], r["log2_bin"]) for r in degree_hist(edges).collect()}
    assert out == {5: (1, 2), 1: (5, 0)}


def test_bpe_handles_regex_quote_terminator_symbols(spark):
    """Symbols containing the literal '\\E' must not terminate the
    \\Q...\\E quoting (Pattern.quote semantics) — previously a crash."""
    from dygiepp_spark.functions.text import bpe_apply, bpe_train

    df = spark.createDataFrame(
        [(0, "\\Ea \\Eb \\Ec \\Ea \\Eb \\Ea")], "doc_id bigint, text string"
    )
    merges = bpe_train(df, n_merges=3)
    assert ("\\", "E") in merges
    out = bpe_apply(df, merges).collect()[0]
    assert out["subwords"][0] == "\\Ea"


def test_accept_rate_filtered_all_stopword_args_never_match(spark):
    """All-stopword arguments filter to '' — they must NOT vacuously
    jaccard-match another all-stopword argument (the reference's empty
    token lists can never match)."""
    from dygiepp_spark.operators.kg_eval import method_accept_rate_filtered

    preds = {"m": spark.createDataFrame(
        [("c1", "it", "totally unrelated words")],
        "conv_id string, arg0 string, arg1 string",
    )}
    gold = spark.createDataFrame(
        [("c1", "the", "totally unrelated words")],
        "conv_id string, arg0 string, arg1 string",
    )
    r = method_accept_rate_filtered(preds, gold, thresh=0.4).collect()[0]
    assert r["n_accept"] == 0 and r["n_false_accept"] == 0


def test_curation_lm_buckets_validated(spark, sf_dir, tmp_path):
    from dygiepp_spark.plans.pipeline import build_kg_pipeline

    with pytest.raises(ValueError, match="head/middle/tail"):
        build_kg_pipeline(
            spark, str(tmp_path), sf_dir, with_curation=True,
            curation_lm_buckets=("haed",),
        )
    with pytest.raises(ValueError, match="with_curation"):
        build_kg_pipeline(
            spark, str(tmp_path), sf_dir, with_curation=False,
            curation_lm_buckets=("head",),
        )
    # whitespace from a CLI 'head, middle' split is tolerated
    build_kg_pipeline(
        spark, str(tmp_path), sf_dir, with_curation=True,
        curation_lm_buckets=("head", " middle"),
    )


def test_tool_transitions_counts_consecutive_calls(spark):
    from dygiepp_spark.operators.transcript import tool_transitions

    rows = [
        ("c1", 0, "search"), ("c1", 2, "code"), ("c1", 5, "code"),
        ("c2", 1, "search"),  # single call: no transition
        ("c2", 3, "calc"),
    ]
    turns = spark.createDataFrame(
        [(c, i, "assistant", "x", t) for c, i, t in rows],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    out = {(r["tool_from"], r["tool_to"]): r["n"]
           for r in tool_transitions(turns).collect()}
    assert out == {("search", "code"): 1, ("code", "code"): 1,
                   ("search", "calc"): 1}


def test_calibration_bins_counts_and_top_edge_fold(spark):
    from dygiepp_spark.operators.kg_eval import calibration_bins

    pred = spark.createDataFrame(
        [
            # two occurrences of the same triple: max-conf dedup -> 0.45
            ("c1", "a", "b", "r", 0.45), ("c1", "a", "b", "r", 0.10),
            ("c1", "a", "c", "r", 0.44),   # same bin 4, misses gold
            ("c2", "x", "y", "s", 1.0),    # top edge folds into bin 9
            ("c2", "x", "z", "s", 0.05),   # bin 0, hits gold
        ],
        "conv_id string, arg0 string, arg1 string, label string, conf double",
    )
    gold = spark.createDataFrame(
        [("c1", "a", "b", "r", 1.0), ("c2", "x", "z", "s", 1.0),
         ("c3", "q", "q", "r", 1.0)],  # gold-only rows never counted
        "conv_id string, arg0 string, arg1 string, label string, conf double",
    )
    out = {r["bin"]: (r["n_pred"], r["n_correct"], r["accuracy"])
           for r in calibration_bins(pred, gold, bins=10).collect()}
    assert out == {
        4: (2, 1, 0.5),
        9: (1, 0, 0.0),
        0: (1, 1, 1.0),
    }


def test_schema_profile_rolls_up_type_signatures(spark):
    from dygiepp_spark.operators.graph import schema_profile

    edges = spark.createDataFrame(
        [
            ("e1", "uses", "e2", "c1"), ("e1", "uses", "e2", "c1"),
            ("e1", "uses", "e3", "c2"), ("e3", "made_by", "e1", "c2"),
        ],
        "subj_id string, pred string, obj_id string, conv_id string",
    )
    nodes = spark.createDataFrame(
        [("e1", "PERSON"), ("e2", "TOOL"), ("e3", "TOOL")],
        "entity_id string, type string",
    )
    out = {
        (r["subj_type"], r["pred"], r["obj_type"]): (r["n_edges"], r["n_convs"])
        for r in schema_profile(edges, nodes).collect()
    }
    assert out == {
        ("PERSON", "uses", "TOOL"): (3, 2),
        ("TOOL", "made_by", "PERSON"): (1, 1),
    }


def test_tool_chains_finds_longest_run_with_tie_order(spark):
    from dygiepp_spark.operators.transcript import tool_chains

    rows = [
        # c1: code,code,search,code -> longest run = code x2 at turn 0
        ("c1", 0, "code"), ("c1", 1, "code"), ("c1", 4, "search"),
        ("c1", 6, "code"),
        # c2: two length-2 runs -> tie breaks to lexicographically
        # smaller tool ('browse' over 'calc')
        ("c2", 0, "calc"), ("c2", 1, "calc"), ("c2", 2, "browse"),
        ("c2", 3, "browse"),
        # c3: gap in turn_idx does NOT split a run (call-subsequence
        # adjacency, non-tool turns skipped)
        ("c3", 0, "calc"), ("c3", 7, "calc"), ("c3", 9, "search"),
    ]
    turns = spark.createDataFrame(
        [(c, i, "assistant", "x", t) for c, i, t in rows],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    out = {r["conv_id"]: (r["tool"], r["run_len"], r["start_turn"])
           for r in tool_chains(turns).collect()}
    assert out == {
        "c1": ("code", 2, 0),
        "c2": ("browse", 2, 2),
        "c3": ("calc", 2, 0),
    }


def test_hot_entities_concentration_report(spark):
    from dygiepp_spark.operators.graph import hot_entities

    turns = spark.createDataFrame(
        [
            ("c1", 1, "assistant", "spark spark spark", None),
            ("c2", 1, "assistant", "spark stream", None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    dic = spark.createDataFrame(
        [("spark", "E1", "Spark", "TOOL"), ("stream", "E2", "Stream", "TOOL")],
        "surface string, entity_id string, canonical_text string, type string",
    )
    out = {r["entity_id"]: (r["n_mentions"], r["n_convs"], r["top_conv_n"],
                            r["top_share"])
           for r in hot_entities(turns, dic).collect()}
    assert out == {"E1": (4, 2, 3, 0.75), "E2": (1, 1, 1, 1.0)}


def test_entity_pmi_presence_counts_and_conv_cap(spark):
    from dygiepp_spark.operators.graph import entity_pmi

    turns = spark.createDataFrame(
        [
            # c1 and c2: spark+table co-occur (presence, despite bursts)
            ("c1", 1, "assistant", "spark spark table", None),
            ("c2", 1, "assistant", "spark table", None),
            # c3: three entities -> excluded by max_conv_entities=2,
            # but still counts toward the singles denominators
            ("c3", 1, "assistant", "spark table row", None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    dic = spark.createDataFrame(
        [("spark", "E1", "Spark", "TOOL"), ("table", "E2", "Table", "TOOL"),
         ("row", "E3", "Row", "TOOL")],
        "surface string, entity_id string, canonical_text string, type string",
    )
    out = {(r["e1"], r["e2"]): (r["c_ab"], r["c_a"], r["c_b"], r["pmi_q"])
           for r in entity_pmi(turns, dic, min_count=2,
                               max_conv_entities=2).collect()}
    # c_ab=2 (c1, c2 only), c_a=c_b=3 (all three convs), 2*1e6//9
    assert out == {("E1", "E2"): (2, 3, 3, 222222)}


def test_assortativity_star_is_minus_one_and_regular_is_null(spark):
    from dygiepp_spark.operators.graph import assortativity

    star = spark.createDataFrame(
        [("c", "p", "l1"), ("c", "p", "l2"), ("c", "p", "l3")],
        "subj_id string, pred string, obj_id string",
    )
    row = assortativity(star).collect()[0]
    assert (row["n_ends"], row["sum_x"], row["sum_xy"], row["sum_xx"]) == (
        6, 12, 18, 30,
    )
    assert row["r"] == -1.0  # perfectly disassortative
    # a triangle is 2-regular: zero variance -> NULL r, not a crash
    tri = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("a", "p", "c")],
        "subj_id string, pred string, obj_id string",
    )
    assert assortativity(tri).collect()[0]["r"] is None


def test_mention_contexts_windows_and_normalization(spark):
    from dygiepp_spark.operators.linking import mention_contexts

    turns = spark.createDataFrame(
        # double space -> an empty raw token, which the token rule drops;
        # '/.' normalizes inside the right window
        [("c1", 1, "assistant", "alpha  spark /. beta gamma", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    dic = spark.createDataFrame(
        [("spark", "E1", "Spark", "TOOL")],
        "surface string, entity_id string, canonical_text string, type string",
    )
    rows = mention_contexts(turns, dic, k=3).collect()
    assert len(rows) == 1
    r = rows[0]
    # positions over the non-empty tokens: alpha(0) spark(1) /.(2)
    # beta(3) gamma(4)
    assert r["start"] == 1 and r["entity_id"] == "E1"
    assert r["left_ctx"] == "alpha"
    assert r["right_ctx"] == ". beta gamma"  # '/.' normalized


def test_shard_manifest_is_exhaustive_and_deterministic(spark, sf_dir):
    from dygiepp_spark.functions.text import shard_manifest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m = shard_manifest(docs, n_shards=8).collect()
    assert sum(r["n_docs"] for r in m) == docs.count()
    assert {r["shard"] for r in m} <= set(range(8))
    # placement is a pure function of doc_id: a repartitioned rerun
    # produces the identical manifest
    again = shard_manifest(docs.repartition(13), n_shards=8).collect()
    assert sorted(map(tuple, m)) == sorted(map(tuple, again))


def test_predicate_reciprocity_same_pred_only(spark):
    from dygiepp_spark.operators.graph import predicate_reciprocity

    edges = spark.createDataFrame(
        [
            # 'knows': both directions -> 2/2 reciprocal
            ("a", "knows", "b", "c1"), ("b", "knows", "a", "c1"),
            # 'uses': reverse exists only under a DIFFERENT pred -> 0/1
            ("a", "uses", "b", "c1"), ("b", "likes", "a", "c1"),
            # duplicates collapse before counting
            ("a", "knows", "b", "c2"),
        ],
        "subj_id string, pred string, obj_id string, conv_id string",
    )
    out = {r["pred"]: (r["n_edges"], r["n_recip"], r["reciprocity"])
           for r in predicate_reciprocity(edges).collect()}
    assert out == {
        "knows": (2, 2, 1.0),
        "uses": (1, 0, 0.0),
        "likes": (1, 0, 0.0),
    }


def test_source_overlap_shared_fingerprints_and_containment(spark):
    from dygiepp_spark.functions.text import source_overlap

    docs = spark.createDataFrame(
        [
            # s1 doc 1 is copied verbatim into s2 (identical fingerprint);
            # s1 doc 2 and s2 doc 4 are unrelated; s3 has one unique doc
            (1, "the quick brown fox jumps over the lazy dog", "en", "s1", 0),
            (2, "completely different text body number two here", "en", "s1", 0),
            (3, "the quick brown fox jumps over the lazy dog", "en", "s2", 0),
            # shingle-DISJOINT from every other doc (fp_0 is a min over
            # shared 5-grams, so any common shingle can collide sources)
            (4, "zzzzz yyyyy xxxxx wwwww vvvvv uuuuu", "en", "s2", 0),
            (5, "11111 22222 33333 44444 55555 66666", "en", "s3", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    out = {(r["source_a"], r["source_b"]): (r["n_shared"], r["n_a"], r["n_b"],
                                            r["containment"])
           for r in source_overlap(docs).collect()}
    assert out[("s1", "s2")] == (1, 2, 2, 0.5)
    assert ("s1", "s3") not in out and ("s2", "s3") not in out


def test_kg_novelty_ownership_and_ratios(spark):
    from dygiepp_spark.operators.graph import kg_novelty

    edges = spark.createDataFrame(
        [
            # triple T1 asserted by c1 (owner) and c2; T2 only by c2;
            # c1 repeats T1 twice (occurrences != triples)
            ("a", "p", "b", "c1"), ("a", "p", "b", "c1"),
            ("a", "p", "b", "c2"), ("x", "q", "y", "c2"),
        ],
        "subj_id string, pred string, obj_id string, conv_id string",
    )
    out = {r["conv_id"]: (r["n_occurrences"], r["n_triples"], r["n_owned"],
                          r["novelty"])
           for r in kg_novelty(edges).collect()}
    assert out == {
        "c1": (2, 1, 1, 1.0),   # owns T1 (lexicographically first)
        "c2": (2, 2, 1, 0.5),   # touches T1+T2, owns only T2
    }


def test_length_curriculum_tertile_partition(spark):
    from dygiepp_spark.functions.text import length_curriculum

    # lengths 1..9: tertiles at rank floor(q*(N-1))+1 -> t1=3, t2=6
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * i), "en", "s", 0) for i in range(1, 10)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    out = {r["doc_id"]: r["stage"]
           for r in length_curriculum(docs).collect()}
    assert out == {1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: 1, 7: 2, 8: 2, 9: 2}


def test_bloom_decontam_never_misses_exact_hits(spark, sf_dir):
    from dygiepp_spark.operators.decontam import bloom_decontam, decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    exact = {r["doc_id"]: r["n_hit_grams"]
             for r in decontaminate(corpus, benchmark, n=3).collect()}
    bloom = {r["doc_id"]: (r["n_maybe_grams"], r["flagged"])
             for r in bloom_decontam(corpus, benchmark, n=3).collect()}
    assert set(exact) == set(bloom)
    for doc_id, n_hit in exact.items():
        n_maybe, flagged = bloom[doc_id]
        # bloom filters have no false negatives: maybe-set >= true-set
        assert n_maybe >= n_hit
        if n_hit > 0:
            assert flagged


def test_turn_length_drift_exact_means(spark):
    from dygiepp_spark.operators.transcript import turn_length_drift

    turns = spark.createDataFrame(
        [("c1", 0, "user", "a b c", None), ("c2", 0, "user", "a", None),
         ("c1", 1, "assistant", "x y", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    out = {r["turn_idx"]: (r["n_turns"], r["mean_tokens"])
           for r in turn_length_drift(turns).collect()}
    assert out == {0: (2, 2.0), 1: (1, 2.0)}


def test_ngram_coverage_tie_inclusive_cut(spark):
    from dygiepp_spark.functions.text import ngram_coverage

    # counts: a=4, b=2, c=2, d=1 -> k=2 threshold is 2, ties included
    docs = spark.createDataFrame(
        [(1, "a a a a b b c c d", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    r = ngram_coverage(docs, k=2).collect()[0]
    assert (r["n_top_types"], r["covered"], r["total"]) == (3, 8, 9)
    assert r["coverage"] == 8 / 9
    # k beyond the vocabulary: everything covered
    r2 = ngram_coverage(docs, k=50).collect()[0]
    assert (r2["n_top_types"], r2["coverage"]) == (4, 1.0)


def test_ntriples_roundtrip_preserves_edge_set(spark, tmp_path):
    from dygiepp_spark.sources.jsonl import (
        read_edges_ntriples, write_edges_ntriples,
    )

    edges = spark.createDataFrame(
        [("S:a", "uses", "E1", "c1"), ("S:a", "uses", "E1", "c2"),
         ("E2", "made_by", "S:b", "c1")],
        "subj_id string, pred string, obj_id string, conv_id string",
    )
    path = str(tmp_path / "nt")
    write_edges_ntriples(edges, path)
    lines = {r["value"] for r in spark.read.text(path).collect()}
    assert "<urn:kg:e/S:a> <urn:kg:p/uses> <urn:kg:e/E1> ." in lines
    assert len(lines) == 2  # occurrences deduped to the distinct set
    back = {tuple(r) for r in read_edges_ntriples(spark, path).collect()}
    assert back == {("S:a", "uses", "E1"), ("E2", "made_by", "S:b")}


def test_dedup_rate_by_source_counts_align_with_compaction(spark, sf_dir):
    from dygiepp_spark.operators import compaction as CP
    from dygiepp_spark.operators.dedup import doc_chunks, near_dups_minhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = CP.dedup_rate_by_source(docs).collect()
    assert out
    # chunk totals must add up to 2 chunks per doc, drops to the
    # non-keeper count of the underlying compaction
    chunks = doc_chunks(docs)
    pairs = near_dups_minhash(chunks).select("id_a", "id_b")
    nodes = chunks.select(F.col("chunk_id").alias("id"))
    comp = CP.compact_corpus(CP.near_dup_groups(pairs, nodes))
    assert sum(r["n_chunks"] for r in out) == 2 * docs.count()
    assert (sum(r["n_dropped"] for r in out)
            == comp.filter(~F.col("is_keeper")).count())
    for r in out:
        assert 0.0 <= r["drop_rate"] <= 1.0


def test_cluster_size_hist_counts(spark):
    from dygiepp_spark.operators.coref import cluster_size_hist

    clusters = spark.createDataFrame(
        # c1: one 3-chain + one singleton; c2: one 2-chain; cluster ids
        # only unique WITHIN a conv — the (conv, cluster) key matters
        [("c1", 0, "A"), ("c1", 1, "A"), ("c1", 2, "A"), ("c1", 3, "B"),
         ("c2", 0, "A"), ("c2", 1, "A")],
        "conv_id string, mention_ix int, cluster_id string",
    )
    out = {r["size"]: (r["n_clusters"], r["n_mentions"])
           for r in cluster_size_hist(clusters).collect()}
    assert out == {3: (1, 3), 1: (1, 1), 2: (1, 2)}


def test_gap_hist_bins_and_zero_gap(spark):
    from dygiepp_spark.operators.transcript import gap_hist

    turns = spark.createDataFrame(
        # gaps within c1: 1, 3, 60; c2: 0 (same-second -> bin -1) then
        # -4 (clock regression -> bin -2, NOT the zero bucket)
        [("c1", 0, "user", "x", None, 0), ("c1", 1, "assistant", "x", None, 1),
         ("c1", 2, "user", "x", None, 4), ("c1", 3, "user", "x", None, 64),
         ("c2", 0, "user", "x", None, 9), ("c2", 1, "user", "x", None, 9),
         ("c2", 2, "user", "x", None, 5)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts_sec long",
    )
    out = {r["log2_bin"]: (r["n_gaps"], r["min_gap"], r["max_gap"])
           for r in gap_hist(turns).collect()}
    assert out == {
        0: (1, 1, 1),      # gap 1
        1: (1, 3, 3),      # gap 3 -> floor(log2)=1
        5: (1, 60, 60),    # gap 60 -> 5
        -1: (1, 0, 0),     # zero gap
        -2: (1, -4, -4),   # negative gap: ordering corruption surfaced
    }


def test_minhash_error_hist_mass_matches_verified_pairs(spark, sf_dir):
    from dygiepp_spark.operators.dedup import (
        doc_chunks, minhash_error_hist, near_dups_minhash,
    )

    chunks = doc_chunks(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    hist = minhash_error_hist(chunks).collect()
    assert hist
    # every verified pair lands in exactly one bin, bins are deciles
    assert sum(r["n_pairs"] for r in hist) == near_dups_minhash(chunks).count()
    assert all(0 <= r["err_bin"] <= 9 for r in hist)
    # a sane 16x2 configuration concentrates mass at small error
    low = sum(r["n_pairs"] for r in hist if r["err_bin"] <= 2)
    assert low >= 0.5 * sum(r["n_pairs"] for r in hist)


def test_pack_efficiency_accounts_every_doc_and_token(spark, sf_dir):
    from dygiepp_spark.functions.text import (
        pack_efficiency, pack_sequences, word_token_count,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r = pack_efficiency(docs, budget=2048).collect()[0]
    assert r["n_docs"] == docs.count()
    total = word_token_count(docs).agg(F.sum("n_tokens")).collect()[0][0]
    assert r["total_tokens"] == total
    # packs are contiguous budget windows over the running offset, so
    # every pack except possibly the last is start-attributed near full
    assert r["n_packs"] == pack_sequences(docs, budget=2048).agg(
        F.count_distinct("pack_id")).collect()[0][0]
    # start-attribution means a doc longer than the budget inflates its
    # start pack's fill — only positivity is an invariant
    assert r["mean_fill"] > 0


def test_source_language_mix_shares(spark):
    from dygiepp_spark.functions.text import source_language_mix

    docs = spark.createDataFrame(
        [(1, "the of and is a", "en", "s1", 0),
         (2, "el la de y es", "es", "s1", 0),
         (3, "qq ww ee", "en", "s2", 0)],  # no stopword hits -> und
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    out = {(r["source"], r["pred_lang"]): (r["n_docs"], r["share"])
           for r in source_language_mix(docs).collect()}
    assert out[("s1", "en")] == (1, 0.5)
    assert out[("s1", "es")] == (1, 0.5)
    assert out[("s2", "und")] == (1, 1.0)


def test_role_vocab_divergence_ppm_and_floor(spark):
    from dygiepp_spark.operators.transcript import role_vocab_divergence

    rows = [("user", "x x x"), ("assistant", "x y y y y y")]
    turns = spark.createDataFrame(
        [(f"c", i, r, t, None) for i, (r, t) in enumerate(rows)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    out = {r["token"]: (r["n_user"], r["n_assistant"], r["assistant_ppm"])
           for r in role_vocab_divergence(turns, min_count=4).collect()}
    # x: 3 user + 1 assistant = 4 total -> 1e6 div 4 = 250000
    # y: 0 + 5 -> 1000000; min_count=4 keeps both
    assert out == {"x": (3, 1, 250000), "y": (0, 5, 1000000)}


def test_quality_decile_yield_conserves_and_bins(spark, sf_dir):
    from dygiepp_spark.functions.text import (
        composite_filter, quality_decile_yield,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    out = quality_decile_yield(docs).collect()
    assert sum(r["n_docs"] for r in out) == docs.count()
    kept = composite_filter(docs).filter(F.col("keep")).count()
    assert sum(r["n_kept"] for r in out) == kept
    assert all(0 <= r["q_bin"] <= 9 for r in out)


def test_simhash_hamming_hist_mass_and_threshold_cut(spark, sf_dir):
    from dygiepp_spark.operators.dedup import (
        doc_chunks, near_dups_simhash, simhash_hamming_hist,
    )

    chunks = doc_chunks(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    hist = {r["hamming"]: r["n_pairs"]
            for r in simhash_hamming_hist(chunks).collect()}
    assert hist
    # the <= 6 cut of the histogram equals the production pair count
    cut = sum(n for h, n in hist.items() if h <= 6)
    assert cut == near_dups_simhash(chunks, max_hamming=6).count()


def test_decontam_rate_by_source_ties_to_doc_verdicts(spark, sf_dir):
    from dygiepp_spark.operators.decontam import (
        decontam_rate_by_source, decontaminate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text", "source"
    )
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    out = decontam_rate_by_source(corpus, benchmark, n=3).collect()
    assert sum(r["n_docs"] for r in out) == corpus.count()
    total_contam = decontaminate(
        corpus.select("doc_id", "text"), benchmark, n=3
    ).filter(F.col("contaminated")).count()
    assert sum(r["n_contaminated"] for r in out) == total_contam


def test_event_schema_profile_role_shares(spark):
    from dygiepp_spark.operators.extraction import event_schema_profile

    events = spark.createDataFrame(
        [("c1", "op_join", "arg0"), ("c1", "op_join", "arg0"),
         ("c2", "op_join", "arg1"), ("c1", "op_scan", "arg1")],
        "conv_id string, event_type string, role string",
    )
    out = {(r["event_type"], r["role"]):
           (r["n_args"], r["n_convs"], r["role_share"])
           for r in event_schema_profile(events).collect()}
    assert out == {
        ("op_join", "arg0"): (2, 1, 2 / 3),
        ("op_join", "arg1"): (1, 1, 1 / 3),
        ("op_scan", "arg1"): (1, 1, 1.0),
    }


def test_edge_confidence_profile_shares(spark):
    from dygiepp_spark.operators.graph import edge_confidence_profile

    edges = spark.createDataFrame(
        [("a", "p", "b", "c1", 0.5), ("a", "p", "c", "c1", 0.5),
         ("a", "p", "d", "c1", 0.25), ("x", "q", "y", "c2", 0.5)],
        "subj_id string, pred string, obj_id string, conv_id string,"
        " conf double",
    )
    out = {(r["pred"], r["conf"]): (r["n_edges"], r["share"])
           for r in edge_confidence_profile(edges).collect()}
    assert out == {
        ("p", 0.5): (2, 2 / 3),
        ("p", 0.25): (1, 1 / 3),
        ("q", 0.5): (1, 1.0),
    }


def test_provenance_integrity_detects_each_corruption_class(spark):
    from dygiepp_spark.operators.graph import provenance_integrity

    edges = spark.createDataFrame(
        [
            ("c1", 1, "extract:c1:1:2:5"),     # healthy
            ("c1", 1, "garbage"),              # malformed
            ("c1", 1, "extract:OTHER:1:2:5"),  # conv mismatch
            ("c1", 1, "extract:c1:1:5:2"),     # span violation
        ],
        "conv_id string, turn_idx int, provenance string",
    )
    r = provenance_integrity(edges).collect()[0]
    assert (r["n_edges"], r["n_malformed"], r["n_mismatched"],
            r["n_span_violations"]) == (4, 1, 1, 1)


def test_coverage_curve_monotone_and_matches_single_k(spark, sf_dir):
    from dygiepp_spark.functions.text import coverage_curve, ngram_coverage

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    curve = {r["k"]: (r["n_top_types"], r["covered"], r["total"],
                      r["coverage"])
             for r in coverage_curve(docs, ks=(1, 5, 10)).collect()}
    assert list(curve) and len(curve) == 3
    # coverage is monotone non-decreasing in k; totals constant
    assert curve[1][3] <= curve[5][3] <= curve[10][3]
    assert curve[1][2] == curve[5][2] == curve[10][2]
    # each row equals the standalone single-k operator
    single = ngram_coverage(docs, k=5).collect()[0]
    assert curve[5] == (single["n_top_types"], single["covered"],
                        single["total"], single["coverage"])


def test_filter_rate_by_source_conserves_verdicts(spark, sf_dir):
    from dygiepp_spark.functions.text import (
        composite_filter, filter_rate_by_source,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text", "source"
    )
    out = filter_rate_by_source(docs).collect()
    assert sum(r["n_docs"] for r in out) == docs.count()
    kept = composite_filter(docs.select("doc_id", "text")).filter(
        F.col("keep")
    ).count()
    assert sum(r["n_kept"] for r in out) == kept
