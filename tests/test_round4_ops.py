"""Unit tests for the round-4 operators: as-of join, integer PageRank,
substring-window dedup, turn-taking structure."""

from __future__ import annotations

import pyspark.sql.functions as F

from dygiepp_spark.operators.dedup import substring_dup_spans
from dygiepp_spark.operators.graph import PR_SCALE, pagerank
from dygiepp_spark.operators.temporal import asof_join
from dygiepp_spark.operators.transcript import turn_taking


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ---------------------------------------------------------------- asof_join

def test_asof_basic_match_and_miss(spark):
    left = spark.createDataFrame(
        [("k1", 10, "a"), ("k1", 5, "b"), ("k2", 7, "c")],
        "key string, ts bigint, tag string",
    )
    right = spark.createDataFrame(
        [("k1", 4, 100), ("k1", 9, 101), ("k3", 1, 102)],
        "key string, ts bigint, eid int",
    )
    out = asof_join(left, right, ["key"], "ts", "ts", ["eid"])
    got = _rows(out, "tag", "eid")
    # ts=10 sees eid 101 (ts 9); ts=5 sees eid 100 (ts 4); k2 has no events
    assert got == [("a", 101), ("b", 100), ("c", None)]


def test_asof_equal_ts_inclusive_and_tiebreak(spark):
    left = spark.createDataFrame([("k", 5, "x")], "key string, ts bigint, tag string")
    right = spark.createDataFrame(
        [("k", 5, 1), ("k", 5, 9), ("k", 5, 4)], "key string, ts bigint, eid int"
    )
    out = asof_join(left, right, ["key"], "ts", "ts", ["eid"])
    # equal timestamp matches ("at or before"); max payload (eid) wins ties
    assert _rows(out, "eid") == [(9,)]


def test_asof_preserves_left_row_count(spark, sf_dir):
    import __spark_entry__ as entry

    out = entry.q_asof_events(spark, sf_dir)
    n_turns = entry._turns(spark, sf_dir).count()
    assert out.count() == n_turns


# ---------------------------------------------------------------- pagerank

def test_pagerank_two_node_chain(spark):
    # a -> b: after one iteration r(b) = 150000 + (1000000*85)//(100*1)
    edges = spark.createDataFrame([("a", "x", "b")], "subj_id string, pred string, obj_id string")
    out = {r["node_id"]: r["rank"] for r in pagerank(edges, iterations=1).collect()}
    assert out["a"] == 150_000  # no in-edges
    assert out["b"] == 150_000 + (PR_SCALE * 85) // 100


def test_pagerank_outdeg_split_and_parallel_edge_collapse(spark):
    # a -> b and a -> c (outdeg 2), plus a duplicate predicate edge a->b
    # that must NOT double b's contribution
    edges = spark.createDataFrame(
        [("a", "x", "b"), ("a", "y", "b"), ("a", "x", "c")],
        "subj_id string, pred string, obj_id string",
    )
    out = {r["node_id"]: r["rank"] for r in pagerank(edges, iterations=1).collect()}
    assert out["b"] == out["c"] == 150_000 + (PR_SCALE * 85) // 200


def test_pagerank_mass_is_monotone_ranking(spark):
    # star: many -> hub. Hub must outrank leaves after any #iterations.
    edges = spark.createDataFrame(
        [(f"l{i}", "x", "hub") for i in range(5)],
        "subj_id string, pred string, obj_id string",
    )
    out = {r["node_id"]: r["rank"] for r in pagerank(edges, iterations=3).collect()}
    assert all(out["hub"] > out[f"l{i}"] for i in range(5))


# ---------------------------------------------------- substring_dup_spans

def test_substring_dups_found_across_docs(spark):
    shared = " ".join(f"w{i}" for i in range(16))
    docs = spark.createDataFrame(
        [
            (1, shared + " tail1 tail2"),
            (2, "head1 head2 " + shared),
            (3, "completely different words " + " ".join(f"z{i}" for i in range(16))),
        ],
        "doc_id bigint, text string",
    )
    out = substring_dup_spans(docs, window=16).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_docs"] == 2 and row["n_occurrences"] == 2
    # first occurrence = min (doc, pos): doc 1, pos 1
    assert row["first_doc"] == 1 and row["first_pos"] == 1


def test_substring_no_dups_no_rows(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(f"a{i}" for i in range(20))),
         (2, " ".join(f"b{i}" for i in range(20)))],
        "doc_id bigint, text string",
    )
    assert substring_dup_spans(docs, window=16).count() == 0


def test_substring_within_doc_repeat_counts_occurrences(spark):
    block = " ".join(f"r{i}" for i in range(16))
    docs = spark.createDataFrame(
        [(7, block + " mid " + block)], "doc_id bigint, text string"
    )
    out = substring_dup_spans(docs, window=16).collect()
    hit = [r for r in out if r["n_occurrences"] == 2 and r["n_docs"] == 1]
    assert hit and hit[0]["first_doc"] == 7


# ------------------------------------------------------------- turn_taking

def test_turn_taking_runs(spark):
    turns = spark.createDataFrame(
        [
            ("c1", 0, "user"), ("c1", 1, "user"), ("c1", 2, "assistant"),
            ("c1", 3, "user"),
            ("c2", 0, "assistant"),
        ],
        "conv_id string, turn_idx int, role string",
    )
    out = {r["conv_id"]: r for r in turn_taking(turns).collect()}
    c1 = out["c1"]
    assert (c1["n_turns"], c1["n_switches"], c1["n_runs"], c1["max_run_len"]) == (
        4, 2, 3, 2,
    )
    assert c1["first_role"] == "user" and c1["last_role"] == "user"
    c2 = out["c2"]
    assert (c2["n_runs"], c2["max_run_len"]) == (1, 1)
    assert c2["first_role"] == c2["last_role"] == "assistant"


# ------------------------------------------------------------- triangles

def test_triangle_counts_k4(spark):
    # complete graph on 4 nodes: C(4,3)=4 triangles, each node in 3
    nodes = ["a", "b", "c", "d"]
    edges = spark.createDataFrame(
        [(x, "p", y) for i, x in enumerate(nodes) for y in nodes[i + 1:]],
        "subj_id string, pred string, obj_id string",
    )
    from dygiepp_spark.operators.graph import triangle_counts

    out = {r["node_id"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert out == {n: 3 for n in nodes}


def test_triangle_counts_path_has_none_and_dups_ignored(spark):
    # path a-b-c (no triangle) + duplicate/parallel/self edges must not
    # fabricate one
    edges = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("b", "q", "a"), ("a", "p", "a")],
        "subj_id string, pred string, obj_id string",
    )
    from dygiepp_spark.operators.graph import triangle_counts

    assert triangle_counts(edges).count() == 0


def test_triangle_counts_star_plus_rim(spark):
    # hub h connected to r1..r4, rim edges r1-r2 and r3-r4:
    # triangles (h,r1,r2) and (h,r3,r4) — hub in 2, rims in 1
    rows = [("h", "p", f"r{i}") for i in range(1, 5)] + [
        ("r1", "p", "r2"),
        ("r3", "p", "r4"),
    ]
    edges = spark.createDataFrame(rows, "subj_id string, pred string, obj_id string")
    from dygiepp_spark.operators.graph import triangle_counts

    out = {r["node_id"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert out == {"h": 2, "r1": 1, "r2": 1, "r3": 1, "r4": 1}


# ---------------------------------------------------------- orc roundtrip

def test_orc_roundtrip_bit_exact(spark, tmp_path):
    from dygiepp_spark.sources.jsonl import read_triples_orc, write_triples_orc

    df = spark.createDataFrame(
        [("c1", "s t", "a", "b", "rel", 0.1 + 0.2), ("c2", "u", "x", "y", "rel2", 1.0 / 3.0)],
        "conv_id string, sent_text string, arg0 string, arg1 string, label string, conf double",
    )
    p = str(tmp_path / "orc")
    write_triples_orc(df, p)
    back = read_triples_orc(spark, p)
    # bit-exact doubles: exceptAll both ways is empty
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0


# ------------------------------------------------------- negative_samples

def test_negative_samples_never_emit_positives(spark):
    from dygiepp_spark.operators.graph import negative_samples

    edges = spark.createDataFrame(
        [("E1", "p", "E2"), ("E2", "q", "E3")],
        "subj_id string, pred string, obj_id string",
    )
    ents = spark.createDataFrame(
        [(f"E{i}",) for i in range(1, 6)], "entity_id string"
    )
    out = negative_samples(edges, ents, k=4).collect()
    assert out, "expected at least one surviving negative"
    pos = {("E1", "p", "E2"), ("E2", "q", "E3")}
    for r in out:
        assert (r["subj_id"], r["pred"], r["neg_obj"]) not in pos
        assert r["neg_obj"] in {f"E{i}" for i in range(1, 6)}


def test_negative_samples_deterministic(spark):
    from dygiepp_spark.operators.graph import negative_samples

    edges = spark.createDataFrame(
        [("E1", "p", "E2")], "subj_id string, pred string, obj_id string"
    )
    ents = spark.createDataFrame([(f"E{i}",) for i in range(9)], "entity_id string")
    a = sorted(map(tuple, negative_samples(edges, ents, k=5).collect()))
    b = sorted(map(tuple, negative_samples(edges, ents, k=5).collect()))
    assert a == b and len(a) <= 5


# ---------------------------------------------- length_quantiles / domains

def test_length_quantiles_exact_small(spark):
    from dygiepp_spark.functions.text import length_quantiles

    # lengths 1..5 -> N=5, rank(q) = floor(q*4)+1
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * i)) for i in range(1, 6)], "doc_id bigint, text string"
    )
    got = {r["q"]: r["n_tok"] for r in length_quantiles(docs).collect()}
    assert got == {0.0: 1, 0.25: 2, 0.5: 3, 0.75: 4, 1.0: 5}


def test_domain_stats_rollup(spark):
    from dygiepp_spark.functions.web import default_blocklist, domain_stats

    docs = spark.createDataFrame(
        [
            (1, "a b https://x.example0.com/p https://y.good.org/q"),
            (2, "c https://z.example0.com/r"),
            (3, "no urls here"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["domain"]: r for r in domain_stats(docs, default_blocklist(spark)).collect()}
    assert set(out) == {"example0.com", "good.org"}
    e0 = out["example0.com"]
    assert (e0["n_docs"], e0["n_mentions"], bool(e0["is_blocked"])) == (2, 2, True)
    # doc 1 has 4 whitespace tokens incl. URLs, doc 2 has 2
    assert e0["total_doc_tokens"] == 4 + 2
    g = out["good.org"]
    assert (g["n_docs"], g["n_mentions"], bool(g["is_blocked"])) == (1, 1, False)


# ------------------------------------------------------ registry invariants

def test_registry_invariants():
    """Driver-contract hygiene: every query callable has an oracle twin
    (the rows-only transformer excepted), oracle keys never dangle, and
    the 50-entry harness window holds only oracle-checkable queries."""
    import __spark_entry__ as entry

    qs = entry.queries()
    osql = entry.oracle_sql()
    assert len(qs) == len(set(qs)), "duplicate query keys"
    dangling = [k for k in osql if k not in qs]
    assert not dangling, f"oracle keys without queries: {dangling}"
    missing = [k for k in qs if k not in osql]
    assert missing == ["triples_transformer"], (
        f"queries without oracles: {missing}"
    )
    window = list(qs)[:50]
    assert "triples_transformer" not in window, (
        "a rows-only query is burning a harness window slot"
    )
    # round-5 rotation contract (VERDICT r4 #1): every query added at the
    # r4 tail — local-parity evidence only, no driver row yet — must sit
    # inside the 50-entry window this round, along with the round-5-new
    # and round-5-changed-chain queries
    must_be_in_window = {
        "asof_events", "pagerank", "pagerank_weighted", "kcore",
        "negative_samples", "triangles", "substring_dedup",
        "turn_taking", "response_latency", "length_quantiles",
        "domain_stats", "orc_roundtrip", "partitioned_sink",
        "streaming_asof", "streaming_sessions",
        "ie_eval_partial", "ie_eval_firsttok", "accept_rate_filtered",
        "human_eval_sheet", "human_eval_scores",
        "lm_score", "lpa_communities",
        "intra_dedup", "pack_sequences", "kg_components",
        "streaming_kg_agg", "degree_hist",
        "tool_usage", "tool_transitions",
        "eval_grid", "grid_best_cell",
    }
    out = must_be_in_window - set(window)
    assert not out, f"rotation contract broken, missing from window: {out}"
    for k, sql in osql.items():
        assert isinstance(sql, str) and sql.strip().upper().startswith(
            ("WITH", "SELECT")
        ), f"oracle for {k} is not a SQL string"


# ------------------------------------------------------------------ k-core

def test_kcore_peels_tail(spark):
    from dygiepp_spark.operators.graph import kcore_fixpoint

    # triangle a-b-c (2-core) with a pendant chain c-d-e that must peel off
    rows = [("a", "p", "b"), ("b", "p", "c"), ("a", "p", "c"),
            ("c", "p", "d"), ("d", "p", "e")]
    edges = spark.createDataFrame(rows, "subj_id string, pred string, obj_id string")
    out = {r["node_id"]: r["deg"] for r in kcore_fixpoint(edges, k=2).collect()}
    assert out == {"a": 2, "b": 2, "c": 2}


def test_kcore_empty_when_tree(spark):
    from dygiepp_spark.operators.graph import kcore_fixpoint

    rows = [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d")]
    edges = spark.createDataFrame(rows, "subj_id string, pred string, obj_id string")
    assert kcore_fixpoint(edges, k=2).count() == 0
