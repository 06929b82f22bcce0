"""Unit tests for the corpus-curation layer added in round 3 part 2:
connected components, composite quality filter, URL hygiene, and the
resize / audio-chunk multimodal kernels."""

from __future__ import annotations

import pyspark.sql.functions as F

from dygiepp_spark.functions import text as TX
from dygiepp_spark.functions import web as WB
from dygiepp_spark.operators import multimodal as MM
from dygiepp_spark.operators.graph import kg_components


# --------------------------------------------------------------------------
# connected components (graph.kg_components, which groups near-duplicates
# as well as KG entities)
# --------------------------------------------------------------------------

def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, "p", b) for a, b in pairs],
        "subj_id string, pred string, obj_id string",
    )


def test_near_dup_groups_chain_merges_transitively(spark):
    # a-b and b-c edges must land in ONE group even though (a, c) was
    # never an edge; d-e is a second group
    edges = _edges(spark, [("a", "b"), ("b", "c"), ("d", "e")])
    got = {(r["node_id"], r["label"]) for r in kg_components(edges).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d")}


def test_near_dup_groups_long_path_converges_log_rounds(spark):
    # a 13-node path graph needs label distance 12; pointer doubling must
    # close it within COMPONENTS_MAX_ROUNDS
    edges = _edges(spark, [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)])
    out = kg_components(edges).collect()
    assert len(out) == 13
    assert {r["label"] for r in out} == {"n00"}


# --------------------------------------------------------------------------
# composite quality filter
# --------------------------------------------------------------------------

def _filter_row(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    return TX.composite_filter(df).collect()[0]


def test_composite_filter_too_short_sets_bit0(spark):
    r = _filter_row(spark, "the quick brown fox jumps high")
    assert r["reason_bits"] & 1
    assert not r["keep"]


def test_composite_filter_repetition_sets_bits(spark):
    # 30 copies of one token: dup_token_frac ~ 0.97 (bit 3) and the top
    # 2-gram covers every position (bit 4)
    r = _filter_row(spark, " ".join(["foobar"] * 30))
    assert r["reason_bits"] & (1 << 3)
    assert r["reason_bits"] & (1 << 4)


def test_composite_filter_clean_doc_keeps(spark):
    words = [
        "the", "pipeline", "writes", "partitioned", "parquet", "files",
        "with", "their", "schema", "and", "that", "reader", "merges",
        "them", "into", "this", "stable", "snapshot", "for", "analysis",
        "under", "consistent", "ordering", "rules", "always",
    ]
    r = _filter_row(spark, " ".join(words))
    assert r["reason_bits"] == 0
    assert r["keep"]


# --------------------------------------------------------------------------
# URL hygiene
# --------------------------------------------------------------------------

def test_url_stats_counts_and_blocklist(spark):
    docs = spark.createDataFrame(
        [
            (1, "go to https://a.example0.com/x and https://ok.example1.com/y"),
            (2, "no urls at all here"),
            (3, "http://www.example3.com/z"),
        ],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in
            WB.url_stats(docs, WB.default_blocklist(spark)).collect()}
    assert rows[1]["n_urls"] == 2 and rows[1]["n_blocked"] == 1
    assert not rows[1]["keep"]
    assert rows[2]["n_urls"] == 0 and rows[2]["keep"]  # explode_outer path
    assert rows[3]["n_blocked"] == 1 and not rows[3]["keep"]


def test_registered_domain_strips_subdomains(spark):
    df = spark.createDataFrame([("deep.sub.host.example.com",)], "h string")
    assert (
        df.select(WB.registered_domain(F.col("h")).alias("rd")).collect()[0]["rd"]
        == "example.com"
    )


# --------------------------------------------------------------------------
# multimodal kernels
# --------------------------------------------------------------------------

def test_resize_image_aspect_fit_integer_math(spark):
    # payload 'A@...' -> width 1 + 65 % 64 = 2, height 1 + 64 % 64 = 1;
    # max dim 16 -> out 16 x 8
    text = "A@" + "x" * 62
    docs = spark.createDataFrame([(5, text)], "doc_id bigint, text string")
    r = MM.resize_image(docs).collect()[0]
    assert (r["width"], r["height"]) == (2, 1)
    assert (r["out_width"], r["out_height"]) == (16, 8)
    assert r["out_bytes"] <= 16 * 8
    # checksum reproducible from the bytes
    p = text.encode()
    stride = max(1, len(p) // (16 * 8))
    assert r["sample_checksum"] == sum(p[::stride][: 16 * 8]) % 256


def test_audio_chunks_window_math(spark):
    text = "q" * 130  # 130 bytes -> chunks of 64, 64, 2
    docs = spark.createDataFrame([(9, text)], "doc_id bigint, text string")
    rows = sorted(MM.audio_chunks(docs).collect(), key=lambda r: r["chunk_ix"])
    assert [r["n_samples"] for r in rows] == [64, 64, 2]
    assert all(r["abs_energy"] == abs(ord("q") - 128) * r["n_samples"] for r in rows)


# --------------------------------------------------------------------------
# property test: distributed CC == sequential union-find on random graphs
# --------------------------------------------------------------------------

def _union_find_groups(n_nodes, pairs):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component
    comp = {}
    for x in range(n_nodes):
        comp.setdefault(find(x), []).append(x)
    out = {}
    for members in comp.values():
        g = min(members)
        for m in members:
            out[m] = g
    return out


def test_near_dup_groups_matches_union_find_on_random_graphs(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=5, deadline=None)
    @given(
        st.integers(min_value=2, max_value=24).flatmap(
            lambda n: st.tuples(
                st.just(n),
                st.lists(
                    st.tuples(
                        st.integers(0, n - 1), st.integers(0, n - 1)
                    ).filter(lambda p: p[0] != p[1]),
                    max_size=30,
                ),
            )
        )
    )
    def check(case):
        n, raw = case
        pairs = sorted({(min(a, b), max(a, b)) for a, b in raw})
        uf = _union_find_groups(n, pairs)
        # kg_components sees only nodes that carry an edge; zero-padded
        # ids make the string min-label the numeric min id
        linked = {x for p in pairs for x in p}
        want = {f"n{x:02d}": f"n{uf[x]:02d}" for x in linked}
        edges = _edges(
            spark, [(f"n{a:02d}", f"n{b:02d}") for a, b in pairs] or [("n00", "n01")]
        )
        if not pairs:
            edges = edges.limit(0)
        got = {r["node_id"]: r["label"] for r in kg_components(edges).collect()}
        assert got == want

    check()

