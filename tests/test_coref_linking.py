"""Coref band join, cluster windows, canonicalization, linking."""

from __future__ import annotations

import pyspark.sql.functions as F

from dygiepp_spark import tables as TT
from dygiepp_spark.operators import coref as CO
from dygiepp_spark.operators import linking as LK


def _mentions(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, start int, end int, surface string"
    )


def test_antecedent_band_join_window(spark):
    # 3 mentions; with max_antecedents=1 only adjacent pairs are candidates
    m = _mentions(
        spark, [("d", 0, 0, 0, "x"), ("d", 0, 2, 2, "y"), ("d", 1, 0, 0, "z")]
    )
    cands = CO.antecedent_candidates(m, max_antecedents=1).collect()
    got = {(r["anaphor_ix"], r["antecedent_ix"]) for r in cands}
    assert got == {(1, 0), (2, 1)}


def test_coref_clusters_same_surface(spark):
    m = _mentions(
        spark,
        [
            ("d", 0, 1, 1, "spark"),
            ("d", 0, 5, 5, "table"),
            ("d", 1, 2, 2, "spark"),
            ("d", 2, 0, 0, "spark"),
            ("e", 0, 0, 0, "spark"),
        ],
    )
    out = CO.coref_clusters(m)
    sizes = {
        (r["conv_id"], r["cluster_id"]): r["n"]
        for r in out.groupBy("conv_id", "cluster_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # d: {spark x3}, {table}, e: {spark}
    assert sorted(sizes.values()) == [1, 1, 3]


def test_coref_clusters_gap_over_window_splits_run(spark):
    # "spark" at mention_ix 0, 2 and 5: the 2 -> 5 gap of 3 exceeds a
    # window of 2, so the run splits into {0, 2} and {5}
    m = _mentions(
        spark,
        [("d", 0, i, i, "spark" if i in (0, 2, 5) else f"w{i}") for i in range(6)],
    )
    out = CO.coref_clusters(m, max_antecedents=2)
    assert out.columns == [
        "conv_id", "mention_ix", "turn_idx", "start", "end", "surface", "cluster_id"
    ]
    got = {
        r["mention_ix"]: r["cluster_id"]
        for r in out.filter(F.col("surface") == "spark").collect()
    }
    assert got == {0: 0, 2: 0, 5: 5}
    assert {
        r["mention_ix"]: r["cluster_id"]
        for r in CO.coref_clusters(m, max_antecedents=3)
        .filter(F.col("surface") == "spark")
        .collect()
    } == {0: 0, 2: 0, 5: 0}


def test_canonicalize_longest_member_wins(spark):
    clustered = spark.createDataFrame(
        [
            ("d", 0, 0, 0, 0, "ab"),
            ("d", 1, 3, 3, 5, "long span here"),  # width 3 -> exemplar
            ("d", 2, 7, 7, 7, "zz"),
        ],
        "conv_id string, mention_ix int, turn_idx int, start int, end int, surface string",
    ).withColumn("cluster_id", F.lit(0))
    out = CO.canonicalize_clusters(clustered).collect()
    assert out[0]["exemplar_text"] == "long span here"
    assert out[0]["n_members"] == 3


def test_linking_hits_and_fallback(spark):
    m = _mentions(spark, [("d", 0, 0, 0, "Spark "), ("d", 0, 1, 1, "unknownthing")])
    linked = {r["surface"]: r for r in LK.link_mentions(m, TT.entity_dict(spark)).collect()}
    assert linked["Spark "]["entity_id"] == "E000"  # normalized strip+lower hit
    assert linked["unknownthing"]["entity_id"] == "S:unknownthing"
    assert linked["unknownthing"]["type"] == "UNKNOWN"


def test_coref_fixture_cluster_replay(spark):
    """M13-M16 against the reference's own SciERC fixture: give each gold
    cluster its own surface, so the same-surface decode links every member
    to the previous one (the reference's coref label construction,
    dygie.py:58-67), and verify coref_clusters reproduces the cluster
    PARTITION exactly. The antecedent window covers every span, so no gap
    splits a cluster."""
    import json

    fixture = "/root/reference/dygie/tests/fixtures/scierc_article.json"
    doc = json.loads(open(fixture).readline())
    clusters = [
        [tuple(span) for span in cl] for cl in doc["clusters"] if len(cl) >= 1
    ]
    surface = {s: f"c{ci}" for ci, cl in enumerate(clusters) for s in cl}
    rows = [("d", 0, s[0], s[1], surface[s]) for s in sorted(surface)]
    labels = CO.coref_clusters(
        _mentions(spark, rows), max_antecedents=len(rows)
    )
    got = {}
    for r in labels.collect():
        got.setdefault(r["cluster_id"], set()).add((r["start"], r["end"]))
    got_multi = {frozenset(v) for v in got.values() if len(v) > 1}
    exp_multi = {frozenset(cl) for cl in clusters if len(set(cl)) > 1}
    assert got_multi == exp_multi


def test_coref_fixture_canonicalization_longest_member(spark):
    """K11 against the fixture: exemplar = longest member span
    (coref_to_tsv.py:11-33), cross-checked with a direct Python fold."""
    import json

    fixture = "/root/reference/dygie/tests/fixtures/scierc_article.json"
    doc = json.loads(open(fixture).readline())
    toks = [t for sent in doc["sentences"] for t in sent]
    clusters = [cl for cl in doc["clusters"] if len(cl) >= 2]
    all_spans = sorted({tuple(s) for cl in clusters for s in cl})
    ix = {s: i for i, s in enumerate(all_spans)}

    rows = [
        ("d", 0, s[0], s[1], " ".join(toks[s[0]: s[1] + 1]), ix[s], ci)
        for ci, cl in enumerate(clusters)
        for s in (tuple(x) for x in cl)
    ]
    clustered = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, start int, end int, surface string, "
        "mention_ix int, cluster_id int",
    )
    got = {
        r["cluster_id"]: r["exemplar_text"]
        for r in CO.canonicalize_clusters(clustered).collect()
    }
    for ci, cl in enumerate(clusters):
        best = min(
            sorted((tuple(s) for s in cl), key=lambda s: ix[s]),
            key=lambda s: (-(s[1] - s[0]), ix[s]),
        )
        assert got[ci] == " ".join(toks[best[0]: best[1] + 1])
