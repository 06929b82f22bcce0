"""Property-based cross-checks for the round-5 operators: each Spark
operator vs an independent brute-force pure-Python model over
hypothesis-generated inputs (third implementation besides the DataFrame
plan and the DuckDB oracle — disagreement on ANY case is a real bug)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import pyspark.sql.functions as F

from dygiepp_spark.operators.graph import kcore_fixpoint
from dygiepp_spark.operators.kg_eval import partial_span_score, refind_tokens

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ------------------------------------------------- partial span score model


def _refind_py(span: str) -> list[str]:
    """The reference's refind_span (eval_metrics.py:30-38), verbatim
    semantics: lowercase, strip 'a ' then 'the ', replace the three
    digraphs, split on single space."""
    s = span.lower()
    if s.startswith("a "):
        s = s[2:]
    if s.startswith("the "):
        s = s[4:]
    s = s.replace(") ", " ").replace("- ", " ").replace("( ", " ")
    return s.split(" ")


def _partial_py(a: str, b: str) -> float:
    ta, tb = _refind_py(a), _refind_py(b)
    common = [x for x in ta if x in tb]
    return len(common) / max(len(ta), len(tb))


words = st.sampled_from(
    ["a", "the", "spark", "engine", "fast", "(", ")", "-", "The", "A", "x1"]
)
spans = st.lists(words, min_size=1, max_size=6).map(" ".join)


@given(pairs=st.lists(st.tuples(spans, spans), min_size=1, max_size=16))
@settings(**SETTINGS)
def test_partial_span_score_matches_reference_model(spark, pairs):
    df = spark.createDataFrame(pairs, "a string, b string")
    got = df.select(
        "a", "b", partial_span_score(F.col("a"), F.col("b")).alias("s")
    ).collect()
    for r in got:
        assert abs(r["s"] - _partial_py(r["a"], r["b"])) < 1e-12, (
            r["a"], r["b"], r["s"],
        )


@given(vals=st.lists(spans, min_size=1, max_size=16))
@settings(**SETTINGS)
def test_refind_tokens_matches_reference_model(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "a string")
    got = df.select("a", refind_tokens(F.col("a")).alias("t")).collect()
    for r in got:
        assert list(r["t"]) == _refind_py(r["a"]), r["a"]


# ----------------------------------------------------- k-core fixpoint model


def _kcore_py(edges: set[tuple[str, str]], k: int) -> dict[str, int]:
    """Sequential peel to fixpoint; returns node -> in-core degree."""
    adj: dict[str, set[str]] = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    alive = set(adj)
    while True:
        drop = {n for n in alive if len(adj[n] & alive) < k}
        if not drop:
            break
        alive -= drop
    return {n: len(adj[n] & alive) for n in alive}


nodes = st.sampled_from([f"n{i}" for i in range(9)])
nodes7 = st.sampled_from([f"n{i}" for i in range(7)])


@given(
    # up to 24 edges on 9 nodes, or up to 16 on 7 (denser small graphs);
    # twice the usual examples so each shape gets its share
    raw=st.one_of(
        st.lists(st.tuples(nodes, nodes), min_size=1, max_size=24),
        st.lists(st.tuples(nodes7, nodes7), min_size=1, max_size=16),
    ),
    k=st.integers(min_value=1, max_value=3),
)
@settings(**{**SETTINGS, "max_examples": 2 * SETTINGS["max_examples"]})
def test_kcore_fixpoint_matches_sequential_peel(spark, raw, k):
    edges = spark.createDataFrame(
        [(u, "p", v) for u, v in raw],
        "subj_id string, pred string, obj_id string",
    )
    got = {
        r["node_id"]: r["deg"]
        for r in kcore_fixpoint(edges, k=k, max_rounds=50).collect()
    }
    want = _kcore_py({(u, v) for u, v in raw}, k)
    assert got == want


# ---------------------------------------------- late-round-5 operator models


@given(
    lens=st.lists(st.integers(min_value=0, max_value=40),
                  min_size=1, max_size=24),
    budget=st.integers(min_value=1, max_value=64),
)
@settings(**SETTINGS)
def test_pack_sequences_matches_running_sum_model(spark, lens, budget):
    """pack offsets must equal the plain sequential cumsum regardless of
    how the two-level scan bucketed the ids (incl. sparse ids)."""
    from dygiepp_spark.functions.text import pack_sequences

    rows = [(i * 3, "w " * n) for i, n in enumerate(lens)]  # sparse doc_ids
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: (r["g_offset"], r["pack_id"], r["pack_offset"])
           for r in pack_sequences(df, budget=budget, n_buckets=7).collect()}
    off = 0
    for i, n in enumerate(lens):
        assert got[i * 3] == (off, off // budget, off % budget)
        off += n


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=1, max_size=30),
        min_size=1, max_size=8,
    ),
    block=st.integers(min_value=1, max_value=5),
)
@settings(**SETTINGS)
def test_intra_dedup_matches_keep_first_model(spark, docs, block):
    from dygiepp_spark.operators.dedup import intra_doc_dedup

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in intra_doc_dedup(df, block=block).collect()}
    for i, toks in enumerate(docs):
        blocks = [" ".join(toks[j:j + block])
                  for j in range(0, len(toks), block)]
        seen, kept = set(), []
        for b in blocks:
            if b not in seen:
                seen.add(b)
                kept.append(b)
        r = got[i]
        assert r["n_blocks"] == len(blocks)
        assert r["n_kept"] == len(kept)
        assert r["text_dedup"] == " ".join(kept)


@given(
    raw=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1, max_size=20,
    ),
    rounds=st.integers(min_value=1, max_value=4),
)
@settings(**SETTINGS)
def test_lpa_matches_sync_propagation_model(spark, raw, rounds):
    """LPA under a ``max_rounds`` bound vs a literal pure-Python
    synchronous update run exactly that many rounds, with the same
    (count desc, label asc) argmin tie rule. Bounds of 1-4 make
    oscillating 2-cycles hit the cap, and stable labels must stop early
    with the same answer."""
    from dygiepp_spark.operators.graph import lpa_fixpoint

    edges = [(f"n{a}", f"n{b}") for a, b in raw if a != b]
    if not edges:
        return
    df = spark.createDataFrame(
        [(s, "p", o) for s, o in edges],
        "subj_id string, pred string, obj_id string",
    )
    und = {tuple(sorted(e)) for e in edges}
    nbrs: dict[str, set[str]] = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    labels = {n: n for n in nbrs}
    for _ in range(rounds):
        nxt = {}
        for n in labels:
            from collections import Counter

            c = Counter(labels[m] for m in nbrs[n])
            best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            nxt[n] = best
        labels = nxt
    got = {r["node_id"]: r["label"]
           for r in lpa_fixpoint(df, max_rounds=rounds).collect()}
    assert got == labels


@given(
    raw=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1, max_size=24,
    ),
)
@settings(**SETTINGS)
def test_kg_components_converged_matches_union_find(spark, raw):
    """Min-id labels of the components must equal true connected
    components (union-find model)."""
    from dygiepp_spark.operators.graph import kg_components

    edges = [(f"n{a}", f"n{b}") for a, b in raw if a != b]
    if not edges:
        return
    df = spark.createDataFrame(
        [(s, "p", o) for s, o in edges],
        "subj_id string, pred string, obj_id string",
    )
    parent: dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = sorted({n for e in edges for n in e})
    for n in nodes:
        parent[n] = n
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: min(m for m in nodes if find(m) == find(n)) for n in nodes}
    got = {r["node_id"]: r["label"]
           for r in kg_components(df).collect()}
    assert got == want


# ------------------------------------------------- link-prediction model


def _linkpred_py(raw, cap, min_common):
    """Brute-force CN features: undirected simple graph, wedges through
    centers with degree <= cap, non-adjacent pairs only."""
    adj = {}
    for u, v in raw:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    deg = {n: len(ns) for n, ns in adj.items()}
    from collections import Counter

    cn = Counter()
    for c, ns in adj.items():
        if deg[c] > cap:
            continue
        for na in ns:
            for nb in ns:
                if na < nb:
                    cn[(na, nb)] += 1
    out = {}
    for (na, nb), k in cn.items():
        if k < min_common or nb in adj.get(na, ()):
            continue
        out[(na, nb)] = (
            k, deg[na], deg[nb], deg[na] * deg[nb], deg[na] + deg[nb] - k
        )
    return out


@given(
    raw=st.lists(st.tuples(nodes, nodes), min_size=1, max_size=24),
    cap=st.integers(min_value=1, max_value=6),
    min_common=st.integers(min_value=1, max_value=2),
)
@settings(**SETTINGS)
def test_link_prediction_matches_bruteforce_model(spark, raw, cap, min_common):
    from dygiepp_spark.operators.graph import link_prediction

    edges = spark.createDataFrame(
        [(u, "p", v) for u, v in raw],
        "subj_id string, pred string, obj_id string",
    )
    got = {
        (r["node_a"], r["node_b"]): (
            r["cn"], r["deg_a"], r["deg_b"], r["pref_attach"],
            r["jaccard_den"],
        )
        for r in link_prediction(
            edges, max_center_degree=cap, min_common=min_common
        ).collect()
    }
    assert got == _linkpred_py(raw, cap, min_common)


# ------------------------------------------------- random-walk model


def _walks_py(raw, length, wpn):
    import hashlib

    adj = {}
    for u, v in raw:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    out = {}
    for n in adj:
        for w in range(wpn):
            cur = n
            out[(n, w, 0)] = cur
            for t in range(1, length + 1):
                cur = min(
                    adj[cur],
                    key=lambda nb: hashlib.md5(
                        f"{cur}:{t}:{w}:{nb}".encode()
                    ).hexdigest(),
                )
                out[(n, w, t)] = cur
    return out


@given(
    raw=st.lists(st.tuples(nodes, nodes), min_size=1, max_size=20),
    length=st.integers(min_value=0, max_value=3),
)
@settings(**SETTINGS)
def test_random_walks_matches_hash_argmin_model(spark, raw, length):
    from dygiepp_spark.operators.graph import random_walks

    if all(u == v for u, v in raw):
        return  # empty simple graph — no walks either way
    edges = spark.createDataFrame(
        [(u, "p", v) for u, v in raw],
        "subj_id string, pred string, obj_id string",
    )
    got = {
        (r["node_id"], r["walk_id"], r["step"]): r["visit"]
        for r in random_walks(edges, length=length, walks_per_node=2).collect()
    }
    assert got == _walks_py(raw, length, 2)


@given(
    raw=st.lists(st.tuples(nodes, nodes), min_size=1, max_size=16),
    window=st.integers(min_value=1, max_value=3),
)
@settings(**SETTINGS)
def test_walk_skipgrams_matches_pair_count_model(spark, raw, window):
    from collections import Counter

    from dygiepp_spark.operators.graph import walk_skipgrams

    if all(u == v for u, v in raw):
        return
    edges = spark.createDataFrame(
        [(u, "p", v) for u, v in raw],
        "subj_id string, pred string, obj_id string",
    )
    length, wpn = 3, 2
    walks = _walks_py(raw, length, wpn)
    want = Counter()
    for (n, w, s1), center in walks.items():
        for s2 in range(max(0, s1 - window), min(length, s1 + window) + 1):
            if s2 != s1:
                want[(center, walks[(n, w, s2)])] += 1
    got = {
        (r["center"], r["context"]): r["n"]
        for r in walk_skipgrams(
            edges, length=length, walks_per_node=wpn, window=window
        ).collect()
    }
    assert got == dict(want)
