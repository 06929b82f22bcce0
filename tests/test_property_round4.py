"""Property-based cross-checks for the round-4 operators: each Spark
operator vs an independent brute-force pure-Python model over
hypothesis-generated inputs (third implementation besides the DataFrame
plan and the DuckDB oracle — disagreement on ANY case is a real bug)."""

from __future__ import annotations

from itertools import combinations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dygiepp_spark.operators.graph import PR_SCALE, pagerank, triangle_counts
from dygiepp_spark.operators.temporal import asof_join

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.sampled_from(["k1", "k2", "k3"])
ts_vals = st.integers(min_value=0, max_value=12)


@given(
    left=st.lists(st.tuples(keys, ts_vals), min_size=1, max_size=12),
    right=st.lists(
        st.tuples(keys, ts_vals, st.integers(min_value=0, max_value=99)),
        max_size=12,
    ),
)
@settings(**SETTINGS)
def test_asof_join_matches_bruteforce(spark, left, right):
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)],
        "key string, ts bigint, row_ix int",
    )
    rdf = spark.createDataFrame(right, "key string, ts bigint, eid int") if right else (
        spark.createDataFrame([], "key string, ts bigint, eid int")
    )
    got = {
        r["row_ix"]: r["eid"]
        for r in asof_join(ldf, rdf, ["key"], "ts", "ts", ["eid"]).collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [(rt, eid) for (rk, rt, eid) in right if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (i, k, t, cands)


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6), st.integers(min_value=0, max_value=6)
        ),
        min_size=1,
        max_size=15,
    )
)
@settings(**SETTINGS)
def test_triangle_counts_matches_bruteforce(spark, edges):
    df = spark.createDataFrame(
        [(f"n{a}", "p", f"n{b}") for a, b in edges],
        "subj_id string, pred string, obj_id string",
    )
    und = {tuple(sorted((a, b))) for a, b in edges if a != b}
    verts = sorted({v for e in und for v in e})
    want: dict[str, int] = {}
    for x, y, z in combinations(verts, 3):
        if {(x, y), (y, z), (x, z)} <= und:
            for v in (x, y, z):
                want[f"n{v}"] = want.get(f"n{v}", 0) + 1
    got = {r["node_id"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == want, (sorted(und), got, want)


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5), st.integers(min_value=0, max_value=5)
        ),
        min_size=1,
        max_size=10,
    ),
    iters=st.integers(min_value=1, max_value=3),
)
@settings(**SETTINGS)
def test_pagerank_matches_integer_reference(spark, edges, iters):
    df = spark.createDataFrame(
        [(f"n{a}", "p", f"n{b}") for a, b in edges],
        "subj_id string, pred string, obj_id string",
    )
    e = sorted({(a, b) for a, b in edges})
    nodes = sorted({v for p in e for v in p})
    outdeg = {v: sum(1 for (a, _) in e if a == v) for v in nodes}
    rank = {v: PR_SCALE for v in nodes}
    for _ in range(iters):
        nxt = {v: 150_000 for v in nodes}
        for a, b in e:
            nxt[b] += (rank[a] * 85) // (100 * outdeg[a])
        rank = nxt
    got = {r["node_id"]: r["rank"] for r in pagerank(df, iterations=iters).collect()}
    assert got == {f"n{v}": rk for v, rk in rank.items()}, (e, got, rank)
