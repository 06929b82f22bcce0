"""Semantic (not just oracle-parity) tests for the dedup and similarity
operators: planted near-dups are recovered, LSH candidates superset the
verified pairs, simhash banding recall guarantee holds, ANN recall is sane.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dygiepp_spark.operators import dedup as DD
from dygiepp_spark.operators import similarity as SIM
from dygiepp_spark import tables as TT


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return TT.load_documents(spark, sf_dir)


@pytest.fixture(scope="module")
def chunks(spark, docs):
    return DD.doc_chunks(docs).cache()


def test_doc_chunks_shapes(docs, chunks):
    n_docs = docs.filter(
        F.size(F.filter(F.split("text", " "), lambda t: t != "")) >= 3
    ).count()
    assert chunks.count() == 2 * n_docs
    # both chunks of a doc are ~2/3 of it and overlap
    row = chunks.orderBy("chunk_id").limit(2).collect()
    t0, t1 = row[0]["text"].split(), row[1]["text"].split()
    overlap = set(range(len(t0))) if False else None  # positions differ; check token multiset overlap
    assert len(set(t0) & set(t1)) > 0


def test_exact_dedup_identity(spark, docs):
    """Duplicating the corpus makes every group size 2 with canonical = min id."""
    shifted = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(shifted)
    groups = DD.exact_dedup_groups(both)
    assert groups.filter(F.col("n_dups") < 2).count() == 0
    # canonical id is always the original (smaller) id
    assert groups.filter(F.col("canonical_id") >= 100000).count() == 0


def test_minhash_recovers_planted_pairs(chunks):
    """Every doc's two overlapping chunks (ids 2d, 2d+1) should be found."""
    found = DD.near_dups_minhash(chunks, thresh=0.2)
    planted = found.filter(
        (F.col("id_b") == F.col("id_a") + 1) & (F.col("id_a") % 2 == 0)
    ).count()
    n_docs = chunks.count() / 2
    # LSH is probabilistic by construction; require >= 60% recall of planted pairs
    assert planted >= 0.6 * n_docs, f"planted recall too low: {planted}/{n_docs}"


def test_lsh_candidates_superset_of_verified(chunks):
    sh = DD.shingles(chunks)
    cands = DD.lsh_candidates(DD.lsh_buckets(DD.minhash_signatures(sh)))
    verified = DD.jaccard_verify(cands, sh, 0.25)
    assert verified.join(cands, ["id_a", "id_b"], "left_anti").count() == 0


def test_simhash_banding_recall_guarantee(chunks):
    """Pigeonhole: any pair with hamming <= 7 over 8 bands of 4 bits shares
    a band, so the banded join must find ALL such pairs. Cross-check against
    a brute-force hamming computation on the signatures."""
    sigs = DD.simhash_signatures(DD.shingles(chunks)).cache()
    a = sigs.alias("a")
    b = sigs.alias("b")
    brute = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
    )
    banded = DD.near_dups_simhash(chunks, max_hamming=6)
    missing = brute.join(banded, ["id_a", "id_b"], "left_anti").count()
    assert missing == 0


def test_ann_brute_force_matches_numpy(spark, sf_dir):
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in SIM.brute_force_topk(emb, k=3, n_queries=4).collect()
    }
    pdf = emb.toPandas().sort_values("vec_id")
    mat = np.round(np.stack(pdf["embedding"].values).astype(np.float64) * 1000.0)
    ids = pdf["vec_id"].values
    norms = (mat * mat).sum(axis=1)
    for qi in range(4):
        dots = mat @ mat[qi]
        cos = dots / np.sqrt(norms * norms[qi])
        order = sorted(
            [(c, i) for c, i in zip(cos, ids) if i != qi],
            key=lambda t: (-t[0], t[1]),
        )
        for rnk in range(1, 4):
            assert got[(qi, rnk)] == order[rnk - 1][1]


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """nprobe=1 IVF over 4 cells should still recover a decent fraction of
    true top-5 neighbors (they are often in the query's own cell)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bf = set(
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(emb).collect()
    )
    ivf = set(
        (r["query_id"], r["neighbor_id"]) for r in SIM.ivf_topk(emb).collect()
    )
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.2, f"IVF recall collapsed: {recall}"


def test_ivf_recall_divides_by_true_neighbor_count(spark):
    """On a corpus with fewer than k + 1 vectors every query has fewer
    than k true neighbors; recall divides by that count, so one cell
    holding the whole corpus (IVF = brute force) scores 1.0."""
    vecs = [[1.0, 0.0], [0.8, 0.6], [0.0, 1.0], [-0.6, 0.8]]
    emb = spark.createDataFrame(
        [(i, v, "x") for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>, label string",
    )
    rows = SIM.ivf_recall(emb, k=5, n_queries=4, n_centroids=1).collect()
    n_true = {
        r["query_id"]: r["n"]
        for r in SIM.brute_force_topk(emb, k=5, n_queries=4)
        .groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sorted(r["query_id"] for r in rows) == [0, 1, 2, 3]
    for r in rows:
        assert n_true[r["query_id"]] == 3
        assert r["recall"] == r["n_hit"] / n_true[r["query_id"]]
        assert r["recall"] == 1.0


def test_ngram_jaccard_hot_block_reroutes_subquadratic(spark):
    # pathological equal-size corpus: every doc has the same shingle count,
    # so ALL land in one block; with max_block exceeded the all-pairs path
    # must reroute through LSH instead of going quadratic
    n = 40
    rows = []
    for i in range(n):
        # 12 distinct tokens per doc -> same n_sh for all docs
        toks = [f"w{i}_{j}" for j in range(12)]
        rows.append((i, " ".join(toks)))
    # plant one near-dup pair (ids 100/101 share 11 of 12 tokens)
    base = [f"dup_{j}" for j in range(11)]
    rows.append((100, " ".join(base + ["xx"])))
    rows.append((101, " ".join(base + ["yy"])))
    chunks = spark.createDataFrame(rows, "chunk_id bigint, text string")

    capped = DD.ngram_jaccard_pairs(chunks, thresh=0.25, max_block=10)
    uncapped = DD.ngram_jaccard_pairs(chunks, thresh=0.25, max_block=10**9)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    full = {(r["id_a"], r["id_b"]): r["jaccard"] for r in uncapped.collect()}
    # precision: every emitted pair carries its true Jaccard (subset of full)
    for k, v in got.items():
        assert k in full and v == full[k]
    # recall on the planted high-similarity pair survives the LSH reroute
    assert (100, 101) in got
    # sub-quadratic candidate generation: the LSH path's candidate count is
    # far below the all-pairs count for the hot block
    sh = DD.shingles(chunks)
    cands = DD.lsh_candidates(DD.lsh_buckets(DD.minhash_signatures(sh)))
    n_docs = chunks.count()
    assert cands.count() < n_docs * (n_docs - 1) // 4


def test_ngram_jaccard_unchanged_when_no_hot_block(spark, chunks):
    # default cap far above testdata block sizes -> identical result sets
    a = DD.ngram_jaccard_pairs(chunks)
    b = DD.ngram_jaccard_pairs(chunks, max_block=10**9)
    ra = {(r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in a.collect()}
    rb = {(r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in b.collect()}
    assert ra == rb


def test_embedding_near_dups_finds_planted_twins(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ids = [int(r["vec_id"]) for r in emb.select("vec_id").collect()]
    pairs = SIM.embedding_near_dups(emb).collect()
    # every planted twin pair (v, v+100000) recovered through the SRP
    # bands, nothing else passes the 0.99 verify
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(i, i + 100_000) for i in ids}
    assert all(r["cos"] >= 0.99 for r in pairs)


def test_srp_buckets_band_shape(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(10)
    qz = SIM.quantized(emb)
    b = SIM.srp_buckets(qz)
    rows = b.collect()
    assert len(rows) == 10 * (SIM.SRP_PLANES // SIM.SRP_ROWS_PER_BAND)
    assert all(0 <= int(r["bucket"]) < (1 << SIM.SRP_ROWS_PER_BAND) for r in rows)


def test_kmeans_converges_on_separated_clusters(spark):
    """Two tight, well-separated direction clusters: after 2 Lloyd rounds
    with k=2 every vector must sit in the cell of its own cluster and the
    centroids must point along the cluster directions."""
    import pyspark.sql.functions as F
    from dygiepp_spark.operators.similarity import kmeans_train

    rows = []
    for i in range(20):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
        vec = [v + (0.001 * (i % 5)) * w for v, w in zip(base, [0, 0, 1, 1])]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r.cell: r for r in kmeans_train(emb, k=2, iters=2).collect()}
    assert set(out) == {0, 1}
    assert out[0].size == 10 and out[1].size == 10
    # cell 0 seeded from vec 0 (x-direction), cell 1 from vec 1 (y-direction)
    assert out[0].cq[0] > 900 and out[0].cq[1] == 0
    assert out[1].cq[1] > 900 and out[1].cq[0] == 0


def test_kmeans_empty_cell_drops(spark):
    """If a seed centroid captures nothing, it disappears from the output
    (inner-join update semantics, mirrored exactly by the oracle)."""
    from dygiepp_spark.operators.similarity import kmeans_train

    # vecs 0 and 1 are identical -> all mass lands in cell 0 (lower id
    # wins ties), cell 1 goes empty after round 1
    rows = [(i, [1.0, 0.0]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = kmeans_train(emb, k=2, iters=2).collect()
    assert len(out) == 1
    assert out[0].cell == 0 and out[0].size == 6
