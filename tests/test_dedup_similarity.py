"""Semantic (not just oracle-parity) tests for the dedup operators:
planted near-dups are recovered, LSH candidates superset the verified
pairs, and the simhash banding recall guarantee holds.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dygiepp_spark.operators import dedup as DD
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
