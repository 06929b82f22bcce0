"""Deduplication operators for large-scale training-data pipelines.

Four families, all JVM-side (built-in functions only, portable md5-based
hashing from ``dygiepp_spark.functions.hashing`` so every result has a
bit-identical DuckDB oracle):

* **exact** — hash-groupBy on normalized text (and a token-set variant that
  catches reorderings). One map-side-combinable aggregation.
* **MinHash + LSH** — token-2-gram shingles -> k minhashes -> banded bucket
  keys -> bucket self-join for candidates -> exact Jaccard verify.
* **SimHash** — 32-bit sign-aggregated signature over shingle hashes;
  candidates via 4-bit band collision, verified by Hamming distance.
* **n-gram Jaccard** — blocked all-pairs exact Jaccard (size-bucket
  blocking) for the small/precise path.

The corpus has no natural duplicates, so dedup queries run over
:func:`doc_chunks` — every document split into two ~2/3-length overlapping
chunks (ids ``2*doc_id`` and ``2*doc_id + 1``), planting one true near-dup
pair per document (shingle Jaccard ~= 1/3) deterministically in BOTH
engines.

Scale notes (100 TB): the only shuffles are (a) the signature groupBy
(map-side combine, k*64 bits per doc), (b) the bucket self-join — its key
distribution is the dup-cluster distribution, so a viral duplicate makes a
hot bucket: AQE skew-join splitting handles moderate cases and a bucket
size cap (drop buckets with > N members, they are all-pairs-dup anyway and
get caught by the exact pass) handles the pathological ones; and (c) the
verify join, bounded by candidate count. Nothing is quadratic in corpus
size.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from dygiepp_spark.functions.hashing import hash60, hash_family_from
from dygiepp_spark.functions.text import token_ngrams, tokens_col

#: LSH structure: N_BANDS bands x ROWS_PER_BAND minhash rows.
N_BANDS = 16
ROWS_PER_BAND = 2
N_HASHES = N_BANDS * ROWS_PER_BAND

SIMHASH_BITS = 32
#: split the simhash into 4-bit bands for candidate generation
SIMHASH_BAND_BITS = 4


def _norm_text(col: Column) -> Column:
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def _tokens(col: Column) -> Column:
    return F.filter(F.split(col, " "), lambda t: t != "")


# --------------------------------------------------------------------------
# chunk derivation (plants deterministic near-dups)
# --------------------------------------------------------------------------

def doc_chunks(docs: DataFrame) -> DataFrame:
    """Split each doc into two overlapping chunks.

    chunk ``2*doc_id``   = tokens[0 : ceil(2n/3))
    chunk ``2*doc_id+1`` = tokens[floor(n/3) : n)

    Both ~2n/3 tokens, overlapping by ~n/3 -> 2-gram-shingle Jaccard ~1/3.
    Narrow op (no shuffle); output (chunk_id, text, n_tokens).
    """
    toks = _tokens(F.col("text"))
    base = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        toks.alias("toks"),
        F.size(toks).alias("n"),
    ).filter(F.col("n") >= 3)
    n = F.col("n")
    c0_len = F.ceil(n * 2.0 / 3.0).cast("int")
    c1_start = F.floor(n / 3.0).cast("int") + 1  # 1-based
    c0 = base.select(
        (F.col("doc_id") * 2).alias("chunk_id"),
        F.array_join(F.slice("toks", F.lit(1), c0_len), " ").alias("text"),
    )
    c1 = base.select(
        (F.col("doc_id") * 2 + 1).alias("chunk_id"),
        F.array_join(F.slice("toks", c1_start, F.col("n") - c1_start + 1), " ").alias(
            "text"
        ),
    )
    out = c0.unionByName(c1)
    return out.withColumn("n_tokens", F.size(_tokens(F.col("text"))))


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group by md5(normalized text); canonical = min id.

    Output (text_hash, canonical_id, n_dups). ONE hash aggregation with
    map-side partial agg — the cheapest possible dedup at any scale.
    """
    h = F.md5(_norm_text(F.col(text_col)))
    return (
        df.select(F.col(id_col).cast("bigint").alias("id"), h.alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def tokenset_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Order-insensitive exact dedup: hash the sorted distinct token set
    (catches shuffled/reordered copies — a real fraction of web dups)."""
    toks = _tokens(_norm_text(F.col(text_col)))
    sig = F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))
    return (
        df.select(F.col(id_col).cast("bigint").alias("id"), sig.alias("set_hash"))
        .groupBy("set_hash")
        .agg(
            F.min("id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# --------------------------------------------------------------------------
# shingles + MinHash/LSH
# --------------------------------------------------------------------------

def shingles(
    chunks: DataFrame, id_col: str = "chunk_id", text_col: str = "text"
) -> DataFrame:
    """Distinct token-2-gram shingles, exploded long format (id, shingle).

    Narrow: split + zip_with + array_distinct + explode — no shuffle.
    """
    toks = F.col("toks")
    return (
        chunks.select(
            F.col(id_col).cast("bigint").alias("id"),
            _tokens(F.col(text_col)).alias("toks"),
        )
        .filter(F.size(toks) >= 2)
        .select("id", F.explode(F.array_distinct(token_ngrams(toks, 2))).alias("shingle"))
    )


def minhash_signatures(shingled: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """k minhashes per id: mh_i = min over shingles of family_i(h_{i%2})
    where h_0/h_1 are two independent md5-based base hashes and family_i is
    a cheap 2-universal integer mix (functions.hashing) — TWO md5s per
    shingle instead of k. The two band rows of every LSH band draw from
    different base hashes, which keeps band-collision probability close to
    the independent-minhash J^r even though family members off one base are
    correlated. One groupBy with k min() aggregates — map-side combine
    means the shuffle carries k longs per id, not the shingles."""
    hashed = shingled.withColumn("_h0", hash60(F.col("shingle"))).withColumn(
        "_h1", hash60(F.concat(F.lit("b:"), F.col("shingle")))
    )
    # family expressions live in a PROJECT below the aggregate (bare min()s
    # above): keeps the agg expressions trivial and the wide integer math
    # in one narrow codegen-friendly stage — measured ~1.4x faster than
    # inlining the family into the 32 agg functions
    proj = hashed.select(
        "id",
        *[
            hash_family_from(F.col(f"_h{i % 2}"), i).alias(f"_f{i}")
            for i in range(n_hashes)
        ],
    )
    return proj.groupBy("id").agg(
        *[F.min(f"_f{i}").alias(f"mh_{i}") for i in range(n_hashes)]
    )


def lsh_buckets(
    sigs: DataFrame, n_bands: int = N_BANDS, rows_per_band: int = ROWS_PER_BAND
) -> DataFrame:
    """Banded bucket keys: bucket_b = 'b:mh_{rb}:...:mh_{rb+r-1}'.

    Output (id, band, bucket) — n_bands rows per id via an inline array
    explode (narrow)."""
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ":",
                    F.lit(b),
                    *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)],
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select("id", F.explode(entries).alias("e")).select(
        "id", F.col("e.band").alias("band"), F.col("e.bucket").alias("bucket")
    )


def lsh_candidates(buckets: DataFrame, max_bucket: int = 1000) -> DataFrame:
    """Candidate pairs: ids sharing any (band, bucket); a.id < b.id, distinct.

    ``max_bucket`` drops degenerate hot buckets (everything in them is a
    near-identical cluster better handled by the exact pass) — the skew
    guard that keeps the self-join from going quadratic on viral dups.
    """
    # bucket size via aggregation (no window needed — anti-join the hot ones)
    counts = buckets.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_n"))
    ok = buckets.join(
        F.broadcast(counts.filter(F.col("_n") > max_bucket)),
        ["band", "bucket"],
        "left_anti",
    )
    a = ok.alias("a")
    b = ok.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    shingled: DataFrame,
    thresh: float = 0.25,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keep >= thresh.

    Fully distributed: |A∩B| is a (pair x shingle) hash-join + count — no
    per-document shingle arrays ever materialize, so a 10^5-shingle doc
    costs rows, not one giant cell. |A∪B| = |A| + |B| - |A∩B| from the
    per-id counts. Pairs with empty intersection drop out of the inner
    join, which is correct for any thresh > 0 (their Jaccard is 0).

    The shingle-join key is (id_b, shingle) — uniform by construction
    (shingles are distinct per id), so no skew.

    Length-ratio prefilter (the PPJoin length filter): J(A,B) <=
    min(|A|,|B|) / max(|A|,|B|), so candidate pairs whose size ratio is
    below ``thresh`` can NEVER verify — they are cut with two cheap
    joins against the per-id counts BEFORE their shingles are exploded
    into the pair join. Provably output-identical; on the template-heavy
    synthetic corpus it removes a large share of the LSH candidate set.

    ``counts`` lets the caller pass a pre-pinned per-id shingle-count
    frame (four references below — prefilter a/b + final a/b); default
    behavior is unchanged.
    """
    if counts is None:
        counts = shingled.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    pre_a = counts.select(F.col("id").alias("id_a"), F.col("n_sh").alias("_na"))
    pre_b = counts.select(F.col("id").alias("id_b"), F.col("n_sh").alias("_nb"))
    candidates = (
        candidates.join(pre_a, "id_a")
        .join(pre_b, "id_b")
        .filter(
            F.least("_na", "_nb").cast("double")
            >= F.lit(thresh) * F.greatest("_na", "_nb").cast("double")
        )
        .select("id_a", "id_b")
    )
    a_sh = candidates.join(shingled.withColumnRenamed("id", "id_a"), "id_a")
    inter = (
        a_sh.join(
            shingled.withColumnRenamed("id", "id_b"), ["id_b", "shingle"]
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca = counts.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a")
    cb = counts.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b")
    out = (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= thresh)


def near_dups_minhash(chunks: DataFrame, thresh: float = 0.25) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline over chunk rows.

    The shingle frame feeds three consumers (signatures, intersection
    counts, per-id sizes); without materialization each reference re-runs
    tokenize+shingle from the source — 30+ scans in the physical plan. A
    localCheckpoint pins it to ONE pass (production: an Iceberg stage
    checkpoint via plans.pipeline). Under AQE each ``eager=False`` pin
    runs its upstream shuffle stages when it is called.

    The signature aggregate and the per-id count aggregate are pinned
    too: the bucket self-join references the signature frame on both
    sides and the verify stage references counts four times; without the
    pin each reference re-runs its aggregation. Interleaved A/B
    (BENCH/PLANS.md, round 4): median 12.70 s -> 10.44 s (-18%) at sf0.1,
    output bit-identical. Signature/count rows are k longs per doc —
    pinning them costs far less than one recompute at any scale.
    """
    _, verified = _minhash_chain(chunks, thresh)
    return verified


def _minhash_chain(chunks: DataFrame, thresh: float = 0.25):
    """The pinned shingle -> signature -> LSH -> verify chain, returned
    as ``(sigs, verified)`` so near_dups_minhash (production) and
    minhash_error_hist (calibration) measure the SAME pair set — any
    future tuning of thresh / bucket caps / prefilters changes both
    together by construction."""
    sh = shingles(chunks).localCheckpoint(eager=False)
    sigs = minhash_signatures(sh).localCheckpoint(eager=False)
    counts = (
        sh.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
        .localCheckpoint(eager=False)
    )
    cands = lsh_candidates(lsh_buckets(sigs))
    return sigs, jaccard_verify(cands, sh, thresh, counts=counts)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_signatures(shingled: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """32-bit SimHash: bit b set iff sum over shingles of
    (+1 if bit b of hash60(shingle) else -1) >= 0.

    One groupBy with ``bits`` conditional-sum aggregates (map-side combine);
    the signature is reassembled as a single BIGINT column.
    """
    h = hash60(F.col("shingle"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_s{b}")
        for b in range(bits)
    ]
    sums = shingled.groupBy("id").agg(*bit_sums)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"_s{b}") >= 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = term if sig is None else sig + term
    return sums.select("id", sig.alias("simhash"))


def near_dups_simhash(
    chunks: DataFrame,
    max_hamming: int = 6,
    bits: int = SIMHASH_BITS,
    band_bits: int = SIMHASH_BAND_BITS,
) -> DataFrame:
    """SimHash near-dups: candidates share at least one ``band_bits``-wide
    band of the signature; verified by Hamming distance <= max_hamming.

    Banding is the recall/cost dial: 8 bands of 4 bits guarantee recall for
    Hamming <= 7 on 32 bits (pigeonhole) while keeping the self-join keyed.
    """
    sigs = simhash_signatures(shingles(chunks), bits).localCheckpoint(eager=False)
    n_bands = bits // band_bits
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
                .alias("val"),
            )
            for b in range(n_bands)
        ]
    )
    bk = sigs.select("id", "simhash", F.explode(bands).alias("e")).select(
        "id", "simhash", F.col("e.band").alias("band"), F.col("e.val").alias("val")
    )
    a = bk.alias("a")
    b = bk.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.val") == F.col("b.val"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# --------------------------------------------------------------------------
# blocked exact n-gram Jaccard
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    chunks: DataFrame,
    thresh: float = 0.25,
    block_width: int = 16,
    max_block: int = 4000,
) -> DataFrame:
    """Blocked all-pairs exact Jaccard: pairs within the same
    floor(n_shingles / block_width) size block (near-dups have near-equal
    shingle counts, so same-block is a cheap high-recall blocker).

    Skew guard: a block with more than ``max_block`` members would go
    quadratic (a real corpus has size modes — boilerplate, templated
    pages — that land whole sub-corpora in one block), so OVERSIZED blocks
    are rerouted through banded MinHash LSH candidate generation and then
    verified with the SAME exact Jaccard — recall inside a hot block
    becomes LSH-probabilistic instead of exhaustive, precision is
    unchanged (every emitted pair carries its true Jaccard). Small blocks
    keep exhaustive all-pairs, so results on a corpus with no oversized
    block are identical to the uncapped operator.
    """
    sh = shingles(chunks).localCheckpoint(eager=False)
    sets = sh.groupBy("id").agg(
        F.array_sort(F.collect_set("shingle")).alias("sh"),
        F.count(F.lit(1)).alias("n_sh"),
    ).withColumn(
        "block", F.floor(F.col("n_sh") / block_width)
    ).localCheckpoint(eager=False)

    block_counts = sets.groupBy("block").agg(F.count(F.lit(1)).alias("_n"))
    hot = F.broadcast(block_counts.filter(F.col("_n") > max_block))
    small = sets.join(hot, "block", "left_anti")

    def exact_pairs(a_df: DataFrame, join_cond) -> DataFrame:
        a = a_df.alias("a")
        b = a_df.alias("b")
        return (
            a.join(b, on=join_cond)
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                (
                    F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
                    / F.size(F.array_union("a.sh", "b.sh")).cast("double")
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= thresh)
        )

    pairs_small = exact_pairs(
        small,
        [F.col("a.block") == F.col("b.block"), F.col("a.id") < F.col("b.id")],
    )

    # LSH reroute for hot blocks: banded buckets bound the self-join fanout;
    # the same-block predicate keeps the output a SUBSET of the uncapped
    # blocker's pair space (LSH candidates may span blocks otherwise)
    hot_ids = sets.join(hot, "block", "left_semi").select("id", "sh", "block")
    hot_sh = sh.join(hot_ids.select("id"), "id", "left_semi")
    cands = lsh_candidates(lsh_buckets(minhash_signatures(hot_sh)))
    pairs_hot = (
        cands.join(hot_ids.withColumnRenamed("id", "id_a").alias("a"), "id_a")
        .join(
            hot_ids.select(
                F.col("id").alias("id_b"),
                F.col("sh").alias("sh_b"),
                F.col("block").alias("block_b"),
            ),
            "id_b",
        )
        .filter(F.col("a.block") == F.col("block_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("a.sh", "sh_b")).cast("double")
                / F.size(F.array_union("a.sh", "sh_b")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= thresh)
    )
    return pairs_small.unionByName(pairs_hot)


# --------------------------------------------------------------------------
# substring-level dedup (repeated token windows across documents)
# --------------------------------------------------------------------------

def substring_dup_spans(
    docs: DataFrame,
    window: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Repeated fixed-length token windows across the corpus — the
    Spark-shaped stand-in for suffix-array substring dedup ("Deduplicating
    Training Data Makes Language Models Better": remove any 50-token span
    that appears verbatim elsewhere). Exact suffix arrays don't
    distribute; rolling fixed-width window hashes do, and a W-token window
    catches every duplicated span of length >= W.

    Every doc emits one md5 per W-token window (stride 1); one groupBy on
    the window hash keeps hashes seen more than once. Output
    (win_hash, n_docs, n_occurrences, first_doc, first_pos) where
    first_pos is the 1-based token position of the window in first_doc's
    lexically-first occurrence (min (doc,pos) pair).

    Scale: the explode makes ~n_tokens rows per doc (rows, not cells — no
    giant arrays), and the single agg is map-side combinable. Boilerplate
    (a viral footer) concentrates on one hash key, but the aggregate state
    is four numbers however many occurrences collapse into it.
    """
    toks = _tokens(_norm_text(F.col(text_col)))
    wins = F.transform(
        F.sequence(F.lit(1), F.size(toks) - window + 1),
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(F.array_join(F.slice(toks, i, window), " ")).alias("h"),
        ),
    )
    exploded = (
        docs.filter(F.size(toks) >= window)
        .select(
            F.col(id_col).cast("bigint").alias("id"),
            F.explode(wins).alias("w"),
        )
        .select("id", F.col("w.pos").alias("pos"), F.col("w.h").alias("win_hash"))
    )
    return (
        exploded.groupBy("win_hash")
        .agg(
            F.count_distinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.struct("id", "pos")).alias("_first"),
        )
        .filter(F.col("n_occurrences") > 1)
        .select(
            "win_hash",
            "n_docs",
            "n_occurrences",
            F.col("_first.id").alias("first_doc"),
            F.col("_first.pos").alias("first_pos"),
        )
    )


def containment_pairs(chunks: DataFrame, thresh: float = 0.4) -> DataFrame:
    """Asymmetric containment over LSH candidate pairs:
    C(A in B) = |A ∩ B| / |A| — the quote/subset detector symmetric
    Jaccard misses (a 100-token excerpt inside a 10k-token page has
    J ~= 0.01 but C = 1.0). Emits (id_a, id_b, cont_a_in_b, cont_b_in_a,
    jaccard) for candidate pairs where EITHER direction >= thresh.

    Candidate generation reuses the minhash banding, which approximates
    JACCARD — recall for extreme-size-ratio containment therefore drops
    with the size gap (the planted chunk pairs are size-balanced, so the
    gate exercises both directions). A production quote-detector adds a
    size-stratified banding pass; the verify join below is shape-
    identical either way, and every emitted pair carries exact counts.
    """
    sh = shingles(chunks).localCheckpoint(eager=False)
    sigs = minhash_signatures(sh).localCheckpoint(eager=False)
    counts = (
        sh.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
        .localCheckpoint(eager=False)
    )
    cands = lsh_candidates(lsh_buckets(sigs))
    a_sh = cands.join(sh.withColumnRenamed("id", "id_a"), "id_a")
    inter = (
        a_sh.join(sh.withColumnRenamed("id", "id_b"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca = counts.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a")
    cb = counts.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b")
    out = (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("n_inter").cast("double") / F.col("n_a").cast("double")).alias(
                "cont_a_in_b"
            ),
            (F.col("n_inter").cast("double") / F.col("n_b").cast("double")).alias(
                "cont_b_in_a"
            ),
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    return out.filter(
        (F.col("cont_a_in_b") >= thresh) | (F.col("cont_b_in_a") >= thresh)
    )


def intra_doc_dedup(df: DataFrame, block: int = 8,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Intra-document dedup (the RefinedWeb/Gopher line-dedup rule,
    adapted to delimiter-less text): split each document into consecutive
    ``block``-token blocks, KEEP the first occurrence of every distinct
    block, drop repeats, and re-emit the cleaned text plus the kept/total
    ratio inputs. Output (doc_id, n_blocks, n_kept, text_dedup).

    Cross-doc near-dup is the LSH family's job; this is the REWRITING
    intra-doc pass that strips boilerplate a document repeats internally
    (nav bars, quoted loops in agent transcripts) before token budgeting.

    Plan at scale: block explosion is corpus-linear; the keep-first cut
    is a window PARTITIONED by (doc_id, block) — never unpartitioned —
    and the reassembly is one doc-keyed agg whose collect_list holds one
    document's blocks (bounded by doc length, the same per-doc state
    every assembly op carries). Empty docs are dropped (no blocks).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        tokens_col(F.col(text_col)).alias("arr"),
    ).filter(F.size("arr") >= 1)
    blocks = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(arr) / {block}.0) AS INT)"
                f" - 1), i -> concat_ws(' ', slice(arr, i * {block} + 1,"
                f" {block})))"
            )
        ).alias("pos", "blk"),
    )
    w = Window.partitionBy("doc_id", "blk").orderBy("pos")
    marked = blocks.withColumn("_rn", F.row_number().over(w))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_rn") == 1, F.struct("pos", "blk")
                    )
                )
            ).alias("_ks"),
        )
        .select(
            "doc_id",
            "n_blocks",
            "n_kept",
            F.concat_ws(
                " ", F.expr("transform(_ks, x -> x.blk)")
            ).alias("text_dedup"),
        )
    )


def minhash_error_hist(chunks: DataFrame, thresh: float = 0.25) -> DataFrame:
    """MinHash estimator-quality report: for every VERIFIED near-dup
    pair, compare the signature-agreement estimate (matching components
    / N_HASHES — the unbiased Jaccard estimator LSH banding is built
    on) against the exact shingle Jaccard, and histogram the absolute
    error in tenths: ``(err_bin, n_pairs)``. A fat tail here means the
    band/row configuration is mistuned for the corpus' similarity
    profile (the ~1/sqrt(k) standard error is the expected width) —
    the self-calibration check a dedup rollout runs once per corpus
    family.

    Scale: everything upstream is the pinned LSH chain; the estimate
    adds ONE join of the (id, 32-longs) signature frame onto the
    verified pairs (bounded output) and a row-local equality fold.
    """
    sigs, ver = _minhash_chain(chunks, thresh)
    sa = sigs.select(
        F.col("id").alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"_a{i}") for i in range(N_HASHES)],
    )
    sb = sigs.select(
        F.col("id").alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"_b{i}") for i in range(N_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    est = matches.cast("double") / F.lit(float(N_HASHES))
    err = F.abs(est - F.col("jaccard"))
    b = F.least(
        F.floor(err * 10).cast("bigint"), F.lit(9).cast("bigint")
    )
    return (
        ver.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(b.alias("err_bin"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def simhash_hamming_hist(
    chunks: DataFrame, bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash threshold-calibration report: the Hamming-distance
    histogram over ALL banded candidate pairs (no max_hamming cut) —
    ``(hamming, n_pairs)``. The valley between the near-dup mode and
    the random-collision mode IS the right ``max_hamming`` for the
    corpus; a missing valley means 32 bits under-resolve it.

    Scale: identical chain to near_dups_simhash (banded self-join,
    pinned signatures); the histogram is one map-side-combinable agg
    over the 0..bits domain.
    """
    pairs = near_dups_simhash(chunks, max_hamming=bits, bits=bits)
    return pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
